"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_flagship --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

One run: make the seeded inputs (timed as ``gen_s``, outside everything
else), set up (session start, checked warm pass) ``setups`` times, then run
timed passes for ``--seconds``.  With ``--trace 0`` the result carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics,
read from Spark's status stores around traced passes, and the tracing
overhead.  The last stdout line is the result object; the line before it
holds the raw samples and the machine stamp.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import engine, inputs  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    QUERY_MIX, WORKLOADS, geomean, layer_key, parse_s_per_file,
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "query_geomean_s": "s",
}

_ENGINE = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "input_bytes": "B", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "executor_run_ms": "ms", "executor_cpu_ms": "ms",
    "gc_ms": "ms", "task_skew": "ratio", "driver_gap_ms": "ms",
}
_BOUNDARY = {
    "bytes_to_python": "B", "bytes_from_python": "B", "batches_from_python": "count",
    "worker_run_ms": "ms", "worker_start_ms": "ms",
}
_LADDER = ("points", "cell_index", "probe", "bilinear", "temporal", "tile_id", "rollup")

PER_LAYER = {
    **{f"engine.{k}": u for k, u in _ENGINE.items()},
    **{f"boundary.{k}": u for k, u in _BOUNDARY.items()},
    **{f"spatial.{k}_s": "s" for k in _LADDER},
    "spatial.build_cells_s": "s",
    "spatial.broadcast_bytes": "B",
    "ionex_io.parse_s_per_file": "s",
    "codec.decode_ms_per_image": "ms",
    **{f"{layer_key(op)}.{k}": u for op in QUERY_MIX
       for k, u in (("s", "s"), ("jobs", "count"),
                    ("shuffle_write_bytes", "B"), ("driver_gap_ms", "ms"))},
    "ionex_source.task_skew": "ratio",
    "multimodal.rollup_branch_s": "s",
    "multimodal.verify_branch_s": "s",
    "multimodal.audit_files": "count",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def stamp(spark=None) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    out = {
        "nproc": engine.nproc(),
        "mem_total_mb": engine.mem_total_mb(),
        "driver_memory_mb": engine.driver_memory_mb(),
        "python": platform.python_version(),
        "git_sha": sha,
    }
    if spark is not None:
        out["spark"] = spark.version
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return out


def decode_ms_per_image(seed: int, n: int = 200) -> float:
    """Driver-local codec.decode_image over ``n`` generated payloads."""
    from ionex_spark.core import synth
    from ionex_spark.core.codec import decode_image

    rows = [synth.image_row(seed * 1000 + i) for i in range(n)]
    t0 = time.perf_counter()
    for r in rows:
        decode_image(r["bytes"], r["fmt"])
    return (time.perf_counter() - t0) * 1000 / n


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    wl = WORKLOADS[workload](size, seed)
    load_before = os.getloadavg()
    wl.make_inputs()
    peak = engine.PeakRss()
    spark = None
    try:
        attempted, errors, setups, warm_ops = 0, [], [], []
        for _ in range(wl.setups):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = engine.build_session("perfbench")
            peak.watch(spark)
            p, check_s = wl.warm(spark)
            setups.append(time.perf_counter() - t0 - check_s)
            attempted += p["ops"]
            errors += p["errors"]
            warm_ops.append(p["ops_s"])

        passes = []

        def one_pass(groups=None):
            nonlocal attempted
            try:
                p = wl.run_pass(spark, groups)
            except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
                p = {"pass_s": float("nan"), "ops": 1, "ops_s": {},
                     "errors": [f"pass: {type(e).__name__}: {e}"]}
            attempted += p["ops"]
            errors.extend(p["errors"])
            passes.append(p)
            return p

        layers = {}
        if not trace:
            t0 = time.perf_counter()
            while True:
                one_pass()
                if time.perf_counter() - t0 >= seconds:
                    break
        else:
            layers = trace_layers(wl, spark, one_pass, seed)

        peak_mb = peak.stop()
        detail = {
            "workload": workload, "seed": seed, "size": size, "trace": trace,
            "gen_s": wl.gen_s, "setup_samples_s": setups,
            "pass_samples_s": [p["pass_s"] for p in passes],
            "peak_rss_mb": peak_mb,
            "op_samples_s": [p["ops_s"] for p in passes],
            "warm_op_s": warm_ops,
            "errors": errors[:20],
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            **stamp(spark),
        }
    finally:
        if spark is not None:
            engine.shutdown(spark)
    if trace:
        layers["memory.peak_rss_mb"] = peak_mb
        metrics = {k: layers[k] for k in PER_LAYER}
    else:
        ok = [p for p in passes if p["pass_s"] == p["pass_s"]]  # drop NaN
        pass_s = statistics.median(p["pass_s"] for p in ok)
        op_names = ok[0]["ops_s"].keys()
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_s": pass_s,
            "rows_per_s": wl.input_rows() / pass_s,
            "query_geomean_s": geomean([
                statistics.median(p["ops_s"][k] for p in ok if k in p["ops_s"])
                for k in op_names]),
        }
    units = PER_LAYER if trace else END_TO_END
    detail["error_rate"] = len(errors) / attempted
    return {
        "detail": detail,
        "result": {
            "correct": not errors,
            "attempted": attempted,
            "failed": min(len(errors), attempted),
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        },
    }


def trace_layers(wl, spark, one_pass, seed: int) -> dict:
    """One untraced pass, then one pass with each operation under its own
    job group, then the workload's own layer probes and the driver-local
    floors.  Layers a workload does not exercise report 0."""
    plain = one_pass()["pass_s"]
    groups = []
    t0 = time.perf_counter()
    one_pass(groups=groups)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({f"engine.{k}": v for k, v in engine.engine_stats(groups).items()
                if k in _ENGINE})
    out.update({f"boundary.{k}": v for k, v in engine.boundary_stats(
        engine.sql_node_metrics(spark, [j for g in groups for j in g.job_ids()])
    ).items()})
    traced = time.perf_counter() - t0
    out.update(wl.trace(spark, groups))
    ionex_dir, _ = inputs.ensure_ionex(1, seed)
    out["ionex_io.parse_s_per_file"] = parse_s_per_file(
        os.path.join(ionex_dir, "CKMG0000.22I.gz"))
    out["codec.decode_ms_per_image"] = decode_ms_per_image(seed)
    out["trace.overhead_s"] = traced - plain
    return out


def git_status() -> str | None:
    """``git status --porcelain`` of the checkout, None outside a git repo."""
    try:
        p = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                           capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return None
    return p.stdout if p.returncode == 0 else None


def smoke() -> int:
    """Every workload at tiny sizes, untraced and traced, each in its own
    process as the benchmark is normally run; asserts every metric named in
    BENCHMARK.json is present with its unit, and that the runs left the
    git status of the checkout as it was (nothing tracked rewritten,
    nothing untracked left behind)."""
    status = git_status()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert want[0] == END_TO_END and want[1] == PER_LAYER, "BENCHMARK.json drifted"
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for name in WORKLOADS:
        for tr in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", "1", "--seconds", "1", "--trace", str(tr),
                 "--size", "smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            assert proc.returncode == 0, proc.stderr[-3000:]
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[tr], (name, tr, got)
            assert res["correct"] and res["failed"] == 0, (name, tr, proc.stdout[-3000:])
            print(f"smoke ok: {name} trace={tr}", flush=True)
    assert git_status() == status, "a run changed the git status of the checkout"
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny sizes and check the metrics")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "ionex_spark")):
        sys.exit(f"perfbench: no ionex_spark package under {ROOT}")
    # every process the run starts, and every process those start, is
    # waited for before the result is printed, on every way out
    engine.become_subreaper()
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    finally:
        engine.reap_children()
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
