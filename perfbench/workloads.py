"""The benchmark's workloads, driven through the program's public API.

Each workload has one seeded input set, a warm pass whose outputs are
compared with an independent expectation, and timed passes that run the
same plans and collect the same small results.  ``trace`` runs the
per-layer probes of the layers the workload exercises; every probe times
calls into the program from here and reads Spark's status stores, so the
program is not changed.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from perfbench import engine, inputs
from perfbench.engine import JobGroup, noop

SIZES = {
    "full": {"points": 16_000_000, "images": 8_000, "ionex_files": 8,
             "sf": 0.01},
    "smoke": {"points": 100_000, "images": 3_000, "ionex_files": 2,
              "sf": 0.001},
}

# the reference's interpolation accuracy budget, TECu per point
TEC_TOL = 1e-5


class Workload:
    name = ""
    setups = 3  # set-ups per run; setup_s is their median

    def __init__(self, size: str, seed: int):
        self.size = SIZES[size]
        self.seed = seed
        self.gen_s = 0.0

    def make_inputs(self) -> None:
        """Make or find the cached inputs, before the benchmark's JVM starts."""

    def warm(self, spark) -> tuple[dict, float]:
        """The first pass, checked: (the pass as ``run_pass`` returns it,
        seconds spent checking outside Spark, which set-up time excludes)."""
        raise NotImplementedError

    def run_pass(self, spark, groups=None) -> dict:
        """One timed pass: {"pass_s", "ops", "errors", "ops_s"}.  With a
        ``groups`` list, each operation runs under its own job group,
        appended to it (``engine.op_group``)."""
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def trace(self, spark, groups) -> dict:
        """Per-layer metrics of this workload's own layers; ``groups`` are
        the job groups of the traced pass."""
        return {}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ------------------------------------------------------------ flagship

def flagship_points(spark, n: int, offset: int):
    from ionex_spark.functions import sqlgen

    return spark.range(offset, offset + n, 1, engine.nproc() * 4).selectExpr(
        "id",
        f"{sqlgen.lat_from_id_sql('id')} as lat",
        f"{sqlgen.lon_from_id_sql('id')} as lon",
        f"{sqlgen.tsec_from_id_sql('id')} as tsec",
    )


def tile_rollup(df):
    from pyspark.sql import functions as F

    return df.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tec_t").alias("sum_tec"),
        F.min("tec_t").alias("min_tec"),
        F.max("tec_t").alias("max_tec"),
    )


class TileFlagship(Workload):
    """Generated points -> temporal_spatial_join (float corners) -> res-6
    tile id -> per-tile rollup -> noop: the north-star path, all JVM
    codegen plus the broadcast probe."""

    name = "tile_flagship"

    def __init__(self, size, seed):
        super().__init__(size, seed)
        self.n = self.size["points"]
        self.offset = (seed % 100_000) * self.n

    def make_inputs(self):
        self.expected, self.gen_s = inputs.flagship_expected(self.n, self.offset)

    def input_rows(self):
        return self.n

    def pipeline(self, spark):
        from pyspark.sql import functions as F

        from ionex_spark.functions import sqlgen
        from ionex_spark.operators import spatial

        cells = spatial.build_tec_cells(spark, corner_dtype="float")
        both = spatial.temporal_spatial_join(
            flagship_points(spark, self.n, self.offset), cells, out="tec_t")
        tiled = both.withColumn("tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6)))
        return tile_rollup(tiled)

    def check(self, rows) -> list[str]:
        errs = []
        if len(rows) != len(self.expected):
            errs.append(f"{len(rows)} tiles, expected {len(self.expected)}")
        for r in rows:
            e = self.expected.get(r.tile_id)
            if e is None or r.n != e[0]:
                errs.append(f"tile {r.tile_id}: n={r.n}, expected {e and e[0]}")
            elif (abs(r.sum_tec - e[1]) > TEC_TOL * r.n
                  or abs(r.min_tec - e[2]) > TEC_TOL
                  or abs(r.max_tec - e[3]) > TEC_TOL):
                errs.append(f"tile {r.tile_id}: tec off by more than {TEC_TOL}")
        return errs[:5]

    def run_pass(self, spark, groups=None):
        # the rollup has one row per res-6 tile (8192), so collecting it
        # costs little and lets every pass be checked
        t0 = time.perf_counter()
        with engine.op_group(spark, "pass", groups):
            rows = self.pipeline(spark).collect()
        s = time.perf_counter() - t0
        return {"pass_s": s, "ops": 1, "errors": self.check(rows), "ops_s": {"pass": s}}

    def warm(self, spark):
        return self.run_pass(spark), 0.0

    def trace(self, spark, groups):
        """The layer ladder: cumulative prefixes of the pipeline, each to
        the noop sink, twice; the marginal seconds of each step are the
        differences of the medians."""
        from pyspark.sql import functions as F

        from ionex_spark.functions import sqlgen
        from ionex_spark.operators import spatial

        def pts():
            return flagship_points(spark, self.n, self.offset)

        def cell_index():
            p = spatial.with_cell_index(pts()).withColumns({
                "slot0": F.expr(sqlgen.bracket_slot0_sql("tsec")),
                "w1": F.expr(sqlgen.bracket_w1_sql("tsec")),
            }).withColumn("ck0", F.expr(spatial.packed_key_expr("slot0")))
            return p.filter(F.expr(sqlgen.bracket_valid_sql("w1")))

        def pairs():
            return spatial.build_tec_cell_pairs(
                spatial.build_tec_cells(spark, corner_dtype="float"))

        def probe():
            return cell_index().join(F.broadcast(pairs()), "ck0", "inner").drop("ck0")

        def bilinear():
            p = sqlgen.frac_p_sql("lat", "lat_i")
            q = sqlgen.frac_q_sql("lon", "lon_i")
            return probe().withColumn("tec0", F.expr(
                sqlgen.bilinear_sql(p, q, "sw0", "se0", "nw0", "ne0")))

        def temporal():
            return spatial.temporal_spatial_join(
                pts(), spatial.build_tec_cells(spark, corner_dtype="float"),
                out="tec_t")

        def tile_id():
            return temporal().withColumn(
                "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6)))

        def rollup():
            return tile_rollup(tile_id())

        steps = [("points", pts), ("cell_index", cell_index), ("probe", probe),
                 ("bilinear", bilinear), ("temporal", temporal),
                 ("tile_id", tile_id), ("rollup", rollup)]
        times = {name: [] for name, _ in steps}
        build, bcast = [], 0.0
        for rep in range(2):
            for name, fn in steps:
                with JobGroup(spark, f"ladder-{name}-{rep}") as g:
                    noop(fn())
                times[name].append(g.seconds)
                if name == "temporal":
                    bcast = engine.broadcast_bytes(
                        engine.sql_node_metrics(spark, g.job_ids()))
            build.append(_timed(lambda: noop(pairs())))
        out, prev = {}, 0.0
        for name, _ in steps:
            med = statistics.median(times[name])
            out[f"spatial.{name}_s"] = med - prev
            prev = med
        out["spatial.build_cells_s"] = statistics.median(build)
        out["spatial.broadcast_bytes"] = bcast
        return out


# --------------------------------------------------------- image audit

def image_branches(spark, path: str, seed: int):
    """The images_e2e shape: metadata scan -> aligned spatial join ->
    per-tile rollup, plus a file-aligned 1% audit through verify_payloads
    whose files the seed picks.  Returns (per_tile, checks, audit)."""
    from pyspark.sql import functions as F

    from ionex_spark.functions import sqlgen
    from ionex_spark.operators import multimodal as mm
    from ionex_spark.operators import spatial

    cells = spatial.build_tec_cells(spark)
    lean = spark.read.parquet(path).drop("bytes", "caption")
    tiled = spatial.spatial_join_bilinear(lean, cells).withColumn(
        "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6)))
    per_tile = tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_images"), F.sum("tec").alias("sum_tec"))
    # a file-aligned sample lands in few scan tasks: spread it over every
    # core before the decode + PSNR work
    audit = mm.audit_sample_files(spark, path, 0.01, seed=seed)
    sample = spatial.spatial_join_bilinear(
        audit.repartition(engine.nproc() * 2), cells)
    checks = mm.verify_payloads(sample).agg(
        F.count(F.lit(1)).alias("audited"),
        F.sum(F.expr("case when payload_ok then 0 else 1 end")).alias("bad_payloads"),
        F.sum(F.expr("case when caption_ok then 0 else 1 end")).alias("bad_captions"),
    )
    return per_tile, checks, audit


def audit_errors(c) -> list[str]:
    if not c.audited or c.bad_payloads or c.bad_captions:
        return [f"image_audit: {c.audited} audited, {c.bad_payloads} bad "
                f"payloads, {c.bad_captions} bad captions"]
    return []


# -------------------------------------------------------- IONEX ingest

def parse_s_per_file(path: str) -> float:
    """Driver-local parse_ionex + grids_to_long on one file, median of 3:
    the compute floor under the ingest pass."""
    import gzip

    from ionex_spark.core.ionex_io import grids_to_long, parse_ionex

    with open(path, "rb") as fh:
        raw = fh.read()
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        header, epochs, tec, rms = parse_ionex(gzip.decompress(raw).decode("ascii"))
        grids_to_long(header, epochs, tec, rms)
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


# ------------------------------------------------------------ query mix

# Registry queries, plus two pipelines the registry cannot run here:
# ``ionex_ingest`` (read_ionex over a seeded day-file corpus; the registry's
# ingest query ionex_file_bilinear reads a fixed absolute path outside the
# checkout) and ``image_audit`` (the images_e2e shape over the payload table).
# One registry query per operator module (dedup: connected components and
# MinHash; knn; text; graph; sketch), each also reading through the
# read_split fan-out or the checkpointed solvers.  The other registry
# queries are left out to keep a full round of runs within its time
# budget: each costs a cold and a warm run in every query_mix run.
QUERIES = (
    "dedup_groups", "dedup_minhash_pairs", "knn_points",
    "boilerplate_ngram_stats", "domain_pagerank", "incremental_dedup_bloom",
)
QUERY_MIX = QUERIES + ("ionex_ingest", "image_audit")


def registry():
    """The query registry, read directly: importing the query modules
    registers every query.  ``__spark_entry__.queries()`` is not used
    because its ordering step may rewrite a tracked file."""
    from ionex_spark.plans import queries, queries_data, queries_ref  # noqa: F401

    return queries


def layer_key(op: str) -> str:
    """Per-layer metric prefix of a query_mix operation."""
    return {"ionex_ingest": "ionex_source", "image_audit": "multimodal"}.get(
        op, f"plans.{op}")


class QueryMix(Workload):
    """Every operation of QUERY_MIX, in an order the seed rotates, over
    seeded inputs: documents/events tables, a gzip IONEX day-file corpus
    and the image payload table.  Each pass collects every result, so the
    warm pass runs the same plans as the timed ones."""

    name = "query_mix"
    setups = 1  # one set-up is a full pass of every operation

    def __init__(self, size, seed):
        super().__init__(size, seed)
        k = seed % len(QUERY_MIX)
        self.order = QUERY_MIX[k:] + QUERY_MIX[:k]
        self.files = self.size["ionex_files"]
        self.n_images = self.size["images"]

    def make_inputs(self):
        import pyarrow.parquet as pq

        # the tables are fixed, like the repository's test tables: the seed
        # rotates the order and picks the IONEX values and audit files
        self.sf_dir, gen_tables = inputs.ensure_tables(self.size["sf"])
        self.ionex_dir, gen_ionex = inputs.ensure_ionex(self.files, self.seed)
        self.images, gen_images = inputs.ensure_images(self.n_images)
        self.gen_s = gen_tables + gen_ionex + gen_images
        self.ionex_expected = inputs.ionex_expected(self.files, self.seed)
        self.rows = self.ionex_expected[0] + self.n_images + sum(
            pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in ("documents", "events"))

    def input_rows(self):
        return self.rows

    def execute(self, spark, op):
        """Run one operation and collect its (small) result: the registry
        queries' rows, the ingest (rows, sum tecu_q), and the image audit's
        (images counted by the rollup, verdict row)."""
        if op == "image_audit":
            per_tile, checks, _ = image_branches(spark, self.images, self.seed)
            return (sum(r.n_images for r in per_tile.collect()), checks.first())
        if op == "ionex_ingest":
            from ionex_spark.sources.ionex_source import read_ionex

            return tuple(read_ionex(spark, self.ionex_dir + "/*.gz").selectExpr(
                "count(*)", "sum(tecu_q)").first())
        return registry().QUERIES[op](spark, self.sf_dir).toPandas()

    def check(self, op, res) -> list[str]:
        """Checks that need no oracle; the registry queries are compared
        with their DuckDB oracles in ``warm``."""
        if op == "image_audit":
            errs = audit_errors(res[1])
            if res[0] != self.n_images:
                errs.append(f"image_audit: rollup counts {res[0]} images, "
                            f"expected {self.n_images}")
            return errs
        if op == "ionex_ingest" and res != self.ionex_expected:
            return [f"ionex_ingest: (rows, sum tecu_q) = {res}, "
                    f"expected {self.ionex_expected}"]
        return []

    def run_pass(self, spark, groups=None):
        ops_s, results, errs = {}, {}, []
        for op in self.order:
            t0 = time.perf_counter()
            try:
                with engine.op_group(spark, op, groups):
                    results[op] = self.execute(spark, op)
                ops_s[op] = time.perf_counter() - t0
                errs += self.check(op, results[op])
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                errs.append(f"{op}: {type(e).__name__}: {e}")
        return {"pass_s": sum(ops_s.values()), "ops": len(self.order),
                "errors": errs, "ops_s": ops_s, "results": results}

    def warm(self, spark):
        import duckdb

        from tools.check_oracle import compare

        p = self.run_pass(spark)
        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in ("documents", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t)}.parquet'")
        for op, res in p["results"].items():
            if op in QUERIES:
                odf = con.execute(registry().ORACLES[op]).fetchdf()
                p["errors"] += [f"{op}: {e}" for e in compare(op, res, odf)[:2]]
        con.close()
        return p, time.perf_counter() - t0

    def trace(self, spark, groups):
        out = {}
        for g in groups:
            op = g.name
            st = engine.engine_stats([g])
            key = layer_key(op)
            out[f"{key}.s"] = g.seconds
            out[f"{key}.jobs"] = st["jobs"]
            out[f"{key}.shuffle_write_bytes"] = st["shuffle_write_bytes"]
            out[f"{key}.driver_gap_ms"] = st["driver_gap_ms"]
            if op == "ionex_ingest":
                out["ionex_source.task_skew"] = st["task_skew"]
        rollup_s, verify_s = [], []
        for _ in range(2):
            per_tile, checks, audit = image_branches(spark, self.images, self.seed)
            rollup_s.append(_timed(lambda: noop(per_tile)))
            verify_s.append(_timed(checks.first))
        out["multimodal.rollup_branch_s"] = statistics.median(rollup_s)
        out["multimodal.verify_branch_s"] = statistics.median(verify_s)
        out["multimodal.audit_files"] = len(audit.inputFiles())
        return out


WORKLOADS = {w.name: w for w in (TileFlagship, QueryMix)}


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
