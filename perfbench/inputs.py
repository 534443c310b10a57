"""Seeded benchmark inputs, generated outside the timed region and cached.

Every input lives under ``.perfbench_cache/`` at the root of the checkout,
in a directory keyed by workload, size, seed (where the input depends on
it) and a hash of the generator sources, so a change to a generator
invalidates its cache and nothing else does.  Each ``ensure_*`` returns
``(path, gen_s)``: ``gen_s`` is 0.0 when the cache was already filled.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# generator sources whose change must invalidate cached inputs
_GEN_SOURCES = (
    "perfbench/inputs.py",
    "ionex_spark/core/synth.py",
    "ionex_spark/core/codec.py",
    "ionex_spark/core/ionex_io.py",
    "ionex_spark/sources/images.py",
    "ionex_spark/functions/sqlgen.py",
)


def _gen_hash() -> str:
    h = hashlib.sha1()
    for rel in _GEN_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _cached(key: str, build) -> tuple[str, float]:
    """Run ``build(tmp_dir)`` once per key; a ``_DONE`` marker makes a
    half-written directory (an interrupted run) count as missing."""
    path = os.path.join(CACHE, f"{key}-{_gen_hash()}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, 0.0
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    build(path)
    gen_s = time.perf_counter() - t0
    open(os.path.join(path, "_DONE"), "w").close()
    return path, gen_s


# ------------------------------------------------------------- IONEX files

IONEX_EPOCHS = 25  # one day at 1 h sampling, the reference file shape


def ionex_dense(seed: int, f: int) -> np.ndarray:
    """Quantized (epochs, 71, 73) TEC grid of file ``f``: the smooth
    field offset by file index and seed, kept below the 9999 sentinel."""
    from ionex_spark.core import synth

    slot, lat_i, lon_i, _, _, tecu_q = synth.tec_points_arrays(
        IONEX_EPOCHS, "smooth"
    )
    dense = np.empty((IONEX_EPOCHS, synth.GRID_NLAT, synth.GRID_NLON), np.int64)
    dense[slot, synth.GRID_NLAT - 1 - lat_i, lon_i] = tecu_q
    return (dense + f + 7 * seed) % 9998


def write_ionex_day(path: str, seed: int, f: int) -> None:
    from ionex_spark.core import synth
    from ionex_spark.core.ionex_io import IonexHeader, write_ionex_file
    from ionex_spark.core.linspace import ckmg_grid

    epochs = (
        synth.EPOCH0 + np.arange(IONEX_EPOCHS) * np.timedelta64(3600, "s")
    ).astype("datetime64[s]")
    hdr = IonexHeader(
        grid=ckmg_grid(),
        interval_s=synth.SAMPLING_S,
        epoch_first=synth.EPOCH0,
        epoch_last=epochs[-1],
        number_of_maps=IONEX_EPOCHS,
        exponent=synth.FILE_EXP,
        comments=[f"perfbench ingest file {f} seed {seed}"],
    )
    write_ionex_file(path, hdr, epochs, ionex_dense(seed, f))


def ensure_ionex(n_files: int, seed: int) -> tuple[str, float]:
    def build(d):
        # about 0.2 s a file: written in this process, so no worker
        # process can outlive the run
        for f in range(n_files):
            write_ionex_day(os.path.join(d, f"CKMG{f:03d}0.22I.gz"), seed, f)

    return _cached(f"ionex-{n_files}x{IONEX_EPOCHS}-s{seed}", build)


def ionex_expected(n_files: int, seed: int) -> tuple[int, int]:
    """(row count, sum of tecu_q) of the corpus, from the numpy grids."""
    rows = total = 0
    for f in range(n_files):
        g = ionex_dense(seed, f)
        rows += g.size
        total += int(g.sum())
    return rows, total


# ------------------------------------------------------------ images table

def _write_images(n: int, path: str) -> None:
    from ionex_spark.sources.images import write_images
    from perfbench import engine

    spark = engine.build_session("perfbench-inputs")
    try:
        # 300 id-range shards, the layout a 1% file-aligned audit is built
        # for (3 files), whatever the row count
        write_images(spark, n, path, partitions=300)
    finally:
        engine.shutdown(spark)


def ensure_images(n: int) -> tuple[str, float]:
    """The payload table, written by the program's own generator.  It does
    not depend on the seed: the seed picks the audit files instead."""

    def build(d):
        # a child process with its own JVM writes it, so the benchmark's
        # JVM always starts inside set-up, cache or no cache
        subprocess.run(
            [sys.executable, "-c",
             "import sys; from perfbench.inputs import _write_images; "
             "_write_images(int(sys.argv[1]), sys.argv[2])",
             str(n), os.path.join(d, "images")],
            cwd=ROOT, check=True, timeout=600,
        )

    path, gen_s = _cached(f"images-{n}", build)
    return os.path.join(path, "images"), gen_s


# ------------------------------------------------------ query_mix tables

_VOCAB = (
    "a the data row column table key value query join group agg sort "
    "hash scan filter window stream batch merge part line order customer "
    "spark vector big small fast slow"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _documents(rng: np.random.Generator, n: int):
    import pyarrow as pa

    lens = rng.integers(10, 101, n)
    words = np.asarray(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # planted duplicates so the dedup families have groups to find: ~2%
    # exact copies and ~2% copies with one token replaced
    for i in rng.choice(n, max(2, n // 50), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, max(2, n // 50), replace=False):
        toks = texts[int(rng.integers(0, n))].split()
        toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(toks)
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng: np.random.Generator, n: int):
    import pyarrow as pa

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def ensure_tables(sf: float) -> tuple[str, float]:
    """``documents`` and ``events`` in the test-table shape (one parquet
    file, one row group each) at scale factor ``sf``: the only tables the
    ``query_mix`` queries read."""
    import pyarrow.parquet as pq

    def build(d):
        rng = np.random.default_rng(20240101)
        n_docs = max(500, int(50_000 * sf))
        n_events = max(1000, int(1_000_000 * sf))
        for name, tbl in (("documents", _documents(rng, n_docs)),
                          ("events", _events(rng, n_events))):
            pq.write_table(tbl, os.path.join(d, f"{name}.parquet"),
                           row_group_size=len(tbl))

    return _cached(f"tables-sf{sf}", build)


# ------------------------------------------- tile_flagship expected rollup

def flagship_expected(n: int, offset: int) -> tuple[dict, float]:
    """Per-tile (n, sum, min, max) of the flagship rollup, recomputed in
    numpy from the formulas the sqlgen fragments spell out (double corners,
    not the float32 corners the pipeline probes).  Independent of the
    program's Spark plan; cached per (n, offset) as a small npz file."""

    def build(d):
        from concurrent.futures import ThreadPoolExecutor

        import pandas as pd

        def chunk(lo):
            tile, tec = _flagship_chunk(lo, min(lo + 1_000_000, offset + n))
            return pd.DataFrame({"tile_id": tile, "tec": tec}).groupby(
                "tile_id")["tec"].agg(["count", "sum", "min", "max"])

        # numpy releases the GIL inside ufuncs, so chunks run in parallel
        with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
            parts = pd.concat(pool.map(chunk, range(offset, offset + n, 1_000_000)))
        g = parts.groupby(level=0).agg(
            {"count": "sum", "sum": "sum", "min": "min", "max": "max"})
        np.savez(
            os.path.join(d, "rollup.npz"), tile_id=g.index.to_numpy(),
            n=g["count"].to_numpy(), sum_tec=g["sum"].to_numpy(),
            min_tec=g["min"].to_numpy(), max_tec=g["max"].to_numpy(),
        )

    path, gen_s = _cached(f"flagship-{n}-o{offset}", build)
    z = np.load(os.path.join(path, "rollup.npz"))
    exp = {
        int(t): (int(c), float(s), float(lo), float(hi))
        for t, c, s, lo, hi in zip(
            z["tile_id"], z["n"], z["sum_tec"], z["min_tec"], z["max_tec"]
        )
    }
    return exp, gen_s


def _flagship_chunk(lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """(res-6 tile id, temporally interpolated TEC) of point ids [lo, hi):
    sqlgen's lat/lon/tsec-from-id, cell index, bracket, corner field,
    bilinear kernel and cell id, restated in numpy."""
    ids = np.arange(lo, hi, dtype=np.int64)
    lat = -87.5 + ((ids * 7919) % 1751) / 10.0
    lon = -180.0 + ((ids * 104729) % 3600) / 10.0
    tsec = ((ids * 48271) % 86400).astype(np.float64)
    lat_i = np.clip(np.floor((lat + 87.5) / 2.5), 0, 69).astype(np.int64)
    lon_i = np.clip(np.floor((lon + 180.0) / 5.0), 0, 71).astype(np.int64)
    slot0 = np.minimum(np.floor(tsec / 3600.0), 23).astype(np.int64)
    w1 = (tsec - slot0 * 3600.0) / 3600.0
    p = (lat - (-87.5 + lat_i * 2.5)) / 2.5
    q = (lon - (-180.0 + lon_i * 5.0)) / 5.0

    def corner(la, lo_, s):
        return ((la * 31 + lo_ * 17 + s * 13) % 500 + 10) / 10.0

    def bil(s):
        return (
            (1.0 - p) * (1.0 - q) * corner(lat_i, lon_i, s)
            + p * (1.0 - q) * corner(lat_i, lon_i + 1, s)
            + q * (1.0 - p) * corner(lat_i + 1, lon_i, s)
            + p * q * corner(lat_i + 1, lon_i + 1, s)
        )

    tec = (1.0 - w1) * bil(slot0) + w1 * bil(slot0 + 1)
    keep = (w1 >= 0.0) & (w1 <= 1.0)
    edge = 180.0 / 64
    lon_n = lon - 360.0 * np.floor((lon + 180.0) / 360.0)
    lat_t = np.clip(np.floor((lat + 90.0) / edge), 0, 63).astype(np.int64)
    lon_t = np.clip(np.floor((lon_n + 180.0) / edge), 0, 127).astype(np.int64)
    tile = 6 * (1 << 58) + lat_t * (1 << 29) + lon_t
    return tile[keep], tec[keep]
