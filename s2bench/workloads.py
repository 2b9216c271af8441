"""The workloads: seeded inputs, one timed pass, its check, and the
per-layer metrics of a traced pass.

Each workload drives the engine only through its public entry points.
Sizes are fixed per workload in SIZES; the self-check mode runs the
same code on TINY inputs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracle
import tracing as T
from s2geometry_spark import kernels as K
from s2geometry_spark.io.table_io import ParquetTableIO
from s2geometry_spark.jobs.geocode_job import N_BATCHES, run_geocode_job
from s2geometry_spark.operators import pip_join as pip_mod
from s2geometry_spark.operators import tiles as tiles_mod
from s2geometry_spark.sources.pages import (documents_to_pages, geocode_pages,
                                            load_documents)

# Task slots: get_spark(cores=CORES) starts local[CORES]. Each task keeps
# its JVM thread and one Python worker per ArrowEvalPython node busy at
# once, so one slot already occupies two to three of the reference host's
# 4 vCPUs. On that host, local[1] with 4 input partitions against local[4]
# with 8 took a pip_flagship pass from ~3.7 s to ~2.9 s and 12 to 7 CPU-s;
# local[1] against local[4] took a tile_ingest pass from 10.5-15 s to
# 8-11 s and 35-54 to 16-21 CPU-s. The extra slots only contended.
CORES = 1
# Rows per timed pass, input and shuffle partitions, the fewest timed
# passes, the pass time on the reference host (see timed_passes), the
# untimed warm-up passes over the same input, and each workload's own shape
# parameters.
# - pip_flagship's pass is mostly per-task cost: with one slot, 4 input
#   partitions ran a pass in ~3.0 s and 7 CPU-s, 8 partitions in ~4.7 s and
#   10 CPU-s.
# - The first warm-up pass is cold: Python workers start and the JVM
#   compiles. pip_flagship's first warm pass takes ~12 s, its second ~3 s,
#   and the passes after that stay level.
# - tile_ingest's cold pass takes ~15-20 s. Its first timed pass still runs
#   ~10-20% slower than the next ones; a second warm-up pass would cost
#   ~10 s of every run, which the time for repeated runs does not allow.
SIZES = {
    "pip_flagship": dict(rows=2_000_000, parts=4, shuffle=4, min_passes=3,
                         pass_s=3.0, warm_passes=2, level=4),
    "tile_ingest": dict(rows=100_000, parts=4, shuffle=4, min_passes=3,
                        pass_s=10.0, warm_passes=1, text_chars=200),
}
TINY = {
    "pip_flagship": dict(SIZES["pip_flagship"], rows=50_000, warm_passes=1),
    "tile_ingest": dict(SIZES["tile_ingest"], rows=5_000, warm_passes=1),
}
TILES_L4 = 6 * 4 ** 4
# tile_ingest's corpus is regional: every document's point lies in this
# lat/lng box (degrees). It holds 1/24 of all hashed points (A36 is uniform
# in degrees) and 1/16 of the sphere, so ~100 of the 1,536 level-4 tiles
# receive rows.
REGION_BOX = (0.0, 30.0, 0.0, 90.0)
POINT_SHARE = 1 / 24
TILE_SHARE = 1 / 16


def timed_passes(size: dict, seconds: float) -> int:
    """How many passes a run times: as many as take `seconds` at the
    workload's pass time on the reference host, and at least min_passes.
    The count does not depend on how fast the host is, so every run does
    the same work and takes its median at the same point of the JVM's
    warm-up."""
    return max(size["min_passes"], round(seconds / size["pass_s"]))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def instrument(tracer) -> None:
    """Traced runs only: record the engine's internal calls into the
    coverer and the hot-tile histogram as spans, by wrapping the module
    attributes the engine looks them up through."""
    pip_mod.coverings_df = tracer.wrap("coverer.coverings_df",
                                       pip_mod.coverings_df)
    tiles_mod.hot_tiles = tracer.wrap("operators.tiles.hot_tiles",
                                      tiles_mod.hot_tiles)


def a36_latlng(h):
    """(lat, lng) degree columns from a hash column, by the documented A36
    formula, written here with Spark built-ins."""
    lo = h.bitwiseAND(F.lit(oracle.MASK32))
    lat = ((h - lo) / F.lit(4294967296) + F.lit(2147483648)) / F.lit(4294967296) \
        * F.lit(180.0) - F.lit(90.0)
    return lat, lo / F.lit(4294967296) * F.lit(360.0) - F.lit(180.0)


def _timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


class Workload:
    """A workload: stage() its inputs, run_pass() once per timed pass,
    expected() once after the timed passes, check() each pass."""

    name = ""
    ambiguous = 0  # points the pip oracle left undecided

    def __init__(self, spark, seed: int, size: dict, scratch: str, tracer,
                 scalar):
        self.spark, self.seed, self.size = spark, seed, size
        self.scratch, self.tracer, self.scalar = scratch, tracer, scalar
        self.rows = size["rows"]

    def release(self, result) -> None:
        """Drop what a checked pass left on disk."""

    def describe(self, result) -> str:
        return ""

    # -- reference microbenches, traced run only ---------------------------

    def point_hashes(self) -> np.ndarray:
        """Spark's built-in xxhash64(url) of every input row."""
        pdf = self.url_frame().select(F.xxhash64("url").alias("h")).toPandas()
        return pdf["h"].to_numpy(np.int64)

    def kernel_rows_per_s(self, h: np.ndarray) -> float:
        """The numpy cell-id kernel alone, in this process, on the
        workload's points."""
        lat, lng = oracle.latlng_from_hash(h)
        times = []
        for _ in range(3):
            t = time.perf_counter()
            K.latlng_degrees_to_cell_id(lat, lng)
            times.append(time.perf_counter() - t)
        return len(h) / median(times)

    def hop_floor_rows_per_s(self) -> float:
        """An identity pandas UDF over the (lat, lng) columns the geocode
        hop receives, on the same partitions."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def identity_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
            return lat

        df = self.url_frame().select(
            identity_udf(*a36_latlng(F.xxhash64("url"))).alias("lat"))
        return self.rows / median([_timed_noop(df) for _ in range(3)])

    def geocode_s(self) -> float:
        """geocode_pages forced alone over the workload's input."""
        return median([_timed_noop(geocode_pages(self.pages_frame()))
                       for _ in range(3)])


# -- pip_flagship ----------------------------------------------------------------

class PipFlagship(Workload):
    """Hashed urls joined to the 8 demo regions by pip_join(strategy="equi").
    The sink is a per-region count and url checksum, which is what the
    oracle checks."""

    name = "pip_flagship"

    def __init__(self, *a, **kw):
        from s2geometry_spark.demo_regions import demo_regions

        super().__init__(*a, **kw)
        self.regions = demo_regions()
        self.shapes = oracle.demo_shapes(self.regions, self.scalar)

    def url_frame(self):
        return (self.spark.range(0, self.rows, 1, self.size["parts"])
                .select(F.concat(F.lit(f"https://s{self.seed}.bench.example/doc/"),
                                 F.col("id").cast("string")).alias("url")))

    pages_frame = url_frame

    def stage(self) -> None:
        """Nothing to stage: the urls are generated inside each pass's plan."""

    def run_pass(self):
        tr = self.tracer
        urls = self.url_frame()
        with tr.span("pass"):
            with tr.span("sources.pages.geocode_pages"):
                pages = geocode_pages(urls)
            with tr.span("operators.pip_join.pip_join"):
                joined = pip_mod.pip_join(pages, self.spark, self.regions,
                                          strategy="equi", level=self.size["level"])
            with tr.span("action"):
                out = (joined.groupBy("region_id")
                       .agg(F.count("*").alias("n"),
                            F.sum(F.xxhash64("url").bitwiseAND(F.lit(oracle.MASK32)))
                            .alias("lo"),
                            F.sum(F.shiftrightunsigned(F.xxhash64("url"), 32))
                            .alias("hi"))
                       .collect())
        return {r["region_id"]: (r["n"], r["lo"], r["hi"]) for r in out}

    def expected(self) -> dict:
        exp = oracle.expected_matches(self.shapes, self.point_hashes())
        self.ambiguous = sum(len(a) for _s, a in exp.values())
        return exp

    def check(self, result, expected) -> list[str]:
        return oracle.check_pip(result, expected)

    def corrupt(self, result):
        """The result with one matched url missing (self-check only)."""
        if not result:
            return {self.regions[0].region_id: (1, 0, 0)}
        rid = max(result, key=lambda r: result[r][0])
        n, lo, hi = result[rid]
        return {**result, rid: (n - 1, lo, hi)}

    def layer_metrics(self, info, since: int, result) -> dict:
        nodes, tr = info["nodes"], self.tracer
        cand = T.node_sum(nodes, "ArrowEvalPython", "number of output rows",
                          "contains_udf")
        matched = float(sum(v[0] for v in result.values()))
        sent = T.node_sum(nodes, "ArrowEvalPython", "data sent to Python workers",
                          "contains_udf")
        return {
            "coverer.coverings_s": tr.total_s("coverer.coverings_df", since),
            "coverer.covering_rows": T.node_sum(nodes, "BroadcastExchange",
                                                "number of output rows"),
            "operators.pip_join.plan_s": tr.total_s("operators.pip_join.pip_join",
                                                    since),
            "operators.pip_join.candidate_rows": cand,
            "operators.pip_join.matched_rows": matched,
            "operators.pip_join.match_ratio": matched / cand if cand else 0.0,
            "operators.pip_join.py_run_s": T.node_sum(
                nodes, "ArrowEvalPython", "time to run Python workers",
                "contains_udf"),
            "operators.pip_join.bytes_to_py_per_row": sent / cand if cand else 0.0,
            "operators.pip_join.python_eval_nodes": float(
                T.node_count(nodes, "ArrowEvalPython")),
            "operators.pip_join.broadcast_bytes": T.node_sum(
                nodes, "BroadcastExchange", "data size"),
        }


# -- tile_ingest -----------------------------------------------------------------

class TileIngest(Workload):
    """run_geocode_job over a seeded multi-file documents table, into a
    fresh ParquetTableIO root on each pass."""

    name = "tile_ingest"
    TABLE = "pages_tiled"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.docs = os.path.join(self.scratch, "docs")
        self.n_pass = 0

    def hot_threshold(self, rows: int) -> int:
        # Level-4 tiles differ in area, so about a third of the ~100 tiles
        # the corpus touches exceed 1.1x the mean and take the salted path.
        # More than ten hot tiles make the salt test an InSet, whose
        # generated code does not depend on which tiles are hot.
        return int(1.1 * rows / (TILES_L4 * TILE_SHARE))

    def stage(self) -> None:
        doc_id = region_doc_ids(self.spark, self.seed, self.rows)
        self.urls = write_documents(self.docs, self.seed, doc_id, self.size["parts"],
                                    self.size["text_chars"])

    def pages_frame(self):
        return documents_to_pages(load_documents(self.spark, self.docs))

    def url_frame(self):
        return self.pages_frame().select("url")

    def run_pass(self):
        tr = self.tracer
        root = os.path.join(self.scratch, "out", f"pass{self.n_pass}")
        self.n_pass += 1
        io = ParquetTableIO(root)
        if tr.enabled:
            io.append = tr.wrap("io.table_io.append", io.append)
        with tr.span("pass"):
            with tr.span("jobs.geocode_job.run_geocode_job"):
                res = run_geocode_job(self.spark, self.docs, io,
                                      hot_threshold=self.hot_threshold(self.rows))
        return {"root": root, "committed": res["committed"], "hot": len(res["hot_tiles"])}

    def describe(self, result) -> str:
        return f"({result['hot']} hot tiles)"

    def expected(self):
        return self.urls

    def check(self, result, expected) -> list[str]:
        errors = []
        if result["committed"] != list(range(N_BATCHES)):
            errors.append(f"committed batches {result['committed']}")
        return errors + oracle.check_tile_table(
            result["root"], self.TABLE, expected, N_BATCHES, self.scalar,
            sample_seed=self.seed)

    def corrupt(self, result):
        """The result with one committed data file removed (self-check only)."""
        for dirpath, _dirs, files in os.walk(os.path.join(result["root"], self.TABLE)):
            for f in files:
                if f.endswith(".parquet"):
                    os.remove(os.path.join(dirpath, f))
                    return result
        raise AssertionError("no data file to remove")

    def release(self, result) -> None:
        shutil.rmtree(result["root"], ignore_errors=True)

    def layer_metrics(self, info, since: int, result) -> dict:
        nodes, stages, tr = info["nodes"], info["stages"], self.tracer
        n_bytes = n_files = 0
        for dirpath, _dirs, files in os.walk(result["root"]):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        kernel_rows = T.node_sum(nodes, "ArrowEvalPython", "number of output rows",
                                 "cell_id_udf")
        return {
            "operators.tiles.hot_tiles_s": tr.total_s("operators.tiles.hot_tiles",
                                                      since),
            "operators.tiles.shuffle_write_bytes": T.stage_sum(stages,
                                                               "shuffleWriteBytes"),
            "operators.tiles.shuffle_read_bytes": T.stage_sum(stages,
                                                              "shuffleReadBytes"),
            "io.table_io.append_s": tr.total_s("io.table_io.append", since),
            "io.table_io.appends": float(tr.count("io.table_io.append", since)),
            "io.table_io.bytes_written": float(n_bytes),
            "io.table_io.files_written": float(n_files),
            "io.table_io.bytes_per_row": n_bytes / self.rows,
            "jobs.geocode_job.job_s": tr.total_s("jobs.geocode_job.run_geocode_job",
                                                 since),
            "jobs.geocode_job.batches_committed": float(len(result["committed"])),
            "jobs.geocode_job.kernel_passes": kernel_rows / self.rows,
        }


def _source(doc_id, seed: int):
    return (F.concat(F.lit("https://site"), (doc_id % 64).cast("string"),
                     F.lit(f".s{seed}.bench.example")))


_P1, _P2, _P3, _P4, _P5 = (np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, word):
    return _rotl(acc + word * _P2, 31) * _P1


def xxhash64_rows(b: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of each row of an (n, L) uint8 array, as Spark's built-in
    xxhash64 computes it for a string column (seed 42)."""
    n, length = b.shape

    def word(o: int, size: int = 8):
        return np.ascontiguousarray(b[:, o:o + size]).view(f"<u{size}")[:, 0] \
            .astype(np.uint64)

    with np.errstate(over="ignore"):
        off, s = 0, np.uint64(seed)
        if length >= 32:
            v = [s + _P1 + _P2, s + _P2, s, s - _P1]
            while off + 32 <= length:
                v = [_round(v[i], word(off + 8 * i)) for i in range(4)]
                off += 32
            h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for vi in v:
                h = (h ^ _round(np.uint64(0), vi)) * _P1 + _P4
        else:
            h = np.full(n, s + _P5, dtype=np.uint64)
        h = h + np.uint64(length)
        while off + 8 <= length:
            h = _rotl(h ^ _round(np.uint64(0), word(off)), 27) * _P1 + _P4
            off += 8
        if off + 4 <= length:
            h = _rotl(h ^ (word(off, 4) * _P1), 23) * _P2 + _P3
            off += 4
        while off < length:
            h = _rotl(h ^ (b[:, off].astype(np.uint64) * _P5), 11) * _P1
            off += 1
        h = (h ^ (h >> np.uint64(33))) * _P2
        h = (h ^ (h >> np.uint64(29))) * _P3
        return (h ^ (h >> np.uint64(32))).view(np.int64)


def _digits(x: np.ndarray, width: int) -> np.ndarray:
    """(n, width) ASCII digits of non-negative ints that all have `width`
    digits."""
    powers = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    return (x[:, None] // powers % 10 + ord("0")).astype(np.uint8)


def doc_url_hashes(seed: int, doc_id: np.ndarray) -> np.ndarray:
    """xxhash64 of each doc's url, https://site<doc_id % 64>.s<seed>.bench.example/<doc_id>,
    computed in numpy: rows that share a url length are hashed together."""
    site = doc_id % 64
    width_site = np.where(site < 10, 1, 2)
    width_doc = np.maximum(1, np.floor(np.log10(np.maximum(doc_id, 1))).astype(int) + 1)
    head = np.frombuffer(b"https://site", dtype=np.uint8)
    mid = np.frombuffer(f".s{seed}.bench.example/".encode(), dtype=np.uint8)
    out = np.empty(len(doc_id), dtype=np.int64)
    for ws in (1, 2):
        for wd in np.unique(width_doc):
            rows = np.flatnonzero((width_site == ws) & (width_doc == wd))
            if len(rows) == 0:
                continue
            k = len(rows)
            b = np.concatenate([np.broadcast_to(head, (k, len(head))),
                                _digits(site[rows], ws),
                                np.broadcast_to(mid, (k, len(mid))),
                                _digits(doc_id[rows], wd)], axis=1)
            out[rows] = xxhash64_rows(b)
    return out


def region_doc_ids(spark, seed: int, n: int) -> np.ndarray:
    """The first n doc ids whose url (source || '/' || doc_id), by xxhash64
    and the A36 formula, hashes into REGION_BOX. The scan runs in numpy; a
    sample of its hashes is compared with Spark's built-in xxhash64."""
    lat_lo, lat_hi, lng_lo, lng_hi = REGION_BOX
    scan = np.arange(int(1.2 * n / POINT_SHARE) + 1000, dtype=np.int64)
    h = doc_url_hashes(seed, scan)
    sample = np.random.default_rng(seed).choice(len(scan), 1000, replace=False)
    sdf = spark.createDataFrame(pd.DataFrame({"doc_id": scan[sample]}))
    url = F.concat_ws("/", _source(F.col("doc_id"), seed),
                      F.col("doc_id").cast("string"))
    spark_h = sdf.select(F.xxhash64(url).alias("h")).toPandas()["h"].to_numpy(np.int64)
    if not np.array_equal(spark_h, h[sample]):
        raise RuntimeError("numpy xxhash64 differs from Spark's built-in")
    lat, lng = oracle.latlng_from_hash(h)
    doc_id = scan[(lat >= lat_lo) & (lat <= lat_hi) & (lng >= lng_lo) & (lng <= lng_hi)]
    if len(doc_id) < n:
        raise RuntimeError(f"only {len(doc_id)} of {len(scan)} urls fall in {REGION_BOX}")
    return doc_id[:n]


def write_documents(path: str, seed: int, doc_id: np.ndarray, files: int,
                    text_chars: int) -> np.ndarray:
    """A documents table (doc_id, text, lang, source, n_chars) for the given
    doc ids, as `files` Parquet files under <path>/documents.parquet.
    Returns the urls the engine derives from it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(doc_id)
    rng = np.random.default_rng(seed)
    sites = np.array([f"https://site{k}.s{seed}.bench.example" for k in range(64)])
    source = sites[doc_id % 64]
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype="S1")
    text = alphabet[rng.integers(0, len(alphabet), size=(n, text_chars))]
    table = pa.table({
        "doc_id": doc_id,
        "text": pa.array(text.view(f"S{text_chars}").ravel()).cast(pa.string()),
        "lang": rng.choice(np.array(["en", "de", "fr", "es"]), n),
        "source": source,
        "n_chars": np.full(n, text_chars, dtype=np.int64),
    })
    out = os.path.join(path, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for k in range(files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(out, f"part-{k:05d}.parquet"))
    return np.char.add(np.char.add(source, "/"), doc_id.astype(str))


WORKLOADS = {w.name: w for w in (PipFlagship, TileIngest)}
