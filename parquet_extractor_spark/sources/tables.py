"""Parquet table sources over the fixture star schema (TESTDATA.md).

Lazy ``spark.read.parquet`` scans (SURVEY.md §2.1 S1) — Catalyst gets
column pruning and predicate pushdown for free; nothing is materialized
until an action runs. At cluster scale the same call distributes file
splits across executors (``spark.sql.files.maxPartitionBytes`` governs
split size). Driver-side Python rows become a frame through
:func:`local_frame` only.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    stats = _scan_stats(path)
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark's reader
        # rejects. Read nanos as long (runtime-settable legacy conf),
        # then rebuild a micros timestamp column — lossless at the
        # granularities any query here uses.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path, stats)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
    else:
        df = _read_parquet(spark, path, stats)
    if stats is not None:
        # (bytes, file count) ride the Python object so ``spread`` can
        # estimate the scan's split count from Spark's file-packing
        # math instead of forcing a full physical plan (df.rdd costs
        # ~175 ms of duplicated planning per call — r12 measured).
        df._sg_scan_stats = stats[:2]
    return df


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """Driver-side rows as a JVM ``LocalRelation``: the one way this
    package turns Python values into a frame.

    ``spark.createDataFrame(<list>)`` plans a Python-RDD scan
    (``Scan ExistingRDD``): every execution starts a Python worker to
    unpickle the rows, a fixed ≈0.2–0.3 s per job on a 4-core host
    even for a 1-row constant. Handing Spark a ``pyarrow.Table`` typed
    by the Spark schema instead ships the rows once, at plan time, as
    Arrow batches; execution then stays in the JVM. ``rows`` are
    positional (tuples, lists or ``Row``s); ``schema`` is a
    ``StructType`` or a DDL string, and the frame's schema is exactly
    that of ``createDataFrame(rows, schema)``, as are its values
    (doubles bit for bit, NULLs, nested arrays/structs, maps).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


# Inferred parquet SCHEMAS keyed by (path, bytes, files, max mtime):
# metadata only, never row data — any rewrite of the files changes the
# fingerprint and re-infers. Skipping re-inference turns the ~124 ms
# spark.read.parquet footer walk into a ~32 ms schema-supplied read
# (r12 measured); a ~250-query bench sweep re-opens every table
# hundreds of times, so inference was pure repeated driver work.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _scan_stats(path: str) -> tuple[int, int, int] | None:
    """(total bytes, file count, max mtime_ns) of a local parquet file
    or directory; None for paths the local os.stat cannot see
    (object stores) — callers then fall back to uncached behavior.
    Recurses into subdirectories (partitioned layouts) so the
    fingerprint covers every data file — a top-level-only scan would
    return a constant (0, 1, 0) for partitioned tables and the schema
    cache would serve stale schemas across rewrites (r12 advice)."""
    try:
        if os.path.isdir(path):
            sizes, mtimes = [], [0]
            stack = [path]
            while stack:
                for e in os.scandir(stack.pop()):
                    if e.name.startswith(("_", ".")):
                        continue
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.is_file():
                        st = e.stat()
                        sizes.append(st.st_size)
                        mtimes.append(st.st_mtime_ns)
            return (sum(sizes), max(1, len(sizes)), max(mtimes))
        st = os.stat(path)
        return (st.st_size, 1, st.st_mtime_ns)
    except OSError:
        return None


_SCHEMA_CACHE_MAX = 256  # schemas only (small), but bound it anyway


def _read_parquet(spark, path: str, stats) -> DataFrame:
    if stats is None:
        return spark.read.parquet(path)
    key = (os.path.realpath(path), *stats)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        while len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:  # FIFO evict
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism.

    For CPU-heavy per-row pipelines (tokenize/shingle/hash) sitting on
    a skinny scan: a small parquet file arrives as 1 split, which
    serializes the expensive expressions on one core. The shuffle of
    the raw rows is cheap relative to the per-row compute it
    parallelizes. No-op cost consideration at real scale, where the
    scan already has many splits — keep the repartition anyway; AQE
    coalesces if partitions are already balanced.
    """
    if df.isStreaming:
        # .rdd is illegal on a streaming frame, and micro-batch
        # parallelism is the source's concern — pass through so batch
        # operator bodies (signature_frame etc.) compose onto streams.
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    stats = getattr(df, "_sg_scan_stats", None)
    if stats is not None:
        # Estimate the scan's split count the way Spark packs file
        # splits (bytes charged maxPartitionBytes per split, each file
        # charged openCostInBytes) instead of asking the planner: a
        # df.rdd probe runs the full analyze/optimize/plan pipeline —
        # ~175 ms of pure duplication per call (r12 measurement),
        # repeated at every bench run of every consumer. The estimate
        # only steers a performance decision; at cluster scale
        # (estimate ≥ parallelism) the repartition is skipped exactly
        # as before, so no shuffle of raw text is ever added.
        nbytes, nfiles = stats
        sc = df.sparkSession.sparkContext
        conf = df.sparkSession.conf
        maxp = _conf_bytes(conf, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
        opencost = _conf_bytes(conf, "spark.sql.files.openCostInBytes", 4 * 1024**2)
        # Mirror FilePartition.maxSplitBytes exactly, INCLUDING the
        # bytes-per-core term (r12 advice: without it the estimate is
        # a strict lower bound — a mid-size scan, e.g. 1 GB at 32-way
        # parallelism, really arrives as ~32 splits because Spark
        # shrinks the split size to totalBytes/minPartitionNum, and
        # the old ceil(total/128MB)=9 wrongly added a full repartition
        # shuffle of raw rows that the planner probe never did).
        minpn = _conf_int(
            conf, "spark.sql.files.minPartitionNum", sc.defaultParallelism
        )
        total = nbytes + nfiles * opencost
        max_split = min(maxp, max(opencost, total // max(1, minpn)))
        est = max(1, -(-total // max(1, max_split)))
        if est >= n:
            return df
        return df.repartition(n)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


_BYTE_SUFFIX = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _conf_bytes(conf, key: str, default: int) -> int:
    """Parse a Spark byte-valued conf ("128m", "128mb", "134217728b",
    plain digits) to bytes; fall back to ``default`` on any surprise.
    Spark's canonical two-letter forms ("256mb", "1gb") are accepted
    by stripping the trailing 'b' (r12 advice: they used to fall back
    silently to the hardcoded default)."""
    try:
        raw = str(conf.get(key)).strip().lower()
        if len(raw) > 2 and raw[-1] == "b" and raw[-2] in "kmgt":
            raw = raw[:-1]
        if raw and raw[-1] in _BYTE_SUFFIX:
            return int(float(raw[:-1]) * _BYTE_SUFFIX[raw[-1]])
        return int(raw)
    except Exception:
        return default


def _conf_int(conf, key: str, default: int) -> int:
    try:
        v = conf.get(key)
        return default if v is None else int(v)
    except Exception:
        return default


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
