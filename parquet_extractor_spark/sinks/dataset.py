"""Bulk dataset sink: partitioned parquet for pipeline outputs.

The per-row markdown/PDF sinks mirror the reference's file-per-document
contract; this sink is the scale path a training pipeline actually
ships — columnar, partitioned, size-controlled output that the next
stage (or the next engine) scans efficiently.

Why each knob exists at 100 TB:
- ``partitionBy`` on a LOW-cardinality column (lang, source, date)
  gives coarse partition pruning to every downstream reader. Never
  partition by a high-cardinality key — millions of tiny directories
  kill both the writer and the namenode/listing.
- ``maxRecordsPerFile`` bounds file size without an extra shuffle —
  the writer rolls files as it streams. Target 128 MB-1 GB parquet
  files; thousands of kilobyte files make every future scan
  metadata-bound.
- ``sortWithinPartitions`` on a query key (doc_id) makes parquet
  row-group min/max statistics selective, enabling row-group skipping
  for point/range lookups — sorting within partitions costs no extra
  exchange when it follows the write repartition.
- an explicit ``repartition(n, partition_cols)`` before the write
  aligns task outputs with directory partitions: each task writes to
  one directory instead of every task writing to every directory
  (the classic small-files explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from parquet_extractor_spark.constants import MAX_ERRORS
from parquet_extractor_spark.sources.tables import local_frame


def write_dataset(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    output_tasks: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a partitioned parquet dataset.

    ``output_tasks`` controls writer parallelism per partition value;
    default leaves the incoming partitioning intact (AQE-coalesced).
    """
    out = df
    if partition_by and output_tasks:
        out = out.repartition(output_tasks, *partition_by)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode(mode).option(
        "maxRecordsPerFile", max_records_per_file
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)


def write_ingested(df: DataFrame, out_dir: str, name_col: str) -> dict:
    """Write an ingested ``(..., text, error)`` frame as parquet and
    count it during that same write: one Spark job, one parse of the
    input. The counts ride on the write through ``DataFrame.observe``
    rather than re-running the scan and parse once per ``count()``.

    Returns ``ok`` (rows without error), ``errors`` (error rows),
    ``with_text`` (rows with text) and ``error_rows``: the first
    ``MAX_ERRORS`` ``(name, error)`` rows in sorted order, so the
    preview does not depend on task order. Trade-off: the preview's
    aggregate holds every error row's pair (the readers cap an error
    at 200 chars) until the write ends, then keeps ``MAX_ERRORS``.
    """
    seen = Observation()
    err = F.col("error").isNotNull()
    pair = F.struct(F.col(name_col).alias("name"), F.col("error"))
    df.observe(
        seen,
        F.count_if(~err).alias("ok"),
        F.count_if(err).alias("errors"),
        F.count_if(F.col("text").isNotNull()).alias("with_text"),
        F.slice(
            F.sort_array(F.collect_list(F.when(err, pair))), 1, MAX_ERRORS
        ).alias("error_rows"),
    ).write.mode("overwrite").parquet(out_dir)
    return seen.get


def read_dataset(spark, out_dir: str) -> DataFrame:
    """Read a dataset written by write_dataset (partition columns are
    recovered from directory names)."""
    return spark.read.parquet(out_dir)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table bucketed (hash-partitioned on disk) by
    ``bucket_by``.

    This is the pay-once answer to repeated joins/aggregations on the
    same key: the write performs the hash partitioning, and every
    later equi-join or groupBy on the bucket key between two tables
    bucketed the same way runs WITHOUT a shuffle (no Exchange in the
    plan — asserted in tests). At 100 TB, bucketing the fact tables on
    their join keys turns the nightly join pipeline's biggest exchange
    into a metadata no-op. n_buckets should be sized so one bucket of
    the largest table fits an executor core's working memory.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def compact_dataset(
    spark,
    data_dir: str,
    target_file_mb: int = 256,
) -> dict:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~target_file_mb.

    Long-running append pipelines (foreachBatch sinks, incremental
    curation) accrete small files until every scan is metadata-bound;
    periodic compaction is the standard maintenance job. The rewrite
    goes to a sibling temp dir first and swaps in atomically-enough
    for a single-writer maintenance window (a real lakehouse table
    format does this transactionally — out of scope here).

    Returns {"files_before", "files_after", "rows"}.
    """
    import glob
    import os
    import shutil

    def _count_files(d: str) -> int:
        return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))

    df = spark.read.parquet(data_dir)
    rows = df.count()
    total_bytes = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    files_before = _count_files(data_dir)

    tmp = data_dir.rstrip("/") + ".compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)

    backup = data_dir.rstrip("/") + ".compact_old"
    os.rename(data_dir, backup)
    os.rename(tmp, data_dir)
    shutil.rmtree(backup)
    return {
        "files_before": files_before,
        "files_after": _count_files(data_dir),
        "rows": rows,
    }


def write_jsonl(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 100_000,
) -> None:
    """Write ``df`` as a JSON-Lines dataset — the interchange format
    LLM training loaders actually consume (one JSON object per line).

    Spark's native json writer IS jsonl (one object per line per
    file); everything stays JVM-side, distributed, and splittable.
    Trade-offs vs parquet, stated so callers choose deliberately:
    ~3-5x the bytes (no columnar encoding), no column pruning or
    row-group skipping for downstream Spark readers — use it at the
    pipeline BOUNDARY (export to a trainer), not between stages.
    gzip keeps the 3-5x in check but is NOT splittable: downstream
    parallelism is one reader task per file, so max_records_per_file
    is the lever that bounds per-task work — size it deliberately.
    """
    writer = (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", "gzip")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(out_dir)


def read_jsonl_dataset(spark, out_dir: str, schema=None) -> DataFrame:
    """Read a dataset written by write_jsonl (schema recommended:
    inference re-scans the data)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(out_dir)



# ── range clustering + file-pruning evidence ─────────────────────────


def write_range_clustered(
    df: DataFrame, out_dir: str, key: str, files: int
) -> None:
    """Range-cluster a dataset on ``key`` into ``files`` parquet files:
    ``repartitionByRange`` gives each output file a DISJOINT key range
    (Spark samples the key to build balanced range bounds), and the
    within-partition sort makes every row group's min/max stats tight.
    This is the layout decision that turns parquet min/max statistics
    into actual file- and row-group-level pruning for range/point
    queries — the single cheapest scan optimization a 100 TB table
    owner controls. (Multi-dimensional variants — Z-order/Hilbert —
    generalize the same idea to several keys; one key needs only a
    range partition.)"""
    (
        df.repartitionByRange(files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("error")
        .parquet(out_dir)
    )


def file_pruning_report(
    spark, dataset_dir: str, key: str, probes: list[tuple[int, int]]
) -> DataFrame:
    """Quantify what a layout is worth: from parquet FOOTERS alone
    (O(files), zero data pages — the parquet_footer_stats pattern),
    compute for each closed probe range [lo, hi] how many files a
    min/max-pruning reader must open. ``scan_fraction_micro`` is the
    fraction of files hit — on a range-clustered layout it approaches
    probe_selectivity, on an unsorted layout it pins at 1.0 because
    every file's (min, max) spans the whole domain. The footer walk
    runs executor-side (mapInPandas over the file list).

    Output per probe: (probe_lo, probe_hi, n_files, n_files_hit,
    scan_fraction_micro)."""
    import os

    from pyspark.sql import functions as _F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    paths = sorted(
        os.path.join(dataset_dir, f)
        for f in os.listdir(dataset_dir)
        if f.endswith(".parquet")
    )
    files = local_frame(
        spark,
        [(p,) for p in paths], "path string"
    ).repartition(max(1, min(len(paths), 32)))

    schema = StructType(
        [
            StructField("file_min", LongType(), False),
            StructField("file_max", LongType(), False),
        ]
    )

    def _minmax(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        for pdf in batches:
            mins, maxs = [], []
            for path in pdf["path"]:
                md = _pq.ParquetFile(path).metadata
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                ki = names.index(key)
                gmins, gmaxs = [], []
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(ki).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(f"{path}: footer lacks stats")
                    gmins.append(int(st.min))
                    gmaxs.append(int(st.max))
                mins.append(min(gmins))
                maxs.append(max(gmaxs))
            yield _pd.DataFrame({"file_min": mins, "file_max": maxs})

    stats = files.mapInPandas(_minmax, schema)
    probe_df = local_frame(
        spark,
        list(probes), "probe_lo BIGINT, probe_hi BIGINT"
    )
    hit = (_F.col("file_min") <= _F.col("probe_hi")) & (
        _F.col("file_max") >= _F.col("probe_lo")
    )
    return (
        stats.crossJoin(_F.broadcast(probe_df))
        .groupBy("probe_lo", "probe_hi")
        .agg(
            _F.count(_F.lit(1)).cast("bigint").alias("n_files"),
            _F.sum(hit.cast("int")).cast("bigint").alias("n_files_hit"),
        )
        .select(
            "probe_lo",
            "probe_hi",
            "n_files",
            "n_files_hit",
            _F.floor(
                _F.col("n_files_hit") * _F.lit(1_000_000) / _F.col("n_files")
            ).cast("bigint").alias("scan_fraction_micro"),
        )
        .orderBy("probe_lo", "probe_hi")
    )
