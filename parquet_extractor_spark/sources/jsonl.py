"""JSON-lines document source with permissive error tolerance.

Training corpora commonly arrive as JSONL; the reference's per-row
error tolerance (SURVEY §2.10 O4: try/except-continue with an error
side-channel, api.py:344-346, api.py:543-546) maps to Spark's
PERMISSIVE read mode: malformed lines don't fail the job, they land in
``_corrupt_record`` and are split into an error side-channel the
caller can count/sample — exactly the "collect error strings, keep
going" contract, but distributed.

An explicit schema is non-optional at scale: schema inference runs a
whole extra pass over the data, and a drifting inferred schema breaks
downstream plans. Infer once, pin forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from parquet_extractor_spark.session import materialize

CORRUPT_COL = "_corrupt_record"

DOCS_JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField(CORRUPT_COL, StringType(), True),
    ]
)


def read_jsonl_docs(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL corpus permissively.

    Returns ``(good, errors)``: ``good`` has the document columns for
    rows that parsed; ``errors`` carries the raw offending line.
    Spark requires caching the parsed frame before referencing
    ``_corrupt_record`` (the column is populated at parse time and
    querying it alone is disallowed on an unpersisted relation).
    """
    parsed = materialize(
        spark.read.schema(DOCS_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    good = (
        parsed.filter(F.col(CORRUPT_COL).isNull())
        .drop(CORRUPT_COL)
    )
    errors = (
        parsed.filter(F.col(CORRUPT_COL).isNotNull())
        .select(F.col(CORRUPT_COL).alias("raw_line"))
    )
    return good, errors
