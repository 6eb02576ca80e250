"""ir-datasets source (SURVEY §2.1 S4; api.py:193-254).

``ir_datasets`` is not installed in this container, so the loader is
import-gated; the conversion path from a document iterator to a
DataFrame is library-independent and tested with a fake iterator.

The reference streams ``dataset.docs_iter()`` in a Python loop
(api.py:232). Here the iterator is chunked into Arrow-sized batches on
the driver and parallelized as a DataFrame; for corpora too big for
driver ingest, the documented scale path is a Spark 4 Python
DataSource (pyspark.sql.datasource) that partitions by doc-id range so
executors pull shards of the corpus directly.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from parquet_extractor_spark.constants import MAX_DOCS
from parquet_extractor_spark.sources.tables import local_frame

try:  # pragma: no cover - not installed in this environment
    import ir_datasets  # type: ignore

    HAVE_IR_DATASETS = True
except ImportError:
    HAVE_IR_DATASETS = False

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("title", StringType(), True),
        StructField("url", StringType(), True),
        StructField("text", StringType(), True),
    ]
)


def _doc_to_row(doc) -> tuple[str, str | None, str | None, str | None]:
    """Attribute-probing normalization (api.py:243, 263-268, 290-293):
    doc_id always; title/url optional; text falls back to body."""
    doc_id = str(getattr(doc, "doc_id", ""))
    title = getattr(doc, "title", None)
    url = getattr(doc, "url", None)
    text = getattr(doc, "text", None)
    if not text:
        text = getattr(doc, "body", None)
    return (doc_id, title, url, text)


def docs_iter_to_df(
    spark: SparkSession,
    docs: Iterable,
    limit: int | None = None,
) -> DataFrame:
    """Iterator → DataFrame with the reference's server-side cap
    (min(limit, MAX_DOCS), api.py:395-397)."""
    cap = min(limit or MAX_DOCS, MAX_DOCS)
    rows = [_doc_to_row(d) for d in islice(iter(docs), cap)]
    return local_frame(spark, rows, DOC_SCHEMA)


def load_wikir(
    spark: SparkSession,
    dataset_name: str = "wikir/en1k/training",
    limit: int | None = None,
) -> DataFrame:
    """Load a wikir corpus slice (api.py:219-223). Raises a clear
    error when ir_datasets is unavailable."""
    if not HAVE_IR_DATASETS:  # pragma: no cover
        raise RuntimeError(
            "ir_datasets is not installed in this environment; "
            "use docs_iter_to_df with your own iterator"
        )
    dataset = ir_datasets.load(dataset_name)  # pragma: no cover
    return docs_iter_to_df(spark, dataset.docs_iter(), limit)  # pragma: no cover
