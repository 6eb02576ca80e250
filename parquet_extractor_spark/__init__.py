"""parquet_extractor_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference document-ETL pipeline
(DorinR/parquet-extractor, surveyed in SURVEY.md) as lazy, distributed
DataFrame plans, and extends the same data model with the operators a
large-scale (100 TB) training-data pipeline needs: deduplication,
similarity search, text analysis, and streaming.

Design stance (SURVEY.md §7):
- DataFrame/Catalyst only; no RDDs, no custom Catalyst rules.
- Python logic only where Spark lacks a builtin (CISI section parse,
  remote fetch), always Arrow-vectorized (pandas_udf / mapInPandas).
- Named per-row files (Markdown, PDF) are rendered and written on the
  driver from ``toLocalIterator``: no Python worker per sink job, the
  files land where the job service serves them, and the written /
  skipped / failed counts are exact.
- Behavioral caps from the reference kept as named constants
  (see parquet_extractor_spark.constants).
"""

__version__ = "0.1.0"

from parquet_extractor_spark.session import get_spark  # noqa: F401
