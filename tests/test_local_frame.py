"""Python stays off pure-SQL execution paths: driver-side rows become
JVM LocalRelations through sources.tables.local_frame, the curation
queries run no Python-RDD stage, and the session does not capture a
Python call site per API call."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from parquet_extractor_spark.sources.tables import local_frame

UTC = datetime.timezone.utc

FAMILIES = {
    "doubles": (
        [(-0.0, 1), (5e-324, 2), (math.inf, 3), (-math.inf, None), (None, 5)],
        "x double, n bigint",
    ),
    "binary_nulls": (
        [(b"\x00\xff", 1), (None, 2), (b"", 3)],
        "b binary, i int",
    ),
    "array_struct_array": (
        [([([1.0, 2.5], 0.5), ([], -0.0)],), (None,), ([],)],
        "v array<struct<a:array<double>,s:double>>",
    ),
    "array3_double": (
        [([[[1.0, -0.0], [math.inf]], [[5e-324]]],), ([[[]]],)],
        "books array<array<array<double>>>",
    ),
    "utc_timestamps": (
        [
            (datetime.datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=UTC), 1),
            (None, 2),
        ],
        "ts timestamp, k int",
    ),
    "maps": (
        [({"a": 1, "b": None},), ({},), (None,)],
        "m map<string,bigint>",
    ),
    "empty": ([], "a bigint, s string"),
}


def _exact(rows) -> list[str]:
    # repr tells -0.0 from 0.0 and prints doubles round-trip exact
    return [repr(r) for r in rows]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_local_frame_is_a_local_relation_equal_to_the_list_path(spark, family):
    rows, ddl = FAMILIES[family]
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    plan = got._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert got.schema == want.schema
    assert _exact(got.collect()) == _exact(want.collect())


@pytest.mark.parametrize(
    "name",
    [
        "curation_funnel",
        "tfidf_top_terms",
        "ann_ivf",
        "quality_classifier_scores",
        "ivf_pq_recall_eval",
    ],
)
def test_curation_queries_run_no_python_rdd(
    spark, sf_small, jobs_in_group, stage_rdd_names, name
):
    """Building and collecting the query runs no stage that reads a
    Python RDD, so no Python worker starts for it. This covers the
    executed plan and also the jobs whose results a build checkpoints
    (ivf_pq_recall_eval)."""
    import __spark_entry__ as entrymod

    from parquet_extractor_spark.session import query_scope

    fn = entrymod.queries()[name]
    group = f"no-python-{name}"

    def run():
        with query_scope(spark):
            assert fn(spark, sf_small).collect() is not None

    jobs = jobs_in_group(run, group)
    assert jobs
    assert "PythonRDD" not in stage_rdd_names(group)


def test_session_skips_call_site_capture_and_keeps_error_classes(spark):
    """Per-call call-site capture is off; a runtime error still carries
    its error class."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark.range(1).select((F.lit(1) / F.col("id")).alias("q")).collect()
