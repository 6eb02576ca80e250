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


def _stage_rdd_names(spark, group: str) -> set[str]:
    """Names of every RDD in every stage the job group ran, read from
    the session's RDD operation graphs.

    A job also lists the stages it skipped because an earlier job of
    the group already wrote their shuffle output; once the status
    store holds more stages than it retains, it evicts those skipped
    entries first. Their RDDs ran in the earlier job's own stage, so
    a missing entry is passed over, and at least one stage must be
    read."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    names: set[str] = set()
    read = 0

    def walk(cluster):
        nodes, kids = cluster.childNodes(), cluster.childClusters()
        names.update(nodes.apply(i).name() for i in range(nodes.size()))
        for i in range(kids.size()):
            walk(kids.apply(i))

    for jid in sc.statusTracker().getJobIdsForGroup(group):
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            try:
                graph = store.operationGraphForStage(stage_ids.apply(i))
            except Py4JJavaError:
                continue
            walk(graph.rootCluster())
            read += 1
    assert read
    return names


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
def test_curation_queries_run_no_python_rdd(spark, sf_small, jobs_in_group, name):
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
    assert "PythonRDD" not in _stage_rdd_names(spark, group)


def test_session_skips_call_site_capture_and_keeps_error_classes(spark):
    """Per-call call-site capture is off; a runtime error still carries
    its error class."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark.range(1).select((F.lit(1) / F.col("id")).alias("q")).collect()
