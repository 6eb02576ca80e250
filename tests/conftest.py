from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_extractor_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM


@pytest.fixture()
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture()
def jobs_in_group(spark):
    """``run(fn, group)`` calls ``fn()`` in a fresh Spark job group and
    returns the ids of the jobs it submitted; the group is cleared
    afterwards so later jobs on this thread stay unattributed."""
    sc = spark.sparkContext

    def run(fn, group: str) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            ):
                sc.setLocalProperty(key, None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def stage_rdd_names(spark):
    """``names(group)`` returns the names of every RDD in every stage
    the job group ran, read from the session's RDD operation graphs
    (a stage that starts a Python worker shows a ``PythonRDD``).

    A job also lists the stages it skipped because an earlier job of
    the group already wrote their shuffle output; once the status
    store holds more stages than it retains, it evicts those skipped
    entries first. Their RDDs ran in the earlier job's own stage, so
    a missing entry is passed over, and at least one stage must be
    read."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext

    def names(group: str) -> set[str]:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        store = sc._jsc.sc().statusStore()
        found: set[str] = set()
        read = 0

        def walk(cluster):
            nodes, kids = cluster.childNodes(), cluster.childClusters()
            found.update(nodes.apply(i).name() for i in range(nodes.size()))
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
        return found

    return names
