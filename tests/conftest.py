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
