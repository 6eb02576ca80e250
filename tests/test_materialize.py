"""Lifecycle of cached blocks: session.materialize caches, and
session.query_scope releases what a query cached when it ends, also
while other jobs share the session."""

from __future__ import annotations

import threading
import time

import pytest

from parquet_extractor_spark.session import (
    materialize,
    query_scope,
    release_cached,
)


def _rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _counts(spark, n: int, mod: int):
    return spark.range(n).selectExpr(f"id % {mod} AS k").groupBy("k").count()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_scope_frees_what_it_cached_and_nothing_else(spark, sf_small):
    """A library caller's scope frees every block its query cached on
    exit, and leaves a block cached outside the scope alone."""
    from parquet_extractor_spark.operators.corpus_index import pmi_top_pairs

    release_cached(spark)  # a clean session: no earlier test's copy of the query's blocks
    outside = materialize(_counts(spark, 1000, 7))
    outside.count()
    before = _rdds(spark)
    with query_scope(spark):
        rows = pmi_top_pairs(spark, sf_small).collect()
        assert _rdds(spark) - before, "the query should cache a block"
    assert rows
    assert _rdds(spark) == before
    assert outside.storageLevel.useMemory
    outside.unpersist()


def test_released_frames_recompute_or_fail_loudly(spark):
    """After its scope ends a persisted frame recomputes the same
    rows; a truncated one raises instead of answering."""
    with query_scope(spark):
        kept = materialize(_counts(spark, 500, 11))
        cut = materialize(_counts(spark, 500, 13), truncate=True)
        want_kept, want_cut = _rows(kept), _rows(cut)
    assert _rows(kept) == want_kept
    assert len(want_cut) == 13
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        cut.collect()


def test_job_releases_its_blocks_while_a_sibling_runs(spark):
    """Two service jobs cache the same plan. Job B ends while job A
    still waits on a truncated frame: B's own blocks are gone at once,
    the plan they share stays for A, A's frames still answer, and
    once both end nothing is left cached."""
    from parquet_extractor_spark.jobs.service import jobs, submit_job

    release_cached(spark)  # a clean session, so "nothing left" is exact
    a_ready, b_done = threading.Event(), threading.Event()
    seen: dict[str, set[int]] = {}

    def job_a(job_id):
        shared = materialize(_counts(spark, 5000, 97))
        shared.count()
        cut = materialize(_counts(spark, 5000, 89), truncate=True)
        seen["a"] = _rdds(spark)
        a_ready.set()
        assert b_done.wait(120)
        return {"shared": _rows(shared), "cut": _rows(cut)}

    def job_b(job_id):
        shared = materialize(_counts(spark, 5000, 97))
        shared.count()
        own = materialize(_counts(spark, 3000, 13))
        own.count()
        materialize(_counts(spark, 3000, 17), truncate=True)
        seen["b"] = _rdds(spark) - seen["a"]
        return {}

    def wait(job_id):
        deadline = time.time() + 120
        while jobs[job_id]["status"] == "running":
            assert time.time() < deadline, f"job {job_id} hung"
            time.sleep(0.05)
        assert jobs[job_id]["status"] == "completed", jobs[job_id]

    a = submit_job(spark, "test-a", job_a)
    assert a_ready.wait(120)
    b = submit_job(spark, "test-b", job_b)
    wait(b)
    held = _rdds(spark)
    assert len(seen["b"]) == 2
    assert not held & seen["b"], "job B's blocks outlived job B"
    assert seen["a"] <= held, "job B released job A's blocks"
    b_done.set()
    wait(a)
    result = jobs[a]["result"]
    assert result["shared"] == [(k, 5000 // 97 + (k < 5000 % 97)) for k in range(97)]
    assert result["cut"] == [(k, 5000 // 89 + (k < 5000 % 89)) for k in range(89)]
    assert _rdds(spark) == set()


def test_reuse_only_sites_build_without_spark_jobs(spark, sf_small, jobs_in_group):
    """Frames reused within one query are persisted lazily, so building
    these queries composes a plan and runs no Spark job."""
    from parquet_extractor_spark.operators.multimodal import media_neardup_eval
    from parquet_extractor_spark.operators.selection import (
        surprisal_mixing_weights,
    )
    from parquet_extractor_spark.operators.similarity import (
        embedding_drift_audit,
    )

    for fn in (embedding_drift_audit, media_neardup_eval, surprisal_mixing_weights):
        with query_scope(spark):
            fn(spark, sf_small).collect()  # warm artifacts and schemas
            assert jobs_in_group(
                lambda: fn(spark, sf_small), f"build-{fn.__name__}"
            ) == [], fn.__name__
