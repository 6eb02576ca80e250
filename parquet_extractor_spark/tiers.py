"""Parquet-materialized shared tiers: compute once, reuse by scan.

The dedup report/eval queries consume whole *tiers* the engine also
exposes as standalone queries: the banded-LSH candidate pairs feed
``dedup_components``, ``dedup_graph_pagerank`` and
``lsh_quality_eval``; the exact-dup keep set and the component
labels feed ``dedup_reduction_report`` and ``dedup_canonical``.
Before this module each consumer re-derived its tiers from the raw
documents scan, so a sweep re-mined the corpus once per consumer —
the repeated-recompute blemish carried since round 4 (8.8 s across
the three report queries at sf0.1; at 100 TB it is re-running
MinHash over the corpus per report).

The fix is the one a production pipeline uses: the first consumer
MATERIALIZES the tier (one parquet write of a bounded table — pairs,
keeps, labels are all tiny next to the corpus) and every later
consumer reads the files. Parquet, not ``persist()``, on purpose:

* it survives ``session.release_cached`` (which blanket-drops cached
  blocks between queries precisely because unbounded per-query
  persists were measured to accumulate — r04);
* it is exactly the "write the dedup index next to the corpus" shape
  a 1000-executor job uses, where no executor cache outlives a stage
  and the index must be shared across *jobs*, not stages;
* re-reading costs a columnar scan of a small table, not memory.

Tiers live under the PERSISTENT store root shared with
artifacts.py (r11; previously a per-process temp directory keyed by
applicationId). Per-process tiers made the bench trend self-noisy:
whichever query ran first in a fresh JVM paid the tier build and
booked it as its own latency (r10 adjudicated minhash_lsh_candidates
14.2 s cold-isolated vs 2.3 s warm — all tier attribution). Keys
include the realpath of the data directory, a cheap content
fingerprint of its parquet files (count/bytes/max-mtime), and a
fingerprint of the package's own source code, so a different
fixture, the same fixture rewritten in place, or ANY code change
never serves a stale tier. Builders are deterministic (same-seed
MinHash, pinned rounding), so a tier is a pure function of its key —
reuse can never change a query's answer, only its cost. Row ORDER
inside a tier is not part of the contract; every consumer joins or
aggregates.

Writes are atomic: the build lands in a process-private temp dir
that is ``os.rename``d into place, so a concurrent process either
sees the complete tier or builds its own copy (first rename wins,
the loser reads the winner's files).

``SPARK_GRAFT_NO_TIER_CACHE=1`` disables the layer (consumers build
their tiers inline, the pre-round-6 plans) — used by plan-audit
tests that want the raw lineage. ``SPARK_GRAFT_ARTIFACT_DIR``
relocates the store (test isolation).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from parquet_extractor_spark.artifacts import (
    _disabled,
    code_fingerprint,
    dir_fingerprint,
    store_root,
)
from parquet_extractor_spark.sources.tables import _read_parquet, _scan_stats

_KNOWN: dict[tuple, str] = {}
# reentrant: a tier builder may itself consume a lower tier (the
# components tier builds on the lsh_pairs tier)
_LOCK = threading.RLock()


def _tiers_root() -> str:
    d = os.path.join(store_root(), "tiers")
    os.makedirs(d, exist_ok=True)
    return d


def _key(sf_dir: str, name: str) -> tuple:
    # dir_fingerprint adds a content component (count/bytes/mtime of
    # the parquet files) so an in-place fixture rewrite can never
    # serve a stale tier; code_fingerprint invalidates every tier on
    # any package source change.
    return (
        os.path.realpath(sf_dir),
        dir_fingerprint(sf_dir),
        code_fingerprint(),
        name,
    )


def _tier_path(k: tuple) -> str:
    digest = hashlib.sha256(repr(k).encode()).hexdigest()[:24]
    slug = "".join(
        c if c.isalnum() or c in "-_" else "-" for c in k[3]
    )[:40]
    return os.path.join(_tiers_root(), f"{slug}-{digest}")


def ensure_tier(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the tier as a DataFrame, materializing it on first use
    (per dataset + code version, across processes).

    The build-and-write happens under a coarse lock so two
    job-service threads cannot write the same tier concurrently; the
    write itself is a normal distributed parquet write (the lock
    serializes *drivers*, not executors, and tier tables are small).
    """
    if _disabled():
        return build()
    k = _key(sf_dir, name)
    with _LOCK:
        path = _KNOWN.get(k)
        # a remembered path may have vanished under us (another
        # process's isolated clear, the age-based GC): re-check and
        # rebuild instead of handing Spark a dead scan path
        if path is not None and not os.path.isdir(path):
            _KNOWN.pop(k, None)
            path = None
        if path is None:
            path = _tier_path(k)
            if not os.path.isdir(path):
                tmp = f"{path}.tmp.{os.getpid()}"
                build().write.mode("overwrite").parquet(tmp)
                try:
                    os.rename(tmp, path)
                except OSError:
                    # lost the cross-process race: the winner's tier
                    # is complete (rename is atomic) — read theirs
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.isdir(path):
                        raise
            else:
                try:  # keep hot tiers out of the age-based GC
                    os.utime(path)
                except OSError:
                    pass
            _KNOWN[k] = path
    # fingerprint-keyed schema cache: a warm tier read plans without
    # the schema-inference job spark.read.parquet launches per call,
    # and a rewritten tier changes the fingerprint and is re-inferred
    return _read_parquet(spark, path, _scan_stats(path))


def clear_tiers() -> None:
    """Forget every materialized tier and memoized artifact —
    in-process always, disk ONLY under an isolated
    $SPARK_GRAFT_ARTIFACT_DIR store (test hook). The shared default
    root is deliberately left alone: other live processes keep their
    ``_KNOWN`` paths into it and concurrent benches rely on its warm
    state, so a destructive purge there would strand them on vanished
    scan paths (r11 advice)."""
    from parquet_extractor_spark.artifacts import clear_artifact_memo

    with _LOCK:
        _KNOWN.clear()
        if os.environ.get("SPARK_GRAFT_ARTIFACT_DIR"):
            root = _tiers_root()
            try:
                names = os.listdir(root)
            except OSError:
                names = []
            for n in names:
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)
    clear_artifact_memo()
