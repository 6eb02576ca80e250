"""SparkSession factory with scale-aware defaults.

Local tests run on ``local[N]``; the same builder settings are what we
would ship to a 1000-executor cluster — AQE on (runtime re-planning,
skew-join splitting, post-shuffle coalescing), Arrow for every
Python<->JVM hop, and shuffle partitioning left to AQE rather than a
hard-coded count.

It also owns the session's cached blocks: :func:`materialize` is the
one caching policy (lazy persist; an eager lineage-truncating
checkpoint only where cutting the lineage is the point), and
:func:`query_scope` releases what a query cached when it ends, even
while other queries share the session. :func:`release_cached` is the
whole-session sweep for single-tenant drivers.
"""

from __future__ import annotations

import contextlib
import os
import threading
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Cached-block bookkeeping for query_scope: the open scopes of each
# thread, innermost last (each a dict block key -> frame), and how
# many open scopes, on any thread, hold each block.
_SCOPES = threading.local()
_HOLDS: dict[tuple, int] = {}
_LOCK = threading.Lock()


def _local_heap_default() -> str:
    """min(16g, half of physical RAM), floored at 1g."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return "4g"
    gb = max(1, min(16, int(phys / (2 * 1024**3))))
    return f"{gb}g"


def get_spark(
    app_name: str = "parquet-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Parameters are overridable for tests; production leaves ``master``
    to the cluster manager.
    """
    # Ensure executor-side Python workers can import this package by
    # reference (module-level functions/classes pickle by name). Must
    # happen before the JVM spawns the worker daemon.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)

    conf = {
        # AQE: runtime re-plan — coalesce small post-shuffle partitions,
        # split skewed ones, convert SMJ->BHJ when a side turns out small.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for pandas_udf / mapInPandas / toPandas.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Baseline shuffle parallelism; AQE coalesces downward from here.
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Generated-class cache (default 100 entries). A long-lived
        # multi-query driver — this engine's bench, oracle gate, and
        # job service all sweep hundreds of distinct plans per session
        # — evicts its biggest codegen units and re-pays their
        # multi-second Janino compiles on every later run (r12
        # measured HOF-heavy queries at 2-5x their isolated cost late
        # in a sweep). Trade metaspace for compile time; single-query
        # batch jobs are unaffected.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # No per-call call-site capture. By default PySpark wraps every
        # Column/DataFrame API call in extra py4j round trips and a
        # Python stack walk so that a runtime error can quote the line
        # that built the failing expression; plan building is this
        # engine's driver hot path (0.94 → 0.68 s of plan building per
        # curation pass with it off on a 4-vCPU host, execution time
        # unchanged). Runtime errors keep their error class and
        # message and lose only the "== DataFrame ==" call-site block.
        # A fixed setting, not a knob.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # Self-describing timestamps when writing parquet.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.session.timeZone": "UTC",
        # Static conf — must be set before the session exists. Catalog
        # tables (bucketed writes) land here; production points this at
        # the real warehouse path.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
        ),
        "spark.ui.enabled": "false",
    }
    if master.startswith("local"):
        # In local mode every task shares the driver JVM, whose heap
        # defaults to 1g — 32 concurrent tasks OOM on any moderate
        # aggregate long before the host's RAM matters. Size the heap
        # like an executor fleet, clamped to half the host's physical
        # RAM so small CI hosts get a contained JVM OOM instead of the
        # OS killer (must be set before the JVM spawns; no-op on an
        # already-running session). On a real cluster the manager sets
        # executor memory instead.
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _local_heap_default()),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # codegen.cache.maxEntries is a STATIC conf: it only applies when
    # this builder actually created the JVM. getOrCreate over a
    # pre-existing session silently keeps that session's value — make
    # the silent reuse visible in logs (r12 advice) instead of letting
    # a sweep believe it runs with the 4096-entry cache.
    try:
        requested = conf["spark.sql.codegen.cache.maxEntries"]
        actual = spark.conf.get("spark.sql.codegen.cache.maxEntries", None)
        if actual is not None and str(actual) != str(requested):
            import logging

            logging.getLogger(__name__).warning(
                "reused SparkSession: spark.sql.codegen.cache.maxEntries"
                "=%s (requested %s ignored; static conf)",
                actual,
                requested,
            )
    except Exception:
        pass
    _quiet_bounded_window_warns(spark)
    return spark


def materialize(df: DataFrame, truncate: bool = False) -> DataFrame:
    """Cache ``df`` for reuse within the current query: the only
    place in this package that persists or checkpoints a frame.

    Policy. By default the frame is persisted lazily at PySpark's
    default storage level: a frame that several branches of one plan
    consume is computed once, by the first action, and an unconsumed
    frame costs nothing. ``truncate=True`` checkpoints it eagerly
    instead (one Spark job now) and replaces its lineage with the
    cached blocks. Truncate only where cutting the lineage is the
    point: an iterative loop whose plan would otherwise grow each
    round, a plan so large that re-analysing it dominates, or a view
    that later code replaces. Reuse alone is never a reason: a
    truncated frame cannot recompute once its blocks are released (it
    fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).

    Lifetime. Inside :func:`query_scope` the blocks belong to the
    innermost open scope on this thread and are released when the
    last scope holding them exits. Outside any scope they live until
    :func:`release_cached` or LRU eviction.
    """
    stack = getattr(_SCOPES, "stack", None)
    if truncate:
        df = df.localCheckpoint()
        if stack:
            rdd = df._jdf.queryExecution().logical().rdd()
            _hold(stack[-1], ("rdd", rdd.id()), df)
        return df
    if not stack or _hold(stack[-1], ("plan", df.semanticHash()), df):
        df.persist()
    return df


def _hold(held: dict, key: tuple, df: DataFrame) -> bool:
    """Count a scope's hold on a block; True when no scope held it yet
    and ``df`` must be cached now.

    Equal plans share one CacheManager entry, so holds count by plan:
    a job must not free the entry that a sibling job's already-planned
    frame still reads (run after the release, that frame rebuilds the
    cache as an RDD no entry owns)."""
    with _LOCK:
        first = key not in _HOLDS
        if key not in held:
            _HOLDS[key] = _HOLDS.get(key, 0) + 1
            held[key] = df
        return first


@contextlib.contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """Release, on exit, every block :func:`materialize` cached inside
    the block, unless another open scope (a concurrent job on the same
    session, or an enclosing scope) holds the same block.

    Scopes nest and are per thread. The job service runs each job in
    one, the CLI each command; a library caller wraps a query and its
    consumption: ``with query_scope(spark): rows = q(spark,
    sf_dir).collect()``. Frames returned from the block recompute
    after it exits, except truncated ones (see :func:`materialize`).
    """
    stack = _SCOPES.__dict__.setdefault("stack", [])
    stack.append({})
    try:
        yield
    finally:
        for key, df in stack.pop().items():
            _let_go(spark, key, df)


def release(df: DataFrame) -> None:
    """Free a persisted frame before its scope ends, when the rest of
    the query no longer reads it (e.g. training data once the model
    is fitted). Another scope's hold on the same plan keeps it."""
    stack = getattr(_SCOPES, "stack", None) or []
    key = ("plan", df.semanticHash())
    for held in reversed(stack):
        if key in held:
            return _let_go(df.sparkSession, key, held.pop(key))
    if not stack:
        df.unpersist()


def _let_go(spark: SparkSession, key: tuple, df: DataFrame) -> None:
    with _LOCK:
        _HOLDS[key] -= 1
        if _HOLDS[key]:
            return
        del _HOLDS[key]
        if key[0] == "rdd":
            spark.sparkContext._jsc.sc().unpersistRDD(key[1], False)
        else:
            df.unpersist()


def release_cached(spark: SparkSession) -> None:
    """Drop every cached block in the session: a sweep for
    single-tenant callers only.

    ``spark.catalog.clearCache()`` unpersists every CacheManager
    entry; the RDD loop below frees what the CacheManager does not
    track: checkpoint blocks, raw RDD persists, and the orphan cache a
    frame planned against a since-released entry rebuilds when it
    runs.

    Only a caller that owns the whole session may sweep it: the bench
    between queries, the oracle gate (``tools/check_oracle.py``)
    between checks, ``perfbench`` and ``tools/scale_check.py``. It
    also drops blocks that open :func:`query_scope` blocks still hold,
    so a concurrent caller (the job service) uses scopes instead.
    Measured effect of sweeping: without it, ``dedup_canonical``
    degraded 2.6s -> 6.9s by position ~60 of a 140-query sweep (r04
    bench) purely from accumulated blocks.

    WARNING: a still-referenced truncated frame (``materialize(...,
    truncate=True)``) from an earlier query FAILS on re-execution
    with "Checkpoint block not found" rather than recomputing. Call
    this only at a boundary where every DataFrame handed out earlier
    has been fully consumed.
    """
    import logging

    try:
        spark.catalog.clearCache()
    except Exception as exc:
        # Spark Connect pre-3.5 lacks catalog.clearCache; anything
        # else is a real driver/catalog error — surface it at debug
        # so failures are diagnosable, but never break the caller's
        # query loop over a cleanup step.
        logging.getLogger(__name__).debug("clearCache failed: %s", exc)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(False)
    except Exception:
        # non-JVM backends (Spark Connect): no sparkContext._jsc;
        # cached blocks are remote and session-scoped; nothing to
        # release client-side.
        pass


def _quiet_bounded_window_warns(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" WARN.

    Every global window in this codebase goes through
    ``functions.windows.bounded_global_window`` and is K-bounded by
    construction (post-limit heads, constant-cardinality reductions) —
    enforced mechanically by the source lint in
    tests/test_plan_quality.py, so the WARN carries no signal here and
    ~40 repeats per run would mask a real log line. Catalyst constant-
    folds any literal partition key out of the window spec, so the
    suppression has to happen at the logger, not the plan (the
    ``partitionBy(lit(0))`` in bounded_global_window marks intent; it
    does not itself silence anything). Trade-off: the silencing is
    session-wide, so ad-hoc global windows built outside the linted
    package also lose the WARN — the source lint is the guard, the
    log line never was."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowInPandasExec",
        ):
            configurator.setLevel(cls, level)
    except Exception:
        # non-log4j2 deployments: warnings stay, nothing breaks
        pass
