"""Benchmark harness: every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixture, see SF_DIR), in one SparkSession.

One protocol. The bench order is HEADLINE first, then every other
registry query alphabetically. Each query runs RUNS (3) times through
a noop sink and reports the MEDIAN; bench noise on a shared host is
about ±50% across runs, so one sample is not comparable round to
round. Every sample is kept in the full payload next to the medians.
Each attempt runs in a cancellable Spark job group with a
QUERY_TIMEOUT_S wall-clock cap, so one hung plan cannot starve the
payload. Past BUDGET_S of measured wall the remaining queries drop to
one run each; past HARD_S they are skipped and listed.

Three environment values, nothing else:

* ``SPARK_GRAFT_SF_DIR``: the dataset directory.
* ``SPARK_GRAFT_BENCH_ONLY=a,b``: run only these queries, in bench
  order. The payload goes to a per-user, per-process temp file, never
  into the repository.
* ``SPARK_GRAFT_BENCH_COLD_STORE=1``: run every sample on an empty
  artifact/tier store. The store moves to a private temp root
  (removed at exit) and is cleared before each timed sample, so every
  training and tier build, its write and its read-back are paid
  inside the timed region, through the same code a service job runs.
  The payload is tagged ``"store": "cold"``; the default is
  ``"warm"``.

Any other run writes its full payload to ``BENCH_c{cpus}_{store}.json``
in the repository root, where ``cpus`` is the session's
``defaultParallelism``; an 8-core pass and a 32-core pass, or a warm
and a cold pass, never share a file.

Stdout ends with two lines: a short summary, then the compact payload
(the parse target for a caller that keeps only a ~2 KB tail). The
compact line carries the envelope (metric, value, unit, mode, store,
cpus, sf), the counts ``n``/``omitted``/errors/skipped, ``slowest``
(the ten most expensive queries) and the per-query medians of the
fixed window HEADLINE[:32]. It is never trimmed by size;
tests/test_bench_harness.py pins its worst case under 1900 bytes.

ISOLATION PROTOCOL (the adjudication rule for apparent regressions):
a ~250-query sweep accumulates catalog/codegen/GC pressure that
inflates IN-SUITE medians up to ~5x over a query's true cost (r09:
corpus_stats 3.35 s in-suite vs 0.59 s alone), and hosts vary
~1.4-2x uniformly. So before bisecting a "regressed" query, re-measure
it ALONE on an idle host (``SPARK_GRAFT_BENCH_ONLY=<name> python
bench.py``) and compare against its historical band times the host
factor (read the factor off stable trivial queries in the same
sweep). In-suite hygiene between queries: release_cached() after
every query (r04 measured 2.6 s -> 6.9 s drift without it) plus a
JVM+Python GC breather every _GC_EVERY queries (soft-reference and
codegen-cache pressure that block drops don't touch).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = 3
# GC breather cadence (queries between JVM System.gc() calls); a full
# GC per query would cost more than it saves on a 250-query sweep.
_GC_EVERY = 20
# Wall-clock budget: the caller must always get its JSON line, so past
# BUDGET_S the remaining queries drop to one run each (still benched,
# noisier) and past HARD_S they are skipped and listed in the payload.
BUDGET_S = 540.0
HARD_S = 900.0
# Per-attempt cap: >25x the slowest healthy query at sf0.1.
QUERY_TIMEOUT_S = 120.0

# Legacy curated set (r01-r03), kept for metric continuity: the
# driver's headline_queries_total compares round-to-round, so the
# curated list still runs FIRST in this order. Every OTHER registry
# query is appended after it (alphabetically) so no query is
# bench-blind — the r03 regressions slipped into *benched* queries;
# the unbenched majority had no guard at all (r03 verdict item 5).
# Exclusions: none — every queries() entry returns a DataFrame and
# runs through the same noop sink.
HEADLINE = [
    "corpus_stats",
    "tokens_per_lang",
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "top_brands_by_revenue",
    "top_order_per_customer",
    "brand_small_quantity_revenue",
    "q8_market_share",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "events_hourly",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "knn_bruteforce",
    "ann_ivf",
    "quality_scores",
    "ngram_decontamination",
    "extract_plan",
    "asof_view_before_purchase",
    "events_sessionized",
    "brand_price_stats",
    "orders_quarter_range_join",
    "events_cube",
    "doc_chunks",
    "tfidf_top_terms",
    "dsir_importance_weights",
    "bm25_doc_scores",
    "duplicate_spans",
    "lm_bigram_surprisal",
    "inverted_index",
    "pmi_top_pairs",
    "zipf_token_stats",
    "shard_assignments",
    "cross_source_dedup_candidates",
    # r03 additions: semantic dedup, PQ compression, BPE trainer step,
    # and the real-codec multimodal decode pipeline
    "semdedup_keep",
    "pq_codes",
    "bpe_merge_candidates",
    "media_feature_checksums",
    # r03 late additions: span removal (3-shuffle rebuild), the JL
    # projection tier, and the derived-partsupp TPC-H completions
    "span_scrubbed_docs",
    "ann_random_projection",
    "q2_min_price_supplier",
    "q4_order_priority_checking",
    "q16_supplier_part_counts",
    # r03 final additions: classifier gate, difficulty bucketing,
    # candidate-graph centrality, NFC canonicalization, outlier screen
    "quality_classifier_scores",
    "curriculum_phases",
    "dedup_graph_pagerank",
    "nfc_normalized_hashes",
    "embedding_outliers",
    # r03 last batch: positional phrase retrieval, per-source
    # distinguishing vocabulary, exact KS length drift
    "phrase_search",
    "source_log_odds_terms",
    "source_length_ks",
    "hybrid_search_rrf",
    "join_key_skew",
    "media_resize_checksums",
]


def _attempt(spark, name: str, fn, sf_dir: str, timeout_s: float) -> dict:
    """Run one query attempt in a cancellable job group.

    The noop write runs in an InheritableThread (propagates the job
    group to Spark's local properties); if it outlives ``timeout_s``
    the group is cancelled (interruptOnCancel) and the attempt is
    reported as a timeout instead of hanging the whole bench — the
    driver must always get its JSON line.
    """
    from pyspark import InheritableThread

    group = f"bench-{name}"
    result: dict = {}

    def _target() -> None:
        try:
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
            df = fn(spark, sf_dir)
            # noop sink: full computation of every output column
            # without count()'s column pruning shortcutting the
            # expressions.
            df.write.format("noop").mode("overwrite").save()
            result["ok"] = True
        except Exception as exc:
            result["err"] = f"{type(exc).__name__}: {exc}"[:200]

    th = InheritableThread(target=_target, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        try:
            spark.sparkContext.cancelJobGroup(group)
        except Exception:
            pass
        th.join(10)
        result.pop("ok", None)
        # overwrite any cancellation trace the worker recorded while
        # unwinding — the timeout is the cause, the SparkException the
        # symptom
        result["err"] = f"Timeout: exceeded {timeout_s:.0f}s"
        result["timeout"] = True
        # A slowly-cancelling group's tasks could still occupy
        # executors while the NEXT query is being timed. Poll the
        # status tracker until the group's jobs drain (bounded); if
        # they don't, the caller marks the whole run's timings
        # suspect.
        result["drained"] = _drain_job_group(spark, group)
    return result


def _drain_job_group(spark, group: str, wait_s: float = 30.0) -> bool:
    """Wait (bounded) until no job in ``group`` is still RUNNING."""
    try:
        tracker = spark.sparkContext.statusTracker()
        deadline = time.time() + wait_s
        while time.time() < deadline:
            running = [
                j
                for j in tracker.getJobIdsForGroup(group)
                if (info := tracker.getJobInfo(j)) is not None
                and info.status == "RUNNING"
            ]
            if not running:
                return True
            time.sleep(0.5)
    except Exception:
        pass
    return False


def _bench_set(qs, only: list[str]) -> list[str]:
    """Registry-complete bench order: curated HEADLINE first, then
    every remaining registry query alphabetically; a non-empty
    ``only`` keeps just those names, still in bench order."""
    out = list(HEADLINE) + sorted(k for k in qs if k not in HEADLINE)
    if only:
        out = [n for n in out if n in only]
    return out


def _payload_path(cpus: int, store: str, only: list[str]) -> str:
    """Where the full payload goes. An ONLY run (isolated re-measure)
    writes a temp sidecar, never a file in the repository; uid+pid in
    the name so two users or two concurrent runs never collide on a
    shared-tmp name and a planted symlink at a predictable path is
    never followed. Every other run writes one file per
    (cpus, store)."""
    if only:
        return os.path.join(
            tempfile.gettempdir(),
            f"spark-graft-bench-only-{os.getuid()}-{os.getpid()}.json",
        )
    return os.path.join(REPO, f"BENCH_c{cpus}_{store}.json")


def _env() -> tuple[list[str], bool]:
    """The two run-shaping environment values: the ONLY query list
    (blank entries dropped) and whether the store is cold. A cold run
    points this process's store at a fresh private root, removed at
    exit, so clearing it never touches a shared store."""
    only = [
        w.strip()
        for w in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if w.strip()
    ]
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD_STORE") == "1"
    if cold:
        root = tempfile.mkdtemp(prefix="spark-graft-cold-store-")
        atexit.register(shutil.rmtree, root, True)
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = root
    return only, cold


def _timed_attempt(spark, name: str, fn, cold: bool) -> tuple[dict, float]:
    """One timed sample: the attempt's result and its wall seconds. A
    cold run empties the store first, outside the timed region."""
    if cold:
        from parquet_extractor_spark import store

        store.clear()
    t0 = time.time()
    res = _attempt(spark, name, fn, SF_DIR, QUERY_TIMEOUT_S)
    return res, time.time() - t0


def main() -> None:
    only, cold = _env()

    import __spark_entry__ as entrymod
    from parquet_extractor_spark.session import get_spark, release_cached
    from parquet_extractor_spark.sources.tables import load_table

    qs = entrymod.queries()
    bench_set = _bench_set(qs, only)
    spark = get_spark("bench")

    # Warm the JVM, codegen, and EVERY table's parquet footers so
    # per-query numbers measure the plans, not session bring-up —
    # otherwise whichever queries run first absorb the one-time costs
    # (count() on parquet is metadata-only, so this stays cheap).
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        load_table(spark, SF_DIR, t).count()

    # Same principle for the TRAINED artifacts (r11): they are
    # dataset-level products served from the persistent store, so an
    # empty store pays training here — once, labeled — instead of
    # booking it as the first consumer query's latency. A filled store
    # makes this a no-op of disk reads. A cold run skips it: the store
    # is emptied before every sample, so every consuming query trains
    # inside its own timed region and a warm-up's products would be
    # discarded.
    if not cold:
        t0 = time.time()
        _warm_trained_artifacts(spark)
        print(
            f"# artifact store warm-up: {time.time() - t0:.1f}s",
            file=sys.stderr,
        )

    bench_t0 = time.time()
    timings: dict[str, float] = {}
    samples_by_query: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    skipped: list[str] = []
    suspect = False
    done = 0
    for name in bench_set:
        fn = qs[name]
        elapsed = time.time() - bench_t0
        if elapsed > HARD_S:
            skipped.append(name)
            continue
        runs = 1 if elapsed > BUDGET_S else RUNS
        samples = []
        for _ in range(runs):
            res, secs = _timed_attempt(spark, name, fn, cold)
            if not res.get("ok"):  # error or timeout: drop the query, keep the run
                errors[name] = res.get("err", "unknown")
                print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
                # an undrained cancelled group may still hold executors
                # while later queries are timed — mark the run suspect
                if res.get("timeout") and not res.get("drained"):
                    suspect = True
                samples = []
                break
            samples.append(secs)
        # Cached intermediates (persist + localCheckpoint blocks) from
        # this query must not bleed memory pressure into the next —
        # r04 measured dedup_canonical 2.6s->6.9s by sweep position
        # ~60 purely from accumulated blocks.
        release_cached(spark)
        # Periodic GC breather (header: isolation protocol): block
        # drops don't relieve JVM soft-reference/codegen-cache growth
        # or py4j handle backlog, which r09 measured inflating
        # in-suite medians up to 5x by sweep position ~700.
        done += 1
        if done % _GC_EVERY == 0:
            import gc

            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            time.sleep(0.2)
        if not samples:
            continue
        dt = statistics.median(samples)
        timings[name] = round(dt, 3)
        samples_by_query[name] = [round(s, 3) for s in samples]
        print(
            f"# {name}: median {dt:.2f}s of "
            f"{[round(s, 2) for s in samples]}",
            file=sys.stderr,
        )

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "mode": "inprocess",
        "store": "cold" if cold else "warm",
        "cpus": spark.sparkContext.defaultParallelism,
        "queries": timings,
        "samples": samples_by_query,
        "sf": sf_val,
    }
    if errors:
        payload["errors"] = errors
    if skipped:
        payload["skipped"] = skipped
    if suspect:
        payload["timings_suspect"] = True
    path = _payload_path(payload["cpus"], payload["store"], only)
    try:
        with open(path, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"# payload write failed: {exc}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": payload["value"],
                "n": len(timings),
                "errors": len(errors),
                "skipped": len(skipped),
            }
        )
    )
    print(json.dumps(_compact(payload, os.path.basename(path))))


def _warm_trained_artifacts(spark) -> None:
    """Train (or disk-load) the shared dataset-level model artifacts
    the persistent store serves: the head vectors (IVF centroids, PQ
    seeds, query set), the Lloyd-refined codebooks, the logreg
    classifier, the LM count tables, the Bloom bitset. Each is
    bounded and deterministic; a warm store turns every call into a
    JSON read. Defensive per-item: a missing table must not kill the
    bench run."""
    from parquet_extractor_spark.operators import (
        classifier,
        contamination,
        selection,
        similarity,
    )

    for label, fn in (
        ("head_vectors", lambda: similarity._head_vectors(spark, SF_DIR)),
        (
            "refined_pq_books",
            lambda: similarity.refined_pq_books(spark, SF_DIR),
        ),
        ("logreg", lambda: classifier._train(spark, SF_DIR)),
        ("lm_counts", lambda: selection.lm_count_arrays(spark, SF_DIR)),
        (
            "bloom_bitset",
            lambda: contamination.build_bloom_bitset(spark, SF_DIR),
        ),
    ):
        try:
            fn()
        except Exception as exc:
            print(f"# warm-up {label} skipped: {exc}", file=sys.stderr)


def _compact(payload: dict, full: str) -> dict:
    """The stdout parse target: the payload envelope, `n`/`omitted`
    counts, `slowest` (the ten most expensive queries of the run, so
    the heavy tail outside the window is still seen) and the medians
    of the window queries that ran. ``full`` names the file holding
    every query and sample."""
    queries = payload["queries"]
    out = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "mode": "inprocess",
        "store": payload["store"],
        "cpus": payload["cpus"],
        "sf": payload["sf"],
        "n": len(queries),
        "omitted": 0,
        "full": full,
    }
    if "errors" in payload:
        out["errors"] = len(payload["errors"])
    if "skipped" in payload:
        out["skipped"] = len(payload["skipped"])
    if payload.get("timings_suspect"):
        out["timings_suspect"] = True
    out["slowest"] = dict(
        sorted(queries.items(), key=lambda kv: -kv[1])[:10]
    )
    # The fixed window: the bench-order HEADLINE prefix through
    # duplicate_spans.
    out["queries"] = {n: queries[n] for n in HEADLINE[:32] if n in queries}
    out["omitted"] = out["n"] - len(out["queries"])
    return out


if __name__ == "__main__":
    main()
