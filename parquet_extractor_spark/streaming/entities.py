"""Incremental (streaming) entity resolution: new records arrive in
micro-batches and are linked against a persistent cluster state —
the production form of record linkage, where the customer master
grows continuously and re-clustering the full history per arrival is
not an option.

Per micro-batch:

1. shingle the arriving records and compute their prefix grams under
   the HASH total order (operators/entities.hash_prefix_grams) — a
   data-independent order, so prefixes stored in state at ANY earlier
   epoch remain a valid prefix-filter side against every future
   batch (the lemma needs one common total order; the batch form's
   frequency order drifts with the data and is only safe one-shot);
2. candidate pairs = batch-prefix ⋈ state-prefix (on the gram) plus
   the batch's own prefix self-join — never batch × state;
3. exact trigram-Jaccard verification on the carried gram arrays;
4. min-label components over {batch records} ∪ {touched state
   CLUSTERS} — state clusters act as supernodes (an edge to any
   member is an edge to its label), so a new record linking two old
   clusters merges them transitively, and labels stay "min rec_id of
   the component" exactly as the batch operator defines them;
5. the state table is rewritten as ONE epoch-tagged OVERWRITE
   snapshot (sinks/versioned.py): replay is a detected no-op (tag
   check BEFORE any recompute — matching against post-advance state
   would mis-link), history is time-travelable ("the customer master
   as of cycle K").

Equality contract (pinned in tests/test_streaming.py): after
draining ANY partition of the records into ordered batches, the
final state's clustering and golden records equal the one-shot batch
``entity_resolution`` over the same records — arrival order cannot
change the resolved entities.

Scale shape: per cycle the work is (batch prefixes) ⋈ (state
prefixes) — candidate-bounded, proportional to the day's arrivals
times prefix selectivity, never to the master's size; the state
carries 8-byte-bounded prefix grams per record, O(records) rows. The
full-table OVERWRITE rewrite per epoch is the fixture-scale
simplification: a production deployment partitions the state by
cluster-hash and rewrites only touched partitions (same manifest
mechanics; the snapshot sink already supports per-file manifests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_extractor_spark.operators.entities import (
    _min_label_components,
    _with_grams,
    hash_prefix_grams,
    verify_candidate_pairs,
)
from parquet_extractor_spark.streaming import drain

STATE_SCHEMA = (
    "rec_id BIGINT, name STRING, cluster BIGINT, "
    "grams ARRAY<STRING>, prefix ARRAY<STRING>"
)


def _grammed_with_prefix(records: DataFrame) -> DataFrame:
    """(rec_id, name, grams, prefix) for arriving records — prefix
    under the hash order, stored so future batches join against it
    without recomputing state-side windows."""
    grammed = _with_grams(records)
    prefix = (
        hash_prefix_grams(grammed)
        .groupBy("rec_id")
        .agg(F.collect_list("gram").alias("prefix"))
    )
    return grammed.join(prefix, "rec_id")


def resolve_increment(
    state: DataFrame | None, batch: DataFrame
) -> DataFrame:
    """One resolution step: link ``batch`` (rec_id, name) against
    ``state`` (STATE_SCHEMA rows or None) and return the NEW full
    state frame. Pure DataFrame logic — shared by the streaming sink
    and any batch backfill."""
    new = _grammed_with_prefix(batch)
    new_prefix = new.select("rec_id", F.explode("prefix").alias("gram"))

    if state is None:
        state_rows = None
        cross_edges = None
    else:
        state_prefix = state.select(
            "rec_id", "cluster", F.explode("prefix").alias("gram")
        )
        cross_cands = (
            new_prefix.alias("a")
            .join(state_prefix.alias("b"), "gram")
            .select(
                F.col("a.rec_id").alias("rec_a"),
                F.col("b.rec_id").alias("rec_b"),
            )
            .distinct()
        )
        cross_pairs = verify_candidate_pairs(
            cross_cands,
            new.select("rec_id", "grams"),
            state.select("rec_id", "grams"),
        )
        # state records collapse to their cluster supernode
        cross_edges = (
            cross_pairs.join(
                state.select(
                    F.col("rec_id").alias("rec_b"),
                    F.col("cluster").alias("dst"),
                ),
                "rec_b",
            )
            .select(F.col("rec_a").alias("src"), "dst")
            .distinct()
        )
        state_rows = state

    within_cands = (
        new_prefix.alias("a")
        .join(new_prefix.alias("b"), "gram")
        .filter(F.col("a.rec_id") < F.col("b.rec_id"))
        .select(
            F.col("a.rec_id").alias("rec_a"),
            F.col("b.rec_id").alias("rec_b"),
        )
        .distinct()
    )
    within_pairs = verify_candidate_pairs(
        within_cands,
        new.select("rec_id", "grams"),
        new.select("rec_id", "grams"),
    )
    within_edges = within_pairs.select(
        F.col("rec_a").alias("src"), F.col("rec_b").alias("dst")
    )

    batch_nodes = new.select("rec_id")
    if cross_edges is not None:
        touched_clusters = cross_edges.select(
            F.col("dst").alias("rec_id")
        ).distinct()
        nodes = batch_nodes.union(touched_clusters)
        edges = within_edges.union(cross_edges)
    else:
        nodes = batch_nodes
        edges = within_edges

    labels = _min_label_components(nodes, edges)

    new_labeled = new.join(labels, "rec_id").select(
        "rec_id", "name", F.col("cluster"), "grams", "prefix"
    )
    if state_rows is None:
        return new_labeled
    # relabel touched state clusters; untouched rows pass through
    remap = labels.select(
        F.col("rec_id").alias("cluster"),
        F.col("cluster").alias("new_cluster"),
    )
    old_relabeled = (
        state_rows.join(remap, "cluster", "left")
        .select(
            "rec_id",
            "name",
            F.coalesce("new_cluster", "cluster").alias("cluster"),
            "grams",
            "prefix",
        )
    )
    return old_relabeled.unionByName(new_labeled)


# ── incremental customer ER: the sf-SCALED blocked twin ─────────────
#
# operators/entities.customer_entity_resolution resolves the full
# customer table one-shot: block on name-minus-last-2, edge =
# levenshtein ≤ CUSTOMER_ER_MAX_DIST within a block, min-label CC,
# golden-record survivorship. The incremental twin below applies the
# SAME predicate as customers arrive in micro-batches, carrying a
# persistent (customer rows + cluster label) state through
# epoch-tagged OVERWRITE snapshots exactly like the trigram ER stream
# above: batch×state candidate generation is an equi-join on the
# blocking key (never batch × master), state clusters act as
# supernodes in the per-batch component step, and replayed epochs
# short-circuit on their tag. Equality contract (pinned in
# tests/test_streaming.py): after draining ANY partition of the
# customer table into ordered batches, customer_golden_records(state)
# row-equals the one-shot batch query.
#
# Correctness note mirroring the module docstring: the state is
# transitively closed under the edge predicate after every epoch
# (every historical pair within one block was evaluated when its
# later member arrived), so per-batch linking only ever needs
# batch-batch and batch-state edges.

CUSTOMER_STATE_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, "
    "cents BIGINT, block STRING, cluster BIGINT"
)


def _customers_blocked(batch: DataFrame) -> DataFrame:
    """Arriving customer rows with the survivorship columns and the
    blocking key precomputed (identical expressions to the batch
    query, operators/entities.py)."""
    return batch.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        "c_name",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.expr("substring(c_name, 1, length(c_name) - 2)").alias("block"),
    )


def resolve_customers_increment(
    state: DataFrame | None, batch: DataFrame
) -> DataFrame:
    """One customer-ER step: link arriving customer rows against the
    persistent state and return the NEW full state frame
    (CUSTOMER_STATE_SCHEMA). Pure DataFrame logic."""
    from parquet_extractor_spark.functions.graph import (
        min_label_components,
    )
    from parquet_extractor_spark.operators.entities import (
        CUSTOMER_ER_MAX_DIST,
    )

    new = _customers_blocked(batch)
    a, b = new.alias("a"), new.alias("b")
    within_edges = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
            <= CUSTOMER_ER_MAX_DIST
        )
        .select(
            F.col("a.c_custkey").alias("src"),
            F.col("b.c_custkey").alias("dst"),
        )
    )
    if state is None:
        nodes = new.select("c_custkey")
        edges = within_edges
    else:
        s = state.alias("s")
        cross_edges = (
            new.alias("n")
            .join(s, F.col("n.block") == F.col("s.block"))
            .filter(
                F.levenshtein(F.col("n.c_name"), F.col("s.c_name"))
                <= CUSTOMER_ER_MAX_DIST
            )
            # state records collapse to their cluster supernode
            .select(
                F.col("n.c_custkey").alias("src"),
                F.col("s.cluster").alias("dst"),
            )
            .distinct()
        )
        touched = cross_edges.select(
            F.col("dst").alias("c_custkey")
        ).distinct()
        nodes = new.select("c_custkey").union(touched)
        edges = within_edges.union(cross_edges)

    labels = min_label_components(
        nodes, edges, id_col="c_custkey", label_col="cluster"
    )
    new_labeled = new.join(labels, "c_custkey").select(
        "c_custkey", "c_name", "c_nationkey", "cents", "block", "cluster"
    )
    if state is None:
        return new_labeled
    remap = labels.select(
        F.col("c_custkey").alias("cluster"),
        F.col("cluster").alias("new_cluster"),
    )
    old_relabeled = state.join(remap, "cluster", "left").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "cents",
        "block",
        F.coalesce("new_cluster", "cluster").alias("cluster"),
    )
    return old_relabeled.unionByName(new_labeled)


def customer_golden_records(state: DataFrame) -> DataFrame:
    """Golden records from the resolved state — the same survivorship
    aggregation (and column names) as the batch
    customer_entity_resolution query."""
    return (
        state.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("c_name").alias("canonical_name"),
            F.sum("cents").cast("bigint").alias("total_acctbal_cents"),
            F.countDistinct("c_nationkey")
            .cast("bigint")
            .alias("n_nations"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("component"),
            "n_members",
            "canonical_name",
            "total_acctbal_cents",
            "n_nations",
        )
        .orderBy("component")
    )


def run_customer_er_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_table_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain a customer-arrivals landing directory (parquet files of
    (c_custkey, c_name, c_nationkey, c_acctbal)) into the persistent
    cluster state, one epoch-tagged OVERWRITE snapshot per
    micro-batch. Returns the final state frame."""
    from parquet_extractor_spark.sinks.versioned import (
        commit_snapshot,
        read_snapshot,
        snapshots,
    )

    stream = (
        spark.readStream.schema(
            "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, "
            "c_acctbal DOUBLE"
        )
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        tag = f"epoch-{epoch}"
        if any(m.get("tag") == tag for m in snapshots(state_table_dir)):
            return  # replay: resolving against advanced state mis-links
        try:
            state = read_snapshot(spark, state_table_dir)
        except FileNotFoundError:
            state = None
        new_state = resolve_customers_increment(state, batch)
        commit_snapshot(
            new_state, state_table_dir, mode="overwrite", tag=tag
        )

    drain(
        stream.writeStream.foreachBatch(_sink),
        checkpoint_dir,
        "customer_er",
    )
    return read_snapshot(spark, state_table_dir)


def run_entity_resolution_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_table_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain a records landing directory (parquet files of
    (rec_id BIGINT, name STRING, city STRING)) into the persistent
    cluster state, one epoch-tagged OVERWRITE snapshot per
    micro-batch. Returns the final state frame."""
    from parquet_extractor_spark.sinks.versioned import (
        commit_snapshot,
        read_snapshot,
        snapshots,
    )

    stream = (
        spark.readStream.schema(
            "rec_id BIGINT, name STRING, city STRING"
        )
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        tag = f"epoch-{epoch}"
        if any(m.get("tag") == tag for m in snapshots(state_table_dir)):
            return  # replay: resolving against advanced state mis-links
        try:
            state = read_snapshot(spark, state_table_dir)
        except FileNotFoundError:
            state = None
        new_state = resolve_increment(
            state, batch.select("rec_id", "name")
        )
        commit_snapshot(
            new_state, state_table_dir, mode="overwrite", tag=tag
        )

    drain(
        stream.writeStream.foreachBatch(_sink),
        checkpoint_dir,
        "entity_resolution",
    )
    return read_snapshot(spark, state_table_dir)
