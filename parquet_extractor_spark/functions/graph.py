"""Distributed graph primitives shared across operators.

One algorithm lives here: min-label propagation for connected
components — the engine's iterative-DataFrame pattern (each round is
one distributed join+aggregate; only the convergence check, a count,
touches the driver; a truncating ``materialize`` cuts the lineage
each round so plans don't grow with iteration count). Rounds needed = graph
diameter; state per round is one (id, label) row per node — O(nodes),
never O(edges). Consumers: dedup.dedup_components (near-dup doc
clusters) and entities/streaming entity resolution (record-linkage
clusters) — one implementation, so a fix to convergence or lineage
handling reaches every caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_extractor_spark.session import materialize, release


def min_label_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "rec_id",
    label_col: str = "cluster",
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable from it.

    ``nodes`` is a one-column frame (``id_col``); ``edges`` is a
    (src, dst) frame of UNDIRECTED edges given in one direction (the
    reverse direction is added here). Returns (id_col, label_col).
    """
    both = materialize(
        edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = materialize(
        nodes.select(id_col, F.col(id_col).alias(label_col)), truncate=True
    )
    while True:
        neigh = (
            both.join(labels, both.src == labels[id_col])
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.min(label_col).alias("neigh_min"))
        )
        # Carry the convergence flag INSIDE the checkpointed frame:
        # the old-vs-new labels were previously re-joined on id just
        # to count changes — a full extra join + exchange per round
        # (r12). Here the flag is computed in the same projection and
        # the count is a scan of the already-materialized blocks.
        stepped = materialize(
            labels.alias("l")
            .join(neigh.alias("n"), id_col, "left")
            .select(
                id_col,
                F.least(
                    F.col(f"l.{label_col}"),
                    F.coalesce(
                        F.col("n.neigh_min"), F.col(f"l.{label_col}")
                    ),
                ).alias(label_col),
                (
                    F.coalesce(F.col("n.neigh_min"), F.col(f"l.{label_col}"))
                    < F.col(f"l.{label_col}")
                ).alias("_changed"),
            ),
            truncate=True,
        )
        changed = stepped.filter(F.col("_changed")).count()
        labels = stepped.select(id_col, label_col)
        if changed == 0:
            break
    release(both)
    return labels
