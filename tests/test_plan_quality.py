"""Scale-contract tests: assert the PHYSICAL PLANS are the ones we'd
want on a 1000-executor cluster — filters pushed into the parquet
scan, scans column-pruned, small dimensions broadcast, aggregations
partial (map-side combine). A correctness-green query with a bad plan
fails here."""

from pyspark.sql import functions as F

from parquet_extractor_spark.operators import analyze, relational
from parquet_extractor_spark.plans.explain import (
    has_broadcast_hash_join,
    has_partial_aggregation,
    pushed_filters,
    read_schema_columns,
)


def test_q1_filter_reaches_parquet_scan(spark, sf_small):
    df = relational.q1_pricing_summary(spark, sf_small)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed  # date filter pushed to the scan


def test_q1_scan_is_column_pruned(spark, sf_small):
    df = relational.q1_pricing_summary(spark, sf_small)
    scans = read_schema_columns(df)
    assert len(scans) == 1
    # 7 needed columns out of 11 — quantity/price/discount/tax/flags/date
    assert scans[0] == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_q1_has_partial_aggregation(spark, sf_small):
    assert has_partial_aggregation(relational.q1_pricing_summary(spark, sf_small))


def test_q5_broadcasts_dimensions(spark, sf_small):
    df = relational.q5_region_revenue(spark, sf_small)
    assert has_broadcast_hash_join(df)


def test_top_brands_broadcasts_part(spark, sf_small):
    df = relational.top_brands_by_revenue(spark, sf_small)
    assert has_broadcast_hash_join(df)
    # the fact scan reads only the 3 needed lineitem columns
    li_scans = [
        s for s in read_schema_columns(df) if "l_extendedprice" in s
    ]
    assert li_scans and li_scans[0] == {
        "l_partkey",
        "l_extendedprice",
        "l_discount",
    }


def test_doc_token_counts_prunes_to_two_columns(spark, sf_small):
    df = analyze.doc_token_counts(spark, sf_small)
    scans = read_schema_columns(df)
    assert scans[0] == {"doc_id", "text"}


def test_corpus_stats_partial_agg(spark, sf_small):
    assert has_partial_aggregation(analyze.corpus_stats(spark, sf_small))


def test_filter_pushdown_composes_through_our_loaders(spark, sf_small):
    from parquet_extractor_spark.sources.tables import load_table

    df = load_table(spark, sf_small, "orders").filter(
        F.col("o_orderkey") == 42
    )
    pushed = " ".join(pushed_filters(df))
    assert "o_orderkey" in pushed


def test_range_join_broadcasts_range_dim(spark, sf_small):
    """The quarter range dim must broadcast: a non-equi join against a
    shuffled fact table would be a cross-product disaster at scale."""
    from parquet_extractor_spark.operators import timeseries
    from parquet_extractor_spark.plans.explain import formatted_plan

    plan = formatted_plan(
        timeseries.orders_quarter_range_join(spark, sf_small)
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_ivf_probe_join_is_broadcast(spark, sf_small):
    """IVF candidate join: probes (n_queries x nprobe rows) broadcast
    against the assigned vectors — no shuffle of the vector table."""
    from parquet_extractor_spark.operators import similarity

    df = similarity.ann_ivf(spark, sf_small)
    assert has_broadcast_hash_join(df)


def test_ann_ivf_assignment_scan_pruned(spark, sf_small):
    """The embeddings scan reads only vec_id + embedding."""
    from parquet_extractor_spark.operators import similarity

    df = similarity.ann_ivf(spark, sf_small)
    for cols in read_schema_columns(df):
        assert cols <= {"vec_id", "embedding"}


def test_events_cube_single_scan_partial_agg(spark, sf_small):
    """CUBE expands grouping sets in one pass: exactly one events scan,
    map-side partial aggregation."""
    from parquet_extractor_spark.operators import relational

    df = relational.events_cube(spark, sf_small)
    assert has_partial_aggregation(df)
    scans = read_schema_columns(df)
    assert len(scans) == 1


def test_ngram_jaccard_partial_agg(spark, sf_small):
    """The pair-overlap tier's build plan must partial-aggregate; the
    consumers scan the materialized tier (exercised by test_tiers)."""
    from parquet_extractor_spark.operators import dedup
    from parquet_extractor_spark.session import release

    postings: list = []
    plan = dedup._pair_overlap_plan(spark, sf_small, postings)
    try:
        assert has_partial_aggregation(plan)
    finally:
        for df in postings:
            release(df)


def test_q8_broadcasts_dimensions_and_prunes_fact(spark, sf_small):
    """7-way Q8 join: every dimension rides a broadcast hash join; the
    lineitem scan reads only the 5 join/measure columns."""
    from parquet_extractor_spark.operators import tpch

    df = tpch.q8_market_share(spark, sf_small)
    assert has_broadcast_hash_join(df)
    li_scans = [s for s in read_schema_columns(df) if "l_extendedprice" in s]
    assert li_scans and li_scans[0] == {
        "l_partkey",
        "l_orderkey",
        "l_suppkey",
        "l_extendedprice",
        "l_discount",
    }


def test_q10_filters_reach_both_fact_scans(spark, sf_small):
    """Q10: the returnflag filter pushes into the lineitem scan and the
    quarter filter into the orders scan — at 100 TB both scans read
    only matching row groups."""
    from parquet_extractor_spark.operators import tpch

    pushed = " ".join(pushed_filters(tpch.q10_returned_items(spark, sf_small)))
    assert "l_returnflag" in pushed
    assert "o_orderdate" in pushed


def test_q15_scalar_max_is_broadcast(spark, sf_small):
    """Q15's decorrelated max-revenue scalar must join as a broadcast
    (1 row), never shuffling the revenue view."""
    from parquet_extractor_spark.operators import tpch

    df = tpch.q15_top_supplier(spark, sf_small)
    assert has_broadcast_hash_join(df)
    assert has_partial_aggregation(df)


def test_q18_having_agg_is_partial(spark, sf_small):
    """Q18's qualifying-order aggregation must have a map-side partial
    pass; customer joins via broadcast."""
    from parquet_extractor_spark.operators import tpch

    df = tpch.q18_large_volume_customers(spark, sf_small)
    assert has_partial_aggregation(df)
    assert has_broadcast_hash_join(df)


def test_q19_disjunctive_scan_pruned(spark, sf_small):
    """Q19: the OR'd predicate can't fully push down, but column
    pruning must still hold — the lineitem scan reads exactly the 4
    needed columns."""
    from parquet_extractor_spark.operators import tpch

    df = tpch.q19_disjunctive_revenue(spark, sf_small)
    li_scans = [s for s in read_schema_columns(df) if "l_quantity" in s]
    assert li_scans and li_scans[0] == {
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    }


def test_no_forced_broadcast_of_scaling_tables(spark, sf_small):
    """Guard against reintroducing the r02 scale-killers: the
    per-document sizes table (ngram_jaccard) and the vocabulary
    marginal table (pmi) must NOT carry a broadcast hint — their
    cardinality scales with the corpus, and a hint would pin the
    doomed plan even when AQE knows better. (ngram_jaccard's hot-
    shingle hint is bounded and sits behind the persist boundary, so
    it does not appear here.)"""
    from parquet_extractor_spark.operators import corpus_index, dedup
    from parquet_extractor_spark.plans.explain import forced_broadcast_count

    assert forced_broadcast_count(dedup.ngram_jaccard_pairs(spark, sf_small)) == 0
    assert forced_broadcast_count(corpus_index.pmi_top_pairs(spark, sf_small)) == 0


def test_winnowing_plan_is_map_side(spark, sf_small):
    """Fingerprint selection must stay a scan + projections: no join,
    no aggregate exchange (the only exchange is the output sort)."""
    from parquet_extractor_spark.operators.quality import winnowing_fingerprints

    plan = (
        winnowing_fingerprints(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "HashAggregate" not in plan


def test_label_text_profile_partial_agg_no_forced_broadcast(spark, sf_small):
    from parquet_extractor_spark.operators.analyze import label_text_profile
    from parquet_extractor_spark.plans.explain import (
        forced_broadcast_count,
        has_partial_aggregation,
    )

    df = label_text_profile(spark, sf_small)
    assert has_partial_aggregation(df)
    # the embeddings projection scales with the corpus: no pinned hint
    assert forced_broadcast_count(df) == 0


def test_tpch_completions_plan_shape(spark, sf_small):
    """The derived-partsupp TPC-H adaptations (Q2/Q4/Q11/Q16/Q20) must
    keep the decorrelated shapes: dimensions broadcast, aggregations
    partial, and the date filters pushed into the lineitem scan."""
    from parquet_extractor_spark.operators import tpch

    for fn in (
        tpch.q2_min_price_supplier,
        tpch.q11_important_part_values,
        tpch.q16_supplier_part_counts,
    ):
        df = fn(spark, sf_small)
        assert has_broadcast_hash_join(df), fn.__name__
        assert has_partial_aggregation(df), fn.__name__

    q4 = tpch.q4_order_priority_checking(spark, sf_small)
    assert "o_orderdate" in " ".join(pushed_filters(q4))
    assert has_partial_aggregation(q4)

    q20 = tpch.q20_excess_shippers(spark, sf_small)
    assert "l_shipdate" in " ".join(pushed_filters(q20))
    assert has_partial_aggregation(q20)


def test_minhash_signatures_have_no_aggregation(spark, sf_small):
    """r03 regression guard: signature_frame is pure projection — the
    explode+groupBy form would show a HashAggregate (and its exchange)
    here. The only acceptable exchanges are spread()'s round-robin
    parallelism repartition and the public API's display sort."""
    from parquet_extractor_spark.operators.dedup import signature_frame
    from parquet_extractor_spark.sources.tables import load_table

    df = signature_frame(load_table(spark, sf_small, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan


def test_plans_audit_covers_every_registered_query():
    """PLANS.md regression guard: the committed plan audit must have
    one row per queries() entry (the review in r03 caught a silently
    missing row after a registry addition)."""
    import os
    import re

    import __spark_entry__ as entrymod

    plans = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS.md",
    )
    text = open(plans).read()
    audited = set(re.findall(r"^\| (\w+) \|", text, flags=re.M))
    missing = set(entrymod.queries()) - audited
    assert not missing, f"run tools/audit_plans.py — missing: {sorted(missing)}"


def test_no_direct_unpartitioned_windows_in_source():
    """r03 verdict item 8: a global (unpartitioned) window is only
    legitimate over a K-bounded input, and every such site must go
    through functions.windows.bounded_global_window — whose lit(0)
    partition keeps WindowExec from WARNing, so run logs stay clean
    enough that a REAL unbounded global window stands out. This lint
    makes the rule mechanical: no operator/source/sink/stream file may
    call Window.orderBy directly (docstrings mentioning it are fine —
    only call sites match)."""
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "parquet_extractor_spark",
    )
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            if fname == "windows.py":
                continue
            path = os.path.join(dirpath, fname)
            for lineno, line in enumerate(open(path), start=1):
                if re.search(r"\bWindow\.orderBy\(", line) and not (
                    line.lstrip().startswith("#")
                    or "``" in line
                ):
                    offenders.append(f"{path}:{lineno}")
    assert not offenders, (
        f"use bounded_global_window (functions/windows.py): {offenders}"
    )


def test_stream_drain_protocol_lives_only_in_drain():
    """Every availableNow runner goes through streaming.drain, which
    owns the trigger, the timeout and the stop-and-raise on a missed
    timeout. A runner that copies the protocol instead can drop the
    timeout check and return a partial result, so outside ``drain``
    no package file may mention ``awaitTermination(`` or
    ``availableNow`` (docstrings included), and ``drain`` holds
    exactly one call of each."""
    import ast
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "parquet_extractor_spark",
    )
    home = os.path.join(root, "streaming", "__init__.py")
    drain = next(
        node
        for node in ast.parse(open(home).read()).body
        if isinstance(node, ast.FunctionDef) and node.name == "drain"
    )
    calls = [n for n in ast.walk(drain) if isinstance(n, ast.Call)]
    assert sum(
        isinstance(c.func, ast.Attribute)
        and c.func.attr == "awaitTermination"
        for c in calls
    ) == 1
    assert sum(
        kw.arg == "availableNow" for c in calls for kw in c.keywords
    ) == 1

    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            for lineno, line in enumerate(open(path), start=1):
                if not re.search(r"awaitTermination\(|availableNow", line):
                    continue
                if path == home and (
                    drain.lineno <= lineno <= drain.end_lineno
                ):
                    continue
                offenders.append(f"{path}:{lineno}")
    assert not offenders, (
        f"drain a stream through streaming.drain: {offenders}"
    )


def test_caching_lives_only_in_materialize():
    """Every cached frame goes through session.materialize, which owns
    the storage level, the lazy-persist-or-truncate choice and the
    registration with the open query scope. A site that persists or
    checkpoints by hand escapes the scope and holds its blocks until
    a session-wide sweep, so outside ``materialize`` no package file
    may mention ``.persist(``, ``.cache(``, ``localCheckpoint(`` or
    ``StorageLevel`` (docstrings included), and ``materialize`` holds
    exactly one ``persist`` call and one ``localCheckpoint`` call."""
    import ast
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "parquet_extractor_spark",
    )
    home = os.path.join(root, "session.py")
    helper = next(
        node
        for node in ast.parse(open(home).read()).body
        if isinstance(node, ast.FunctionDef) and node.name == "materialize"
    )
    called = [
        n.func.attr
        for n in ast.walk(helper)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]
    assert called.count("persist") == 1
    assert called.count("localCheckpoint") == 1

    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            for lineno, line in enumerate(open(path), start=1):
                if not re.search(
                    r"\.persist\(|\.cache\(|localCheckpoint\(|StorageLevel",
                    line,
                ):
                    continue
                if path == home and (
                    helper.lineno <= lineno <= helper.end_lineno
                ):
                    continue
                offenders.append(f"{path}:{lineno}")
    assert not offenders, (
        f"cache a frame through session.materialize: {offenders}"
    )


def test_store_keys_are_unique_and_private_names_stay_home():
    """Two rules for the persistent store (store.py). No package module
    imports a ``_``-prefixed name from ``store``: its key, path, lock
    and memo are private to it. And every ``memo_artifact`` /
    ``ensure_tier`` call names its entry with a ``str`` literal that
    no other call site uses — two builders sharing one name share one
    key and would serve each other's values."""
    import ast
    import collections
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "parquet_extractor_spark",
    )
    private, sites = [], collections.defaultdict(list)
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            for n in ast.walk(ast.parse(open(path).read())):
                if (
                    isinstance(n, ast.ImportFrom)
                    and (n.module or "").split(".")[-1] == "store"
                ):
                    private += [
                        f"{path}:{n.lineno} {a.name}"
                        for a in n.names
                        if a.name.startswith("_")
                    ]
                if not isinstance(n, ast.Call):
                    continue
                fn = getattr(n.func, "id", getattr(n.func, "attr", None))
                if fn not in ("memo_artifact", "ensure_tier"):
                    continue
                name = n.args[2] if len(n.args) > 2 else None
                label = (
                    name.value
                    if isinstance(name, ast.Constant)
                    and isinstance(name.value, str)
                    else f"<non-literal {fn} name>"
                )
                sites[label].append(f"{path}:{n.lineno}")
    assert not private, f"private store names imported: {private}"
    assert sites, "no store call sites found"
    shared = {k: v for k, v in sites.items() if len(v) != 1 or k[0] == "<"}
    assert not shared, f"store names not unique literals: {shared}"


def test_driver_rows_go_through_local_frame():
    """Driver-side rows become a frame only through
    sources.tables.local_frame, which plans a JVM LocalRelation. A
    list handed to ``createDataFrame`` plans a Python-RDD scan that
    starts a Python worker on every execution, so outside
    ``local_frame`` no package file may mention ``createDataFrame(``
    (docstrings included), and ``local_frame`` holds exactly one
    ``createDataFrame`` call."""
    import ast
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "parquet_extractor_spark",
    )
    home = os.path.join(root, "sources", "tables.py")
    helper = next(
        node
        for node in ast.parse(open(home).read()).body
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
    )
    called = [
        n.func.attr
        for n in ast.walk(helper)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]
    assert called.count("createDataFrame") == 1

    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            for lineno, line in enumerate(open(path), start=1):
                if not re.search(r"createDataFrame\(", line):
                    continue
                if path == home and (
                    helper.lineno <= lineno <= helper.end_lineno
                ):
                    continue
                offenders.append(f"{path}:{lineno}")
    assert not offenders, (
        f"build driver-side rows with sources.tables.local_frame: {offenders}"
    )


def test_brand_price_rank_assoc_pair_join_is_bucketed(spark, sf_small):
    """The r10 scale contract for the pair generator: the self-join
    must key on (brand, bucket), not brand alone — a brand-only
    equi-join is quadratic in parts-per-brand (the 58.6s r09 shape).
    The bucket expression must appear among the join keys in the
    physical plan."""
    from parquet_extractor_spark.operators.timeseries import (
        brand_price_rank_assoc,
    )
    from parquet_extractor_spark.plans.explain import formatted_plan

    plan = formatted_plan(brand_price_rank_assoc(spark, sf_small))
    lines = plan.splitlines()
    # the brand_n count table joins on p_brand alone (fine — a
    # ≤|brands|-row broadcast); the PAIR self-join must carry the
    # bucket as a second equi-key
    pair_keys = [
        ln for ln in lines
        if "keys" in ln and "p_brand" in ln and "bucket" in ln
    ]
    assert pair_keys, (
        "pair join lost its bucket key — quadratic shape reintroduced"
    )
    # and the inequality (p1 < p2) must be a post-join condition of a
    # keyed join, not the join itself
    assert any(
        "Join condition" in ln and "p_partkey" in ln and "<" in ln
        for ln in lines
    )
