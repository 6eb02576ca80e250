"""Planted-fixture tests for the r09 statistics additions:
Mann-Whitney source comparison, revenue Gini, day-of-week chi-square,
trigram lift, and the reshard movement report."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import duckdb
import pytest


def _write_parquet(path, select_sql):
    duckdb.sql(f"COPY ({select_sql}) TO '{path}' (FORMAT PARQUET)")


def _docs_fixture(tmp_path, rows):
    """rows: list of (doc_id, source, n_chars)."""
    fixture = tmp_path / "sf"
    fixture.mkdir()
    values = ", ".join(
        f"({i}, 'txt', 'en', '{s}', {n})" for i, s, n in rows
    )
    _write_parquet(
        fixture / "documents.parquet",
        f"SELECT * FROM (VALUES {values}) "
        "t(doc_id, text, lang, source, n_chars)",
    )
    return fixture


def test_source_length_mannwhitney_hand_computed(spark, tmp_path):
    """Three sources with known lengths; 2U and AUC recomputed by
    hand, including the tie between alpha's 2 and beta's 2."""
    from parquet_extractor_spark.operators.analyze import (
        source_length_mannwhitney,
    )

    lengths = {"alpha": [1, 2, 3], "beta": [2, 4], "gamma": [5]}
    rows = []
    i = 0
    for s, ls in lengths.items():
        for n in ls:
            rows.append((i, s, n))
            i += 1
    fixture = _docs_fixture(tmp_path, rows)
    got = {
        (r.source_a, r.source_b): r
        for r in source_length_mannwhitney(spark, str(fixture)).collect()
    }
    assert set(got) == {
        ("alpha", "beta"),
        ("alpha", "gamma"),
        ("beta", "gamma"),
    }
    for (sa, sb), r in got.items():
        la, lb = lengths[sa], lengths[sb]
        u2 = sum(
            2 * sum(1 for y in lb if y < x) + sum(1 for y in lb if y == x)
            for x in la
        )
        assert (r.n_a, r.n_b, r.u2_a) == (len(la), len(lb), u2)
        assert r.auc_micro == u2 * 1_000_000 // (2 * len(la) * len(lb))
    # alpha vs beta: a={1,2,3}, b={2,4}: 2U = 0 + (0*2+1) + 2 = 3
    assert got[("alpha", "beta")].u2_a == 3
    assert got[("alpha", "beta")].auc_micro == 250_000
    # gamma is longer than everything -> AUC against it is 0
    assert got[("alpha", "gamma")].auc_micro == 0
    assert got[("beta", "gamma")].u2_a == 0


def test_customer_revenue_gini_equal_and_skewed(spark, tmp_path):
    """Equal revenues -> Gini 0; a planted 100/100/400 segment ->
    exactly 1/3 (333333 micro)."""
    from parquet_extractor_spark.operators.relational import (
        customer_revenue_gini,
    )

    fixture = tmp_path / "sf"
    fixture.mkdir()
    custs = [
        (1, "EQ"), (2, "EQ"), (3, "EQ"),
        (4, "SKEW"), (5, "SKEW"), (6, "SKEW"),
    ]
    _write_parquet(
        fixture / "customer.parquet",
        "SELECT * FROM (VALUES "
        + ", ".join(f"({k}, 'c{k}', 0, 0.0, '{seg}')" for k, seg in custs)
        + ") t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)",
    )
    revenue = {1: 100.0, 2: 100.0, 3: 100.0, 4: 100.0, 5: 100.0, 6: 400.0}
    _write_parquet(
        fixture / "orders.parquet",
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({k}, {k}, 'O', {v}, TIMESTAMP '2024-01-01', 'LOW')"
            for k, v in revenue.items()
        )
        + ") t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority)",
    )
    got = {
        r.mktsegment: r
        for r in customer_revenue_gini(spark, str(fixture)).collect()
    }
    assert got["EQ"].gini_micro == 0
    assert got["EQ"].n_customers == 3
    assert got["EQ"].revenue_units == 300
    # sorted x = [100,100,400]: G = (2*1500 - 4*600)/(3*600) = 1/3
    assert got["SKEW"].gini_micro == 333_333


def test_events_dow_chisq_flat_vs_spike(spark, tmp_path):
    """A uniform 7-day series scores chisq 0; a one-day spike of n
    events scores exactly 6n (micro 6n*1e6), with densified zero
    cells for the other six weekdays."""
    from parquet_extractor_spark.operators.timeseries import (
        events_dow_chisq,
    )

    fixture = tmp_path / "sf"
    fixture.mkdir()
    rows = []
    eid = 0
    # 'flat': 2024-01-07 is a Sunday; 3 events each day for 7 days
    for day in range(7):
        for k in range(3):
            rows.append(
                f"({eid}, TIMESTAMP '2024-01-07' + INTERVAL {day} DAY"
                f" + INTERVAL {k} MINUTE, 1, 'flat', 0.0, '')"
            )
            eid += 1
    # 'spike': 10 events, all on Monday 2024-01-01
    for k in range(10):
        rows.append(
            f"({eid}, TIMESTAMP '2024-01-01' + INTERVAL {k} MINUTE,"
            " 1, 'spike', 0.0, '')"
        )
        eid += 1
    _write_parquet(
        fixture / "events.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)",
    )
    got = events_dow_chisq(spark, str(fixture)).collect()
    by_type = defaultdict(dict)
    for r in got:
        by_type[r.event_type][r.dow] = r
    # densified: every type carries all 7 dows
    assert sorted(by_type["flat"]) == list(range(7))
    assert sorted(by_type["spike"]) == list(range(7))
    for dow, r in by_type["flat"].items():
        assert (r.n, r.share_micro, r.chisq_micro) == (3, 142_857, 0)
    for dow, r in by_type["spike"].items():
        assert r.chisq_micro == 6 * 10 * 1_000_000
        if dow == 1:  # Monday
            assert (r.n, r.share_micro) == (10, 1_000_000)
        else:
            assert (r.n, r.share_micro) == (0, 0)


def test_event_trigram_lift_hand_computed(spark, tmp_path):
    """One user stream view,view,click,view,view,click — every
    trigram count and lift recomputed by hand from the sequence."""
    from parquet_extractor_spark.operators.timeseries import (
        event_trigram_lift,
    )

    seq = ["view", "view", "click", "view", "view", "click"]
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "events.parquet",
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, TIMESTAMP '2024-01-01' + INTERVAL {i} MINUTE,"
            f" 1, '{t}', 0.0, '')"
            for i, t in enumerate(seq)
        )
        + ") t(event_id, ts, user_id, event_type, value, props)",
    )
    tri = Counter(zip(seq, seq[1:], seq[2:]))
    n_ab = Counter()
    n_bc = Counter()
    n_b = Counter()
    for (a, b, c), n in tri.items():
        n_ab[(a, b)] += n
        n_bc[(b, c)] += n
        n_b[b] += n
    got = event_trigram_lift(spark, str(fixture)).collect()
    assert len(got) == len(tri)
    for r in got:
        key = (r.prev2, r.prev1, r.next_type)
        assert r.n == tri[key]
        want = (
            tri[key] * n_b[key[1]] * 1_000_000
            // (n_ab[(key[0], key[1])] * n_bc[(key[1], key[2])])
        )
        assert r.lift_micro == want
    lifts = {(r.prev2, r.prev1, r.next_type): r.lift_micro for r in got}
    # knowing the second 'view' was preceded by 'view' makes 'click'
    # more likely than P(click|view) alone
    assert lifts[("view", "view", "click")] == 1_500_000
    assert lifts[("view", "click", "view")] == 1_000_000
    assert lifts[("click", "view", "view")] == 3_000_000


def _phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_reshard_movement_matches_python_and_theory(spark, sf_small):
    """Recompute both strategies' movement with hashlib over the real
    sf0.001 doc_ids; rendezvous must move far less than mod."""
    from parquet_extractor_spark.operators.training import (
        _HRW_CAP,
        RESHARD_FROM,
        RESHARD_SALT,
        RESHARD_TO,
        reshard_movement_report,
    )

    doc_ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_small}/documents.parquet'"
        ).fetchall()
    ]
    want = {}
    mod_moved = sum(
        1
        for d in doc_ids
        if _phash(f"mod-v1:{d}") % RESHARD_FROM
        != _phash(f"mod-v1:{d}") % RESHARD_TO
    )
    want["mod"] = (len(doc_ids), mod_moved)
    hrw_moved = 0
    for d in doc_ids:
        keys = [
            (_phash(f"{RESHARD_SALT}:{d}:{s}") % _HRW_CAP) * 16 + s
            for s in range(RESHARD_TO)
        ]
        old = max(keys[:RESHARD_FROM]) % 16
        new = max(keys) % 16
        hrw_moved += old != new
    want["rendezvous"] = (len(doc_ids), hrw_moved)

    got = {
        r.strategy: r
        for r in reshard_movement_report(spark, sf_small).collect()
    }
    for strat, (n, moved) in want.items():
        assert (got[strat].n_docs, got[strat].n_moved) == (n, moved)
        assert got[strat].moved_share_micro == moved * 1_000_000 // n
    # consistent placement: rendezvous ~= 1 - FROM/TO (20%), mod ~80%
    assert got["rendezvous"].n_moved < got["mod"].n_moved
    assert got["rendezvous"].moved_share_micro < 350_000
    assert got["mod"].moved_share_micro > 650_000


def test_brand_price_rank_assoc_hand_computed(spark, tmp_path):
    """Monotone brand pins gamma = 1; a planted brand with a reversal
    and a size tie is recomputed pair-by-pair in Python."""
    from parquet_extractor_spark.operators.timeseries import (
        brand_price_rank_assoc,
    )

    parts = {
        "B1": [(1, 1.00), (2, 2.00), (3, 3.00)],
        "B2": [(1, 3.00), (2, 1.00), (3, 2.00), (3, 1.50)],
    }
    fixture = tmp_path / "sf"
    fixture.mkdir()
    rows = []
    pk = 1
    for brand, ps in parts.items():
        for size, price in ps:
            rows.append(f"({pk}, 'p{pk}', '{brand}', 't', {size}, {price})")
            pk += 1
    _write_parquet(
        fixture / "part.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)",
    )
    got = {
        r.p_brand: r
        for r in brand_price_rank_assoc(spark, str(fixture)).collect()
    }
    for brand, ps in parts.items():
        cents = [(s, round(p * 100)) for s, p in ps]

        # truncation toward zero, both operand signs
        def tdiv(a, b):
            q = abs(a) // abs(b)
            return q if (a >= 0) == (b > 0) else -q

        C = D = 0
        slopes = []
        for i in range(len(cents)):
            for j in range(i + 1, len(cents)):
                ds = cents[j][0] - cents[i][0]
                dc = cents[j][1] - cents[i][1]
                if ds * dc > 0:
                    C += 1
                elif ds != 0 and dc != 0:
                    D += 1
                if ds:
                    slopes.append(tdiv(dc * 1_000_000, ds))
        slopes.sort()
        r = got[brand]
        n = len(cents)
        assert r.n_pairs == n * (n - 1) // 2
        assert (r.concordant, r.discordant) == (C, D)
        assert r.gamma_micro == tdiv((C - D) * 1_000_000, C + D)
        assert r.theilsen_slope_micro == slopes[(len(slopes) + 1) // 2 - 1]
    assert got["B1"].gamma_micro == 1_000_000
    assert got["B1"].theilsen_slope_micro == 100_000_000
    assert got["B2"].gamma_micro == -200_000
    assert got["B2"].theilsen_slope_micro == -50_000_000


def test_source_lexical_diversity_hand_computed(spark, tmp_path):
    """'x x y' pins TTR 2/3, hapax 1/2, Simpson 2/6 exactly."""
    from parquet_extractor_spark.operators.analyze import (
        source_lexical_diversity,
    )

    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "documents.parquet",
        "SELECT * FROM (VALUES "
        "(1, 'x x y', 'en', 'a', 5), "
        "(2, 'w w w w', 'en', 'b', 7)"
        ") t(doc_id, text, lang, source, n_chars)",
    )
    got = {
        r.source: r
        for r in source_lexical_diversity(spark, str(fixture)).collect()
    }
    a = got["a"]
    assert (a.n_tokens, a.vocab_size, a.hapax_count) == (3, 2, 1)
    assert a.ttr_micro == 2 * 1_000_000 // 3
    assert a.hapax_share_micro == 500_000
    assert a.simpson_micro == 2 * 1_000_000 // 6
    b = got["b"]
    assert (b.n_tokens, b.vocab_size, b.hapax_count) == (4, 1, 0)
    assert b.simpson_micro == 12 * 1_000_000 // 12  # certainty: 1.0


def test_classifier_calibration_recomputed(spark, sf_small):
    """Recompute every calibration column in Python from the already
    oracle-checked per-doc scores (same HALF_UP round chain)."""
    import math

    from parquet_extractor_spark.operators.classifier import (
        CALIBRATION_BINS,
        classifier_calibration_report,
        trained_classifier_scores,
    )

    scores = trained_classifier_scores(spark, sf_small).collect()
    bins = defaultdict(lambda: [0, 0, 0])  # n, sum_p_micro, sum_y
    width = 1_000_000 // CALIBRATION_BINS
    for r in scores:
        p = 1.0 / (1.0 + math.exp(-(r.logit_micro / 1e6)))
        p9 = math.floor(p * 1e9 + 0.5) / 1e9
        p_micro = math.floor(p9 * 1e6 + 0.5)
        b = min(p_micro // width, CALIBRATION_BINS - 1)
        bins[b][0] += 1
        bins[b][1] += p_micro
        bins[b][2] += r.y
    gap_total = sum(abs(1_000_000 * y - sp) for _, sp, y in bins.values())
    n_total = len(scores)
    got = classifier_calibration_report(spark, sf_small).collect()
    assert {r.bin for r in got} == set(bins)
    for r in got:
        n, sp, sy = bins[r.bin]
        assert r.n_docs == n
        assert r.conf_micro == sp // n
        assert r.acc_micro == sy * 1_000_000 // n
        assert r.gap_micro == abs(1_000_000 * sy - sp) // n
        assert r.ece_micro == gap_total // n_total
    assert sum(r.n_docs for r in got) == n_total


def test_quality_gate_kappa_recomputed(spark, sf_small):
    """Kappa recomputed from the two independently oracle-checked
    gate queries."""
    from parquet_extractor_spark.operators.quality import (
        MIN_QUALITY,
        gopher_quality_flags,
        quality_gate_kappa,
        quality_scores,
    )

    qs = {r.doc_id: r.quality_score for r in quality_scores(spark, sf_small).collect()}
    gk = {
        r.doc_id: r.gopher_keep
        for r in gopher_quality_flags(spark, sf_small).collect()
    }
    assert set(qs) == set(gk)
    n = len(qs)
    n11 = sum(1 for d in qs if qs[d] >= MIN_QUALITY and gk[d])
    n10 = sum(1 for d in qs if qs[d] >= MIN_QUALITY and not gk[d])
    n01 = sum(1 for d in qs if qs[d] < MIN_QUALITY and gk[d])
    n00 = n - n11 - n10 - n01
    agree = n11 + n00
    chance = (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)
    r = quality_gate_kappa(spark, sf_small).collect()[0]
    assert (r.n_docs, r.n_both, r.n_score_only, r.n_gopher_only,
            r.n_neither) == (n, n11, n10, n01, n00)
    assert r.po_micro == agree * 1_000_000 // n
    assert r.pe_micro == chance * 1_000_000 // (n * n)
    want_kappa = (
        1_000_000
        if n * n == chance
        else (n * agree - chance) * 1_000_000 // (n * n - chance)
    )
    assert r.kappa_micro == want_kappa
    # the two heuristics must genuinely disagree somewhere at sf0.001
    assert r.n_score_only + r.n_gopher_only > 0


def test_per_source_quality_cutoffs_recomputed(spark, sf_small):
    """Quota cutoffs recomputed from the oracle-checked per-doc
    scores: k-th highest score per source, tie-inclusive keep count."""
    from parquet_extractor_spark.operators.quality import (
        QUOTA_KEEP_MICRO,
        per_source_quality_cutoffs,
        quality_scores,
    )
    from parquet_extractor_spark.sources.tables import load_table

    src = {
        r.doc_id: r.source
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id", "source")
        .collect()
    }
    by_src = defaultdict(list)
    for r in quality_scores(spark, sf_small).collect():
        by_src[src[r.doc_id]].append((r.quality_score, r.doc_id))
    got = {
        r.source: r
        for r in per_source_quality_cutoffs(spark, sf_small).collect()
    }
    assert set(got) == set(by_src)
    for s, scored in by_src.items():
        scored.sort(key=lambda t: (-t[0], t[1]))
        n = len(scored)
        k = max(1, n * QUOTA_KEEP_MICRO // 1_000_000)
        cutoff = scored[k - 1][0]
        kept = sum(1 for sc, _ in scored if sc >= cutoff)
        r = got[s]
        assert (r.n_docs, r.target_keep) == (n, k)
        assert abs(r.cutoff_score - cutoff) < 1e-9
        assert r.n_kept == kept
        assert r.kept_share_micro == kept * 1_000_000 // n
        assert r.n_kept >= r.target_keep  # quota met, overshoot visible


def test_cluster_lang_purity_recomputed(spark, sf_small):
    """Purity rollup recomputed from the independently-verified
    component labels + document languages."""
    from parquet_extractor_spark.operators.dedup import (
        cluster_lang_purity,
        dedup_components,
    )
    from parquet_extractor_spark.sources.tables import load_table

    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    comp_members = defaultdict(list)
    for r in dedup_components(spark, sf_small).collect():
        comp_members[r.component].append(lang[r.doc_id])
    want = {}
    for c, langs in comp_members.items():
        if len(langs) < 2:
            continue
        cnt = Counter(langs)
        top_count = max(cnt.values())
        top_lang = max(l for l, n in cnt.items() if n == top_count)
        want[c] = (len(langs), len(cnt), top_lang, top_count)
    got = {r.component: r for r in cluster_lang_purity(spark, sf_small).collect()}
    assert set(got) == set(want)
    for c, (n, nl, tl, tc) in want.items():
        r = got[c]
        assert (r.n_docs, r.n_langs, r.top_lang, r.top_count) == (
            n, nl, tl, tc,
        )
        assert r.purity_micro == tc * 1_000_000 // n
    assert want, "fixture must contain multi-doc clusters"


def test_orders_seasonal_decomposition_recomputed(spark, sf_small):
    """Trend/seasonal/residual recomputed from the raw monthly sums;
    the three emitted columns must add back to revenue exactly."""
    from parquet_extractor_spark.operators.timeseries import (
        orders_seasonal_decomposition,
    )

    rows = duckdb.sql(
        f"SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) - 1"
        f" AS BIGINT),"
        f" CAST(sum(CAST(floor(o_totalprice*1000000) AS BIGINT)"
        f" // 1000000) AS BIGINT)"
        f" FROM '{sf_small}/orders.parquet' GROUP BY 1"
    ).fetchall()
    monthly = dict(rows)
    m0, m1 = min(monthly), max(monthly)
    xs = {m: monthly.get(m, 0) for m in range(m0, m1 + 1)}

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    trend24 = {}
    for m in range(m0 + 6, m1 - 5):
        trend24[m] = (
            xs[m - 6] + xs[m + 6]
            + 2 * sum(xs[k] for k in range(m - 5, m + 6))
        )
    s_acc = defaultdict(lambda: [0, 0])
    for m, t in trend24.items():
        s_acc[m % 12][0] += 24 * xs[m] - t
        s_acc[m % 12][1] += 1
    seasonal = {
        moy: tdiv(sm * 1_000_000, 24 * cnt)
        for moy, (sm, cnt) in s_acc.items()
    }
    got = {
        r.midx: r
        for r in orders_seasonal_decomposition(spark, sf_small).collect()
    }
    assert set(got) == set(trend24)
    for m, r in got.items():
        tm = tdiv(trend24[m] * 1_000_000, 24)
        sm = seasonal[m % 12]
        assert r.revenue_units == xs[m]
        assert (r.year, r.month) == (m // 12, m % 12 + 1)
        assert r.trend_micro == tm
        assert r.seasonal_micro == sm
        assert r.residual_micro == xs[m] * 1_000_000 - tm - sm
        # exact additive reconstruction by construction
        assert (
            r.trend_micro + r.seasonal_micro + r.residual_micro
            == r.revenue_units * 1_000_000
        )


def test_warehouse_fk_audit_planted_orphans(spark, sf_small, tmp_path):
    """Copy the consistent sf0.001 warehouse, then inject one orphan
    o_custkey (2 rows) and one NULL o_custkey; the audit must count
    exactly those, keep every other relationship clean, and the
    orders->customer share must be the exact micro ratio."""
    from parquet_extractor_spark.operators.profiling import (
        FK_RELATIONSHIPS,
        warehouse_fk_audit,
    )

    fixture = tmp_path / "sf"
    fixture.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem"):
        duckdb.sql(
            f"COPY (SELECT * FROM '{sf_small}/{t}.parquet') TO "
            f"'{fixture}/{t}.parquet' (FORMAT PARQUET)"
        )
    duckdb.sql(
        f"""COPY (
            SELECT * FROM '{sf_small}/orders.parquet'
            UNION ALL SELECT 900001, 999999, 'O', 1.0,
                TIMESTAMP '2024-01-01', 'LOW'
            UNION ALL SELECT 900002, 999999, 'O', 1.0,
                TIMESTAMP '2024-01-01', 'LOW'
            UNION ALL SELECT 900003, NULL, 'O', 1.0,
                TIMESTAMP '2024-01-01', 'LOW'
        ) TO '{fixture}/orders.parquet' (FORMAT PARQUET)"""
    )
    got = {
        r.relationship: r
        for r in warehouse_fk_audit(spark, str(fixture)).collect()
    }
    assert set(got) == {rel[0] for rel in FK_RELATIONSHIPS}
    base_orders = duckdb.sql(
        f"SELECT count(*) FROM '{sf_small}/orders.parquet'"
    ).fetchone()[0]
    oc = got["orders.custkey->customer"]
    assert oc.n_rows == base_orders + 3
    assert oc.n_null_rows == 1
    assert (oc.n_orphan_rows, oc.n_orphan_keys) == (2, 1)
    assert oc.orphan_share_micro == 2 * 1_000_000 // (base_orders + 3)
    for name, r in got.items():
        if name == "orders.custkey->customer":
            continue
        assert (r.n_orphan_rows, r.n_orphan_keys, r.n_null_rows) == (
            0, 0, 0,
        ), name
    # lineitem->orders gained no orphans: the injected orders are
    # parents, not children, there
    assert got["lineitem.orderkey->orders"].n_orphan_rows == 0


def test_warehouse_fk_audit_empty_child_is_a_zero_row(spark, sf_small, tmp_path):
    """Empty the supplier table in a copy of sf0.001: its
    supplier.nationkey->nation row is 0 in every counter and in the
    share on Spark (no division by zero) and on the DuckDB oracle (no
    NULLs), and every lineitem supplier key is an orphan."""
    import os
    import sys

    from parquet_extractor_spark.operators.profiling import warehouse_fk_audit

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    from check_oracle import TABLES, run_gate

    fixture = tmp_path / "sf"
    fixture.mkdir()
    for t in TABLES:
        if t != "supplier":
            os.symlink(f"{sf_small}/{t}.parquet", fixture / f"{t}.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM '{sf_small}/supplier.parquet' WHERE false) "
        f"TO '{fixture}/supplier.parquet' (FORMAT PARQUET)"
    )
    assert not run_gate(
        only=("warehouse_fk_audit",), sf_dir=str(fixture), spark=spark
    )
    got = {
        r.relationship: r
        for r in warehouse_fk_audit(spark, str(fixture)).collect()
    }
    empty = got["supplier.nationkey->nation"]
    assert tuple(empty)[1:] == (0, 0, 0, 0, 0, 0)
    li = got["lineitem.suppkey->supplier"]
    assert li.n_rows > 0 and li.n_orphan_rows == li.n_rows
    assert li.orphan_share_micro == 1_000_000


def test_events_xmr_control_hand_computed(spark, tmp_path):
    """Stable series with a single huge spike: limits recomputed by
    hand from the moving ranges; exactly the spike day flags."""
    from parquet_extractor_spark.operators.timeseries import (
        XMR_LIMIT_MICRO,
        events_xmr_control,
    )

    counts = [5, 5, 6, 5, 4, 5, 5, 50, 5, 5]
    rows = []
    eid = 0
    for day, n in enumerate(counts):
        for k in range(n):
            rows.append(
                f"({eid}, TIMESTAMP '2024-03-01' + INTERVAL {day} DAY"
                f" + INTERVAL {k} MINUTE, 1, 'metric', 0.0, '')"
            )
            eid += 1
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "events.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)",
    )
    got = sorted(
        events_xmr_control(spark, str(fixture)).collect(),
        key=lambda r: r.day_epoch,
    )
    assert len(got) == len(counts)
    total = sum(counts)
    t = len(counts)
    mr_sum = sum(abs(a - b) for a, b in zip(counts[1:], counts))
    center = total * 1_000_000 // t
    arm = XMR_LIMIT_MICRO * mr_sum // (t - 1)
    for day, r in enumerate(got):
        assert r.n == counts[day]
        assert r.center_micro == center
        assert r.ucl_micro == center + arm
        assert r.lcl_micro == max(0, center - arm)
        want_flag = int(
            counts[day] * 1_000_000 > center + arm
            or counts[day] * 1_000_000 < max(0, center - arm)
        )
        assert r.out_of_control == want_flag
    flagged = [i for i, r in enumerate(got) if r.out_of_control]
    assert flagged == [7]  # exactly the spike day


def test_events_funnel_deadline_vs_ordered(spark, tmp_path):
    """A slow converter (purchase 10 days after signup) counts in the
    ordered funnel but NOT in the 7-day deadline funnel; a fast
    converter counts in both; out-of-order events count in neither."""
    from parquet_extractor_spark.operators.timeseries import (
        events_funnel_deadline,
        events_funnel_ordered,
    )

    rows = []
    eid = 0

    def ev(user, typ, minutes):
        nonlocal eid
        rows.append(
            f"({eid}, TIMESTAMP '2024-01-01' + INTERVAL {minutes} MINUTE,"
            f" {user}, '{typ}', 0.0, '')"
        )
        eid += 1

    # user 1: fast full funnel (within hours)
    ev(1, "signup", 0); ev(1, "view", 60); ev(1, "purchase", 120)
    # user 2: view quickly, purchase after 10 days (past deadline)
    ev(2, "signup", 0); ev(2, "view", 60)
    ev(2, "purchase", 10 * 24 * 60)
    # user 3: view BEFORE signup — never reaches step 2
    ev(3, "view", 0); ev(3, "signup", 60)
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "events.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)",
    )
    dead = {r.step: r for r in events_funnel_deadline(spark, str(fixture)).collect()}
    full = {r.step: r for r in events_funnel_ordered(spark, str(fixture)).collect()}
    assert dead["signup"].n_users == 3
    assert dead["view"].n_users == 2
    assert dead["purchase"].n_users == 1  # only the fast converter
    assert full["purchase"].n_users == 2  # ordered funnel keeps user 2
    assert dead["purchase"].overall_micro == 1_000_000 // 3
    assert dead["purchase"].conversion_micro == 500_000


def test_orders_backlog_timeline_hand_computed(spark, tmp_path):
    """Two planted orders with known ship spans; the running backlog
    and open/close deltas are checked day by day."""
    from parquet_extractor_spark.operators.timeseries import (
        orders_backlog_timeline,
    )

    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "orders.parquet",
        "SELECT * FROM (VALUES "
        "(1, 10, 'O', 5.0, TIMESTAMP '2024-01-01', 'LOW'), "
        "(2, 11, 'O', 6.0, TIMESTAMP '2024-01-02', 'LOW')"
        ") t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority)",
    )
    # order 1 ships lines on Jan 2 and Jan 3 (open Jan 1-3);
    # order 2 ships its only line same-day (open Jan 2 only)
    _write_parquet(
        fixture / "lineitem.parquet",
        "SELECT * FROM (VALUES "
        "(1, 100, 200, 1, 1.0, 1.0, 0.0, 0.0, 'N', 'O',"
        " TIMESTAMP '2024-01-02'), "
        "(1, 101, 201, 2, 1.0, 1.0, 0.0, 0.0, 'N', 'O',"
        " TIMESTAMP '2024-01-03'), "
        "(2, 102, 202, 1, 1.0, 1.0, 0.0, 0.0, 'N', 'O',"
        " TIMESTAMP '2024-01-02')"
        ") t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
        " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,"
        " l_shipdate)",
    )
    got = orders_backlog_timeline(spark, str(fixture)).collect()
    days = [(r.n_opened, r.n_closed, r.open_orders) for r in got]
    # grid: Jan1 .. Jan4 (order 1's end day = Jan3 + 1)
    assert days == [
        (1, 0, 1),  # Jan 1: order 1 opens
        (1, 0, 2),  # Jan 2: order 2 opens (and ships same day)
        (0, 1, 1),  # Jan 3: order 2 closed; order 1 still shipping
        (0, 1, 0),  # Jan 4: order 1 closed
    ]
    assert got[0].day_epoch % 86_400 == 0


def test_source_quality_psi_recomputed(spark, sf_small):
    """PSI recomputed in Python from the oracle-checked per-doc
    scores over the same smoothed, densified buckets."""
    import math

    from parquet_extractor_spark.operators.quality import (
        quality_scores,
        source_quality_psi,
    )
    from parquet_extractor_spark.sources.tables import load_table

    src = {
        r.doc_id: r.source
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id", "source")
        .collect()
    }
    hist = defaultdict(Counter)
    for r in quality_scores(spark, sf_small).collect():
        hist[src[r.doc_id]][r.quality_score] += 1
    buckets = sorted({s for c in hist.values() for s in c})
    B = len(buckets)
    n_all = sum(sum(c.values()) for c in hist.values())
    c_all = Counter()
    for c in hist.values():
        c_all.update(c)
    got = {r.source: r for r in source_quality_psi(spark, sf_small).collect()}
    assert set(got) == set(hist)
    for s, c in hist.items():
        n_s = sum(c.values())
        psi = 0.0
        for b in buckets:
            p = (c.get(b, 0) + 1) / (n_s + B)
            q = (c_all[b] + 1) / (n_all + B)
            psi += (p - q) * math.log(p / q)
        r = got[s]
        assert r.n_docs == n_s
        assert abs(r.psi - psi) < 2e-6
        assert r.psi >= 0  # every PSI term is non-negative


def test_session_top_paths_planted(spark, tmp_path):
    """Planted sessions with known openings: a 5-event session is
    truncated to its first 4 events; a 30-minute gap splits a user
    into two sessions with their own paths."""
    from parquet_extractor_spark.operators.timeseries import (
        session_top_paths,
    )

    rows = []
    eid = 0

    def ev(user, typ, minutes):
        nonlocal eid
        rows.append(
            f"({eid}, TIMESTAMP '2024-01-01' + INTERVAL {minutes} MINUTE,"
            f" {user}, '{typ}', 0.0, '')"
        )
        eid += 1

    for i, t in enumerate(["a", "b", "c", "d", "e"]):
        ev(1, t, i)  # one session, path truncates to a>b>c>d
    ev(2, "a", 0)  # session 1 of user 2
    ev(2, "b", 100)  # >30 min later: session 2
    ev(2, "c", 101)
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "events.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)",
    )
    got = {r.path: r for r in session_top_paths(spark, str(fixture)).collect()}
    assert set(got) == {"a>b>c>d", "a", "b>c"}
    for path, r in got.items():
        assert r.n_sessions == 1
        assert r.share_micro == 1_000_000 // 3


def test_embedding_covariance_profile_recomputed(spark, sf_small):
    """Exact integer covariance recomputed in Python over the real
    vectors; diagonal non-negative, full triangle present."""
    import math

    from parquet_extractor_spark.operators.similarity import (
        _COV_SCALE,
        COV_HEAD_DIMS,
        embedding_covariance_profile,
    )

    vecs = [
        r[0]
        for r in duckdb.sql(
            f"SELECT embedding FROM '{sf_small}/embeddings.parquet'"
        ).fetchall()
    ]
    n = len(vecs)
    e = [
        [math.floor(float(v[i]) * _COV_SCALE) for i in range(COV_HEAD_DIMS)]
        for v in vecs
    ]

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    got = {
        (r.i, r.j): r
        for r in embedding_covariance_profile(spark, sf_small).collect()
    }
    assert set(got) == {
        (i, j)
        for i in range(COV_HEAD_DIMS)
        for j in range(COV_HEAD_DIMS)
        if i <= j
    }
    for (i, j), r in got.items():
        sab = sum(row[i] * row[j] for row in e)
        sa = sum(row[i] for row in e)
        sb = sum(row[j] for row in e)
        want = tdiv(n * sab - sa * sb, n * n)
        assert r.n == n
        assert r.cov_micro2 == want
        if i == j:
            assert r.cov_micro2 >= 0


def test_dedup_containment_scores_planted(spark, tmp_path):
    """A short doc fully embedded in a long one: containment hits 1.0
    while Jaccard stays far below the near-dup threshold — the
    asymmetric flag fires; an identical pair scores 1.0 everywhere
    with the flag off."""
    from parquet_extractor_spark.operators.dedup import (
        dedup_containment_scores,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    # host doc large enough that jaccard = 6/(6 + nb - 6) sinks below
    # the 0.1 near-dup threshold while containment stays 1.0
    long = short + " " + " ".join(f"tok{i}" for i in range(70))
    twin = "red orange yellow green blue indigo violet"
    docs = [
        (1, short), (2, long), (3, twin), (4, twin),
    ]
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "documents.parquet",
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', 'en', 's', {len(t)})" for i, t in docs
        )
        + ") t(doc_id, text, lang, source, n_chars)",
    )
    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup_containment_scores(spark, str(fixture)).collect()
    }
    emb = got[(1, 2)]
    # all 6 of the short doc's 3-gram shingles appear in the long doc
    assert emb.n_shared == emb.n_a == 6
    assert emb.containment_a_micro == 1_000_000
    assert emb.jaccard_micro < 100_000  # below JACCARD_THRESHOLD
    assert emb.asymmetric == 1
    tw = got[(3, 4)]
    assert tw.containment_a_micro == tw.containment_b_micro == 1_000_000
    assert tw.jaccard_micro == 1_000_000
    assert tw.asymmetric == 0


def test_events_type_audience_overlap_planted(spark, tmp_path):
    """Three planted audiences: shared users count once (distinct),
    zero-overlap pairs are absent, directional containments exact."""
    from parquet_extractor_spark.operators.timeseries import (
        events_type_audience_overlap,
    )

    rows = []
    eid = 0
    for user, typ in [
        (1, "a"), (2, "a"), (2, "a"),  # duplicate event: distinct users
        (2, "b"), (3, "b"),
        (3, "c"),
    ]:
        rows.append(
            f"({eid}, TIMESTAMP '2024-01-01' + INTERVAL {eid} MINUTE,"
            f" {user}, '{typ}', 0.0, '')"
        )
        eid += 1
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "events.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)",
    )
    got = {
        (r.type_a, r.type_b): r
        for r in events_type_audience_overlap(spark, str(fixture)).collect()
    }
    assert set(got) == {("a", "b"), ("b", "c")}  # (a,c) never co-occur
    ab = got[("a", "b")]
    assert (ab.n_a, ab.n_b, ab.n_both) == (2, 2, 1)
    assert ab.jaccard_micro == 1_000_000 // 3
    assert ab.containment_a_micro == 500_000
    bc = got[("b", "c")]
    assert (bc.n_a, bc.n_b, bc.n_both) == (2, 1, 1)
    assert bc.containment_b_micro == 1_000_000


def test_simhash_bit_balance_recomputed(spark, sf_small):
    """Bit shares recomputed from the oracle-checked fingerprints;
    every one of the 32 positions present with consistent counts."""
    from parquet_extractor_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_bit_balance,
        simhash_fingerprints,
    )

    sigs = [r.simhash for r in simhash_fingerprints(spark, sf_small).collect()]
    got = {r.bit: r for r in simhash_bit_balance(spark, sf_small).collect()}
    assert sorted(got) == list(range(SIMHASH_BITS))
    n = len(sigs)
    for b, r in got.items():
        n_set = sum((s >> b) & 1 for s in sigs)
        assert (r.n_docs, r.n_set) == (n, n_set)
        share = n_set * 1_000_000 // n
        assert r.share_micro == share
        assert r.bias_micro == abs(share - 500_000)


def test_lineitem_price_mad_outliers_planted(spark, tmp_path):
    """One brand with a known median/MAD and a single monster price:
    the Hampel rule flags exactly that row; an all-identical brand
    hits the MAD=0 degenerate and flags only deviators."""
    from parquet_extractor_spark.operators.profiling import (
        MAD_K,
        lineitem_price_mad_outliers,
    )

    fixture = tmp_path / "sf"
    fixture.mkdir()
    parts = [(1, "B1"), (2, "B2")]
    _write_parquet(
        fixture / "part.parquet",
        "SELECT * FROM (VALUES "
        + ", ".join(f"({k}, 'p{k}', '{b}', 't', 1, 1.0)" for k, b in parts)
        + ") t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)",
    )
    # B1 prices: 10,11,12,13,1000 -> med 12, adevs 2,1,0,1,988 ->
    # MAD (lower median of 0,1,1,2,988) = 1 -> outlier iff adev > 5
    b1 = [10.0, 11.0, 12.0, 13.0, 1000.0]
    # B2: all 50 except one 51 -> med 50, MAD 0 -> the 51 row flags
    b2 = [50.0, 50.0, 50.0, 51.0]
    rows = []
    ln = 0
    for pk, prices in ((1, b1), (2, b2)):
        for p in prices:
            ln += 1
            rows.append(
                f"({ln}, {pk}, 7, 1, 1.0, {p}, 0.0, 0.0, 'N', 'O',"
                " TIMESTAMP '2024-01-01')"
            )
    _write_parquet(
        fixture / "lineitem.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(l_orderkey, l_partkey, l_suppkey, l_linenumber,"
        " l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate)",
    )
    got = {
        r.p_brand: r
        for r in lineitem_price_mad_outliers(spark, str(fixture)).collect()
    }
    r1 = got["B1"]
    assert (r1.median_cents, r1.mad_cents) == (1200, 100)
    assert r1.n_outliers == 1  # only the 1000.00 row: 98800 > 5*100
    r2 = got["B2"]
    assert (r2.median_cents, r2.mad_cents) == (5000, 0)
    assert r2.n_outliers == 1  # MAD=0 degenerate: any deviation flags
    assert MAD_K == 5


def test_user_activity_powerlaw_recomputed(spark, sf_small):
    """Histogram and OLS fit recomputed in Python from the raw
    per-user counts (population covariance over log-log points)."""
    import math

    from parquet_extractor_spark.operators.timeseries import (
        user_activity_powerlaw,
    )

    counts = Counter(
        r[0]
        for r in duckdb.sql(
            f"SELECT user_id FROM '{sf_small}/events.parquet'"
        ).fetchall()
    )
    hist = Counter(counts.values())
    pts = [(math.log(k), math.log(n)) for k, n in hist.items()]
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    cov = sum((x - mx) * (y - my) for x, y in pts) / len(pts)
    var = sum((x - mx) ** 2 for x, _ in pts) / len(pts)
    r = user_activity_powerlaw(spark, sf_small).collect()[0]
    assert r.n_levels == len(hist)
    assert r.n_users == len(counts)
    assert r.max_events_per_user == max(hist)
    assert abs(r.slope - cov / var) < 1e-5
    assert abs(r.intercept - (my - (cov / var) * mx)) < 1e-5


def test_classifier_decile_lift_recomputed(spark, sf_small):
    """Lift table recomputed from the oracle-checked per-doc scores
    with the same interpolated decile cuts; invariants: docs
    conserved, capture reaches 1.0 and is monotone from the top."""
    from parquet_extractor_spark.operators.classifier import (
        LIFT_DECILES,
        classifier_decile_lift,
        trained_classifier_scores,
    )

    scores = trained_classifier_scores(spark, sf_small).collect()
    logits = sorted(r.logit_micro for r in scores)

    def quantile_cont(p):
        idx = p * (len(logits) - 1)
        lo = int(idx)
        frac = idx - lo
        hi = min(lo + 1, len(logits) - 1)
        return logits[lo] + frac * (logits[hi] - logits[lo])

    cuts = [quantile_cont(i / LIFT_DECILES) for i in range(1, LIFT_DECILES)]
    by_dec = defaultdict(lambda: [0, 0])
    for r in scores:
        d = 1 + sum(1 for c in cuts if r.logit_micro > c)
        by_dec[d][0] += 1
        by_dec[d][1] += r.y
    n_total = len(scores)
    pos_total = sum(r.y for r in scores)
    got = classifier_decile_lift(spark, sf_small).collect()
    assert {r.decile for r in got} == set(by_dec)
    cum = 0
    for r in sorted(got, key=lambda r: -r.decile):
        n, pos = by_dec[r.decile]
        cum += pos
        assert (r.n_docs, r.n_pos) == (n, pos)
        assert r.pos_rate_micro == pos * 1_000_000 // n
        if pos_total > 0:
            assert r.lift_micro == (
                pos * n_total * 1_000_000 // (n * pos_total)
            )
            assert r.capture_from_top_micro == (
                cum * 1_000_000 // pos_total
            )
        else:  # degenerate no-positives corpus: guarded zeros
            assert (r.lift_micro, r.capture_from_top_micro) == (0, 0)
    assert sum(r.n_docs for r in got) == n_total
    assert cum == pos_total
    if pos_total > 0:
        # ranking quality: the top decile must beat the base rate
        top = max(got, key=lambda r: r.decile)
        assert top.lift_micro >= 1_000_000


def test_source_centroid_separation_recomputed(spark, sf_small):
    """Centroid cosines recomputed in Python from micro-snapped
    integer component sums; all 190 pairs present, cos in [-1, 1]."""
    import math

    from parquet_extractor_spark.operators.similarity import (
        source_centroid_separation,
    )

    rows = duckdb.sql(
        f"SELECT d.source, e.embedding"
        f" FROM '{sf_small}/embeddings.parquet' e"
        f" JOIN '{sf_small}/documents.parquet' d ON e.vec_id = d.doc_id"
    ).fetchall()
    sums = defaultdict(lambda: None)
    ns = Counter()
    for src, emb in rows:
        vec = [math.floor(float(x) * 1_000_000) for x in emb]
        ns[src] += 1
        if sums[src] is None:
            sums[src] = vec
        else:
            sums[src] = [a + b for a, b in zip(sums[src], vec)]
    got = {
        (r.source_a, r.source_b): r
        for r in source_centroid_separation(spark, sf_small).collect()
    }
    srcs = sorted(ns)
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    for (a, b), r in got.items():
        dot = sum(x * y for x, y in zip(sums[a], sums[b]))
        na = math.sqrt(sum(x * x for x in sums[a]))
        nb = math.sqrt(sum(x * x for x in sums[b]))
        want = dot / (na * nb)
        assert (r.n_a, r.n_b) == (ns[a], ns[b])
        assert abs(r.cos_centroid - want) < 2e-6
        assert -1.000001 <= r.cos_centroid <= 1.000001


def test_classifier_decile_lift_planted_positives(spark, tmp_path):
    """The fixture corpus is label-degenerate (no positives), so this
    planted corpus provides real separable labels: long diverse docs
    (y=1) vs short repetitive ones (y=0). After training, the top
    decile must capture the positives with lift > 1."""
    from parquet_extractor_spark.operators.classifier import (
        classifier_decile_lift,
    )

    rows = []
    did = 0
    # 10 positives: 45 DISTINCT tokens (diversity 1.0, length >= 40)
    for d in range(10):
        text = " ".join(f"w{d}x{i}" for i in range(45))
        rows.append(f"({did}, '{text}', 'en', 's', {len(text)})")
        did += 1
    # 30 negatives: 12 repetitive tokens
    for d in range(30):
        text = " ".join("spam" for _ in range(12))
        rows.append(f"({did}, '{text}', 'en', 's', {len(text)})")
        did += 1
    fixture = tmp_path / "sf"
    fixture.mkdir()
    _write_parquet(
        fixture / "documents.parquet",
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") t(doc_id, text, lang, source, n_chars)",
    )
    got = sorted(
        classifier_decile_lift(spark, str(fixture)).collect(),
        key=lambda r: r.decile,
    )
    assert sum(r.n_docs for r in got) == 40
    assert sum(r.n_pos for r in got) == 10
    top = got[-1]
    # separable features: the highest decile is all positives
    assert top.n_pos == top.n_docs
    assert top.lift_micro == 40 * 1_000_000 // 10  # 4x the base rate
    assert top.capture_from_top_micro >= top.n_pos * 1_000_000 // 10
    bottom = got[0]
    assert bottom.n_pos == 0 and bottom.lift_micro == 0
