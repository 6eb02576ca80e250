"""Unit tests for the curation extras: PII redaction patterns (on
constructed rows — the fixture corpus has no emails/phones),
repetition metrics, and benchmark decontamination."""

from pyspark.sql import functions as F

from parquet_extractor_spark.operators import contamination, quality


def test_redact_email_and_phone(spark):
    df = spark.createDataFrame(
        [
            ("mail me at bob.smith+spam@example.co.uk today", 1),
            ("call +1 (555) 123-4567 now", 1),
            ("the customer record", 1),
            ("nothing sensitive here", 0),
        ],
        ["text", "expect_hits"],
    )
    out = df.select(
        "expect_hits",
        F.regexp_count("text", F.lit(quality.REDACTION_PATTERN)).alias("n"),
        quality.redact_text("text").alias("red"),
    ).collect()
    for r in out:
        assert (r.n > 0) == (r.expect_hits == 1)
        if r.expect_hits:
            assert quality.REDACTION_TOKEN in r.red
    # redacted text must not retain the sensitive spans
    reds = [r.red for r in out]
    assert not any("example.co.uk" in s for s in reds)
    assert not any("123-4567" in s for s in reds)


def test_repetition_scores_on_known_text(spark, tmp_path, sf_small):
    rows = quality.repetition_scores(spark, sf_small).collect()
    assert rows, "fixture docs must produce repetition rows"
    for r in rows:
        assert 0 < r.distinct_ratio <= 1.0
        assert 0 < r.top_token_frac <= 1.0
        assert 0 < r.top_bigram_frac <= 1.0
        # a doc's most frequent bigram COUNT can't beat its most
        # frequent token COUNT (the fractions can cross because the
        # bigram denominator is n_tokens - 1)
        top_tok_cnt = r.top_token_frac * r.n_tokens
        top_big_cnt = r.top_bigram_frac * (r.n_tokens - 1)
        assert top_big_cnt <= top_tok_cnt + 0.51


def test_decontamination_flags_planted_overlap(spark, sf_small):
    """Every flagged doc's contamination fraction is in (0, 1]; the
    benchmark slice itself is never flagged."""
    out = contamination.ngram_decontamination(spark, sf_small).collect()
    for r in out:
        assert r.doc_id % contamination.BENCH_MOD != 0
        assert 0 < r.contamination_frac <= 1.0
        assert 0 < r.n_shared <= r.n_grams


def test_decontamination_bench_set_is_broadcast(spark, sf_small):
    from parquet_extractor_spark.plans.explain import formatted_plan

    plan = formatted_plan(contamination.ngram_decontamination(spark, sf_small))
    assert "BroadcastHashJoin" in plan


def test_repetition_aggs_are_partial(spark, sf_small):
    from parquet_extractor_spark.plans.explain import has_partial_aggregation

    assert has_partial_aggregation(quality.repetition_scores(spark, sf_small))


def test_bloom_decontamination_superset_and_joinless_probe(spark, sf_small):
    """Bloom membership has no false negatives: every doc the exact
    join flags must be flagged by the Bloom tier, and its hit count
    can only overestimate. The probe plan must contain NO join at all
    (the whole point of the bitset literal)."""
    from parquet_extractor_spark.plans.explain import formatted_plan

    exact = {
        r.doc_id: r.n_shared
        for r in contamination.ngram_decontamination(spark, sf_small).collect()
    }
    bloom_rows = contamination.bloom_decontamination(spark, sf_small).collect()
    bloom = {r.doc_id: r for r in bloom_rows}
    for doc_id, n_shared in exact.items():
        assert bloom[doc_id].flagged, f"false negative on doc {doc_id}"
        assert bloom[doc_id].n_bloom_hits >= n_shared
    for r in bloom_rows:
        assert r.doc_id % contamination.BENCH_MOD != 0
        assert 0 <= r.n_bloom_hits <= r.n_grams
    plan = formatted_plan(contamination.bloom_decontamination(spark, sf_small))
    assert "Join" not in plan


def test_countmin_never_underestimates(spark, sf_small):
    """The count-min guarantee: est ≥ exact for every probed token,
    and the sketch join side stays broadcast (bounded D×W rows)."""
    from parquet_extractor_spark.operators import corpus_index
    from parquet_extractor_spark.plans.explain import formatted_plan

    df = corpus_index.countmin_heavy_hitters(spark, sf_small)
    rows = df.collect()
    assert len(rows) == corpus_index.CM_TOP
    for r in rows:
        assert r.overestimate >= 0, r
        assert r.cm_estimate == r.exact_cnt + r.overestimate
    assert "BroadcastHashJoin" in formatted_plan(df)


def test_bloom_and_countmin_hash_portability(spark):
    """The Spark-side md5-prefix position expressions equal the
    pure-Python computation token-for-token — the cross-engine
    contract both sketch oracles stand on."""
    import hashlib

    from pyspark.sql import functions as F

    from parquet_extractor_spark.operators.contamination import (
        BLOOM_BITS,
        BLOOM_HASHES,
        _bloom_positions_expr,
    )
    from parquet_extractor_spark.operators.corpus_index import (
        CM_DEPTH,
        CM_WIDTH,
        _cm_pos,
    )

    def phash(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = [
        "join", "merge", "vector", "Ünïcode", "x" * 200, "0", " ",
        "tab\tsep", "emoji🙂", "ngram one two three",
    ]
    df = spark.createDataFrame([(t,) for t in toks], "g string")
    got_bloom = df.select(
        "g", F.array(*_bloom_positions_expr("g")).alias("pos")
    ).collect()
    for r in got_bloom:
        h1, h2 = phash(r.g), phash(r.g + "#2")
        want = [(h1 + i * h2) % BLOOM_BITS for i in range(BLOOM_HASHES)]
        assert list(r.pos) == want, r.g
    got_cm = df.select(
        "g",
        F.array(
            *[_cm_pos(F.col("g"), d) for d in range(CM_DEPTH)]
        ).alias("pos"),
    ).collect()
    for r in got_cm:
        want = [phash(f"{r.g}#{d}") % CM_WIDTH for d in range(CM_DEPTH)]
        assert list(r.pos) == want, r.g


def test_parquet_footer_stats_metadata_only(spark, sf_small):
    """The footer fast path reports exactly what full scans report —
    and for every fixture table, not a sample."""
    from parquet_extractor_spark.operators.analyze import (
        FOOTER_KEYS,
        parquet_footer_stats,
    )
    from parquet_extractor_spark.sources.tables import load_table

    rows = {r.table_name: r for r in parquet_footer_stats(spark, sf_small).collect()}
    assert set(rows) == set(FOOTER_KEYS)
    for t in ("documents", "lineitem", "events"):
        from pyspark.sql import functions as F

        k = FOOTER_KEYS[t]
        want = (
            load_table(spark, sf_small, t)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(k).alias("mn"),
                F.max(k).alias("mx"),
            )
            .collect()[0]
        )
        assert rows[t].n_rows == want.n
        assert rows[t].key_min == want.mn and rows[t].key_max == want.mx


def test_snapshot_contamination_gate_composition(spark, sf_small):
    """The gate's per-(source, change_type) doc counts must agree with
    the version diff it composes: every screened doc is an added or
    modified v2 doc outside the benchmark slice, and contamination
    counts are bounded by doc counts."""
    from parquet_extractor_spark.operators.contamination import (
        snapshot_contamination_gate,
    )
    from parquet_extractor_spark.operators.versioning import (
        corpus_version_diff,
    )

    gate = snapshot_contamination_gate(spark, sf_small).collect()
    assert gate, "empty gate output"
    assert {r.change_type for r in gate} <= {"added", "modified"}
    for r in gate:
        assert 0 <= r.n_contaminated <= r.n_docs
        assert (r.n_contaminated > 0) == (r.shared_grams > 0)
        assert 0 <= r.max_contam_micro <= 1_000_000

    # the gate screens a SUBSET of the diff's added+modified classes
    # (benchmark docs and gramless docs are excluded by design)
    diff = {
        (r.source, r.change_type): r.n_docs
        for r in corpus_version_diff(spark, sf_small).collect()
    }
    for r in gate:
        assert r.n_docs <= diff[(r.source, r.change_type)]


def test_ngram_novelty_recomputed_locally(spark, sf_small):
    """Novelty per decile recomputed in pure Python: first-occurrence
    attribution by min doc_id over distinct token trigrams, deciles by
    floor(doc_id*10/(max_id+1))."""
    import re
    from collections import defaultdict

    import duckdb

    from parquet_extractor_spark.operators.analyze import (
        ngram_novelty_profile,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_small}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()
    doc_grams = {}
    for doc_id, text in docs:
        toks = [
            t for t in re.sub(r"[^\w\s]", " ", text.lower()).split() if t
        ]
        if len(toks) <= 3:
            grams = {" ".join(toks)}
        else:
            grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        doc_grams[doc_id] = grams
    first = {}
    for doc_id in sorted(doc_grams):
        for g in doc_grams[doc_id]:
            first.setdefault(g, doc_id)
    max_id = max(doc_grams)
    want = defaultdict(lambda: [0, 0, 0])
    for doc_id, grams in doc_grams.items():
        d = doc_id * 10 // (max_id + 1)
        w = want[d]
        w[0] += 1
        w[1] += len(grams)
        w[2] += sum(1 for g in grams if first[g] == doc_id)
    got = ngram_novelty_profile(spark, sf_small).collect()
    assert len(got) == len(want)
    for r in got:
        n_docs, total, novel = want[r.decile]
        assert (r.n_docs, r.total_grams, r.novel_grams) == (
            n_docs, total, novel,
        )
        assert r.novelty_micro == novel * 1_000_000 // total
    # decile 0 introduces everything it sees; novelty must not INCREASE
    # monotonically (sanity: the curve is informative, not constant)
    by_decile = sorted((r.decile, r.novelty_micro) for r in got)
    assert by_decile[0][1] > by_decile[-1][1]


def test_events_funnel_ordered_semantics(spark, sf_small):
    """Python recompute of the strictly-ordered funnel, plus the
    ordering property: every step's user set is a subset of the
    previous step's, and a user whose purchase precedes their view
    does not convert."""
    import duckdb

    from parquet_extractor_spark.operators.timeseries import (
        FUNNEL_STEPS,
        events_funnel_ordered,
    )

    rows = duckdb.sql(
        f"SELECT user_id, event_type, ts FROM "
        f"'{sf_small}/events.parquet' ORDER BY ts"
    ).fetchall()
    arrivals = {}
    reached = []
    for step_i, step in enumerate(FUNNEL_STEPS):
        cur = {}
        for user, etype, ts in rows:
            if etype != step:
                continue
            if step_i > 0:
                prev = arrivals.get(user)
                if prev is None or ts <= prev:
                    continue
            if user not in cur:
                cur[user] = ts
        arrivals = cur
        reached.append(set(cur))
    got = events_funnel_ordered(spark, sf_small).collect()
    assert [r.n_users for r in got] == [len(s) for s in reached]
    assert reached[2] <= reached[1] <= reached[0]
    for r in got:
        if r.step_idx == 1:
            assert r.conversion_micro == 1_000_000
            assert r.overall_micro == 1_000_000
        else:
            prev = got[r.step_idx - 2].n_users
            assert r.conversion_micro == r.n_users * 1_000_000 // prev
            assert (
                r.overall_micro == r.n_users * 1_000_000 // got[0].n_users
            )


def test_orders_cohort_retention_semantics(spark, sf_small):
    """Offset-0 cells must equal cohort sizes (every customer is
    active in their first month), retention is monotone ≤ 1, and the
    sum of cohort sizes is the distinct customer count."""
    from parquet_extractor_spark.operators.timeseries import (
        orders_cohort_retention,
    )
    from parquet_extractor_spark.sources.tables import load_table

    got = orders_cohort_retention(spark, sf_small).collect()
    zero = {r.cohort_month: r for r in got if r.month_offset == 0}
    for r in got:
        assert r.month_offset >= 0
        assert 0 < r.n_active <= r.cohort_size
        assert r.retention_micro <= 1_000_000
        assert zero[r.cohort_month].n_active == r.cohort_size
        assert zero[r.cohort_month].retention_micro == 1_000_000
    n_cust = (
        load_table(spark, sf_small, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.cohort_size for r in zero.values()) == n_cust


def test_events_funnel_emits_zero_rows_for_unreached_steps(
    spark, tmp_path
):
    """Regression (r09 review): a funnel step nobody reaches must
    appear as an explicit 0 row on BOTH engines — Spark must not drop
    it, and the two engines must agree row for row on a corpus where
    purchases only ever precede the signup."""
    import duckdb

    from parquet_extractor_spark.operators.timeseries import (
        EVENTS_FUNNEL_ORDERED_SQL,
        events_funnel_ordered,
    )

    fixture = tmp_path / "funnel_sf"
    fixture.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT * FROM (VALUES
                (1, TIMESTAMP '2024-01-02 00:00:00', 1, 'signup', 0.0,
                 ''),
                (2, TIMESTAMP '2024-01-03 00:00:00', 1, 'view', 0.0, ''),
                (3, TIMESTAMP '2024-01-01 00:00:00', 1, 'purchase', 1.0,
                 ''),
                (4, TIMESTAMP '2024-01-02 00:00:00', 2, 'signup', 0.0,
                 '')
            ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{fixture}/events.parquet' (FORMAT PARQUET)
        """
    )
    got = events_funnel_ordered(spark, str(fixture)).collect()
    assert [(r.step_idx, r.step, r.n_users) for r in got] == [
        (1, "signup", 2),
        (2, "view", 1),
        (3, "purchase", 0),
    ]
    assert got[2].conversion_micro == 0 and got[2].overall_micro == 0

    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{fixture}/events.parquet'"
    )
    want = con.execute(EVENTS_FUNNEL_ORDERED_SQL).fetchall()
    assert [
        (r.step_idx, r.step, r.n_users, r.conversion_micro,
         r.overall_micro)
        for r in got
    ] == [tuple(w) for w in want]


def test_events_changepoint_cusum_finds_planted_shift(spark, tmp_path):
    """A series with a clean level shift (5/day for 10 days, then
    25/day for 10 days) must peak its |CUSUM| exactly at the last
    low-level day; a flat series' peak score must be tiny. Also
    recompute the integer CUSUM by hand."""
    import duckdb

    from parquet_extractor_spark.operators.timeseries import (
        events_changepoint_cusum,
    )

    fixture = tmp_path / "cp_sf"
    fixture.mkdir()
    rows = []
    eid = 0
    for day in range(20):
        n = 5 if day < 10 else 25
        for k in range(n):
            rows.append(
                f"({eid}, TIMESTAMP '2024-01-01 00:00:00' "
                f"+ INTERVAL {day} DAY + INTERVAL {k} MINUTE, "
                f"1, 'shift', 0.0, '')"
            )
            eid += 1
        for k in range(7):
            rows.append(
                f"({eid}, TIMESTAMP '2024-01-01 00:00:00' "
                f"+ INTERVAL {day} DAY + INTERVAL {k + 200} MINUTE, "
                f"1, 'flat', 0.0, '')"
            )
            eid += 1
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)) TO '"
        + str(fixture / "events.parquet")
        + "' (FORMAT PARQUET)"
    )
    got = {
        r.event_type: r
        for r in events_changepoint_cusum(spark, str(fixture)).collect()
    }
    shift = got["shift"]
    # mean = 15; each low day adds 5*20-300 = -200 to the scaled
    # CUSUM, so the magnitude peaks at the 10th distinct day (the
    # last low-level day). Day epochs are session-TZ dependent, so
    # locate the peak by rank among the series' distinct days.
    days = sorted(
        r.day_epoch
        for r in spark.sql("select 1").sparkSession.read.parquet(
            str(fixture / "events.parquet")
        )
        .selectExpr(
            "cast(unix_timestamp(date_trunc('day', ts)) as bigint) "
            "as day_epoch"
        )
        .distinct()
        .collect()
    )
    assert shift.cp_day_epoch == days[9]
    assert shift.cp_cusum_scaled == -2000  # 10 days x (5*20-300) = -2000
    assert shift.n_days == 20 and shift.total_events == 300
    assert shift.cp_score_micro == 2000 * 1_000_000 // (300 * 20)
    flat = got["flat"]
    assert flat.cp_cusum_scaled == 0 and flat.cp_score_micro == 0
    # all-tie series: the earliest-day tie-break must pick day 1 on
    # BOTH engines (the one place Spark's max(struct(mag, -day)) and
    # the oracle's ORDER BY abs DESC, day ASC could diverge)
    assert flat.cp_day_epoch == days[0]

    # row-for-row engine parity on the planted fixture (like the
    # funnel and ablation regression tests)
    from parquet_extractor_spark.operators.timeseries import (
        EVENTS_CHANGEPOINT_CUSUM_SQL,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{fixture}/events.parquet'"
    )
    want = [tuple(w) for w in con.execute(
        EVENTS_CHANGEPOINT_CUSUM_SQL
    ).fetchall()]
    have = sorted(
        (r.event_type, r.n_days, r.total_events, r.cp_day_epoch,
         r.cp_cusum_scaled, r.cp_score_micro)
        for r in got.values()
    )
    assert have == want

    # drop-to-zero collapse is detectable thanks to the dense day
    # grid: a type active days 1-10 then silent must peak at the last
    # active day with a large score, not report 0
    import os

    fixture2 = os.path.join(os.path.dirname(str(fixture)), "cp_sf2")
    os.makedirs(fixture2, exist_ok=True)
    rows2 = []
    eid2 = 0
    for day in range(10):
        for k in range(100):
            rows2.append(
                f"({eid2}, TIMESTAMP '2024-01-01 00:00:00' "
                f"+ INTERVAL {day} DAY + INTERVAL {k} MINUTE, "
                f"1, 'collapse', 0.0, '')"
            )
            eid2 += 1
    # one trailing marker event on day 99 extends the active range
    rows2.append(
        f"({eid2}, TIMESTAMP '2024-01-01 00:00:00' "
        f"+ INTERVAL 99 DAY, 1, 'collapse', 0.0, '')"
    )
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(rows2)
        + ") t(event_id, ts, user_id, event_type, value, props)) TO '"
        + fixture2
        + "/events.parquet' (FORMAT PARQUET)"
    )
    collapse = events_changepoint_cusum(spark, fixture2).collect()[0]
    assert collapse.n_days == 100  # densified: 90 zero days included
    assert collapse.cp_score_micro > 800_000  # massive baseline move


def test_customer_repurchase_hazard_life_table(spark, sf_small):
    """Python recompute of the life table: spells from per-customer
    consecutive order gaps with the last order censored at the global
    max date; per-gap at-risk/event/censor counts and integer hazard.
    Censoring must account for every customer exactly once."""
    from collections import defaultdict

    import duckdb

    from parquet_extractor_spark.operators.timeseries import (
        customer_repurchase_hazard,
    )

    rows = duckdb.sql(
        f"SELECT o_custkey, CAST(o_orderdate AS DATE) FROM "
        f"'{sf_small}/orders.parquet' ORDER BY o_custkey, 2"
    ).fetchall()
    by_cust = defaultdict(list)
    for ck, d in rows:
        by_cust[ck].append(d)
    end = max(d for _, d in rows)
    events = defaultdict(lambda: [0, 0])  # gap -> [n_events, n_censored]
    for ds in by_cust.values():
        for a, b in zip(ds, ds[1:]):
            events[(b - a).days][0] += 1
        events[(end - ds[-1]).days][1] += 1

    got = customer_repurchase_hazard(spark, sf_small).collect()
    assert len(got) == len(events)
    at_risk = 0
    prev_at_risk = None
    for r in sorted(got, key=lambda r: -r.gap_days):
        ne, nc = events[r.gap_days]
        at_risk += ne + nc
        assert (r.n_events, r.n_censored, r.n_at_risk) == (ne, nc, at_risk)
        assert r.hazard_micro == ne * 1_000_000 // at_risk
        if prev_at_risk is not None:
            assert r.n_at_risk > prev_at_risk  # monotone toward gap 0
        prev_at_risk = r.n_at_risk
    # every customer censored exactly once; every non-final order is
    # an event
    n_orders = len(rows)
    assert sum(r.n_censored for r in got) == len(by_cust)
    assert sum(r.n_events for r in got) == n_orders - len(by_cust)


def test_events_autocorrelation_weekly_period(spark, tmp_path):
    """A planted 7-day periodic series must peak its ACF at lag 7
    (strongly positive) with negative mid-cycle lags; recompute the
    integer ACF by hand from the daily counts."""
    import duckdb

    from parquet_extractor_spark.operators.timeseries import (
        ACF_MAX_LAG,
        events_autocorrelation,
    )

    fixture = tmp_path / "acf_sf"
    fixture.mkdir()
    rows = []
    eid = 0
    for day in range(28):  # 4 full weeks
        n = 20 if day % 7 == 0 else 2
        for k in range(n):
            rows.append(
                f"({eid}, TIMESTAMP '2024-01-01 00:00:00' "
                f"+ INTERVAL {day} DAY + INTERVAL {k} MINUTE, "
                f"1, 'weekly', 0.0, '')"
            )
            eid += 1
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") t(event_id, ts, user_id, event_type, value, props)) TO '"
        + str(fixture / "events.parquet")
        + "' (FORMAT PARQUET)"
    )
    got = {
        r.lag: r
        for r in events_autocorrelation(spark, str(fixture)).collect()
    }
    assert sorted(got) == list(range(1, ACF_MAX_LAG + 1))

    counts = [20 if d % 7 == 0 else 2 for d in range(28)]
    n_days = len(counts)
    total = sum(counts)
    dev = [c * n_days - total for c in counts]
    den = sum(x * x for x in dev)
    for k in range(1, ACF_MAX_LAG + 1):
        num = sum(
            dev[t] * dev[t + k] for t in range(n_days - k)
        )
        # Spark div / DuckDB // both truncate toward zero
        q = num * 1_000_000
        want = q // den if q >= 0 else -((-q) // den)
        assert got[k].acf_micro == want, k
        assert got[k].n_days == n_days
    assert got[7].acf_micro > 500_000  # strong weekly peak
    assert got[3].acf_micro < 0  # mid-cycle anticorrelation
