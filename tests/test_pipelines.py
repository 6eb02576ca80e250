import glob

from pyspark.sql import functions as F

from parquet_extractor_spark.operators.dedup import dedup_components, exact_dedup
from parquet_extractor_spark.operators.quality import quality_scores
from parquet_extractor_spark.pipelines import curate
from parquet_extractor_spark.sources.tables import load_table


def test_curate_end_to_end(spark, sf_small, tmp_path):
    out = str(tmp_path / "trainset")
    result = curate(spark, sf_small, out_dir=out, min_quality=0.3)
    rows = result.collect()
    assert rows

    # survivors respect every gate
    survivor_ids = {r.doc_id for r in rows}
    q = {
        r.doc_id: r.quality_score
        for r in quality_scores(spark, sf_small).collect()
    }
    assert all(q[d] >= 0.3 for d in survivor_ids)

    exact_keep = {
        r.keep_doc_id for r in exact_dedup(spark, sf_small).collect()
    }
    assert survivor_ids <= exact_keep

    canonical = {
        r.doc_id
        for r in dedup_components(spark, sf_small).collect()
        if r.doc_id == r.component
    }
    assert survivor_ids <= canonical

    # chunk rows carry lang and are written partitioned by it
    langs = {
        r.lang
        for r in load_table(spark, sf_small, "documents")
        .select("lang")
        .distinct()
        .collect()
    }
    assert {r.lang for r in rows} <= langs
    written = spark.read.parquet(out)
    assert written.count() == len(rows)
    assert glob.glob(f"{out}/lang=*")

    # every chunk's doc survived; chunk ids dense from 0 per doc
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.chunk_id)
    for doc, ids in per_doc.items():
        assert sorted(ids) == list(range(len(ids)))


def test_incremental_dedup_drops_seen_and_batch_dups(spark):
    from parquet_extractor_spark.pipelines import incremental_dedup

    seen = spark.createDataFrame(
        [("old text",)], "text string"
    ).select(F.md5("text").alias("text_md5"))
    new = spark.createDataFrame(
        [
            (10, "old text"),       # already in corpus -> dropped
            (11, "fresh one"),      # kept
            (12, "fresh two"),      # kept (first copy)
            (13, "fresh two"),      # duplicate within batch -> dropped
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in incremental_dedup(new, seen).collect())
    assert kept == [11, 12]


def test_curate_to_training_set(spark, sf_small, tmp_path):
    from parquet_extractor_spark.operators.training import SEQ_BUDGET
    from parquet_extractor_spark.pipelines import (
        curate,
        curate_to_training_set,
    )

    out = str(tmp_path / "train_set")
    rows = curate_to_training_set(spark, sf_small, out_dir=out).collect()
    assert len(rows) == curate(spark, sf_small).count()

    # doc-level split: every chunk of a doc carries the same split
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_doc.values())
    assert {r.split for r in rows} == {"train", "val", "test"}

    # packing invariant per (split, lang): seq_id is the bin of the
    # running token offset in (doc_id, chunk_id) order
    streams = {}
    for r in sorted(rows, key=lambda r: (r.split, r.lang, r.doc_id, r.chunk_id)):
        off = streams.get((r.split, r.lang), 0)
        assert r.seq_id == off // SEQ_BUDGET
        streams[(r.split, r.lang)] = off + r.n_chunk_tokens

    # written dataset is partitioned by split and lang and reads back
    back = spark.read.parquet(out)
    assert back.count() == len(rows)
    assert {r.split for r in back.select("split").distinct().collect()} == {
        "train", "val", "test",
    }


def test_curate_semantic_stage_drops_survivor_near_dups(spark, sf_small, tmp_path):
    """semantic=True must remove exactly the docs SemDeDup marks as
    non-exemplars when run over the LEXICAL SURVIVORS (not the full
    table — an exemplar that already failed an earlier gate must not
    drag its group down with it)."""
    from pyspark.sql import functions as F

    from parquet_extractor_spark.operators.similarity import semdedup_verdicts
    from parquet_extractor_spark.pipelines import curate
    from parquet_extractor_spark.sources.tables import load_table

    base_docs = {
        r.doc_id for r in curate(spark, sf_small).select("doc_id").distinct().collect()
    }
    sem_docs = {
        r.doc_id
        for r in curate(spark, sf_small, semantic=True)
        .select("doc_id")
        .distinct()
        .collect()
    }
    surv_emb = load_table(spark, sf_small, "embeddings").filter(
        F.col("vec_id").isin(*base_docs)
    )
    dropped = {
        r.vec_id
        for r in semdedup_verdicts(spark, surv_emb)
        .filter(~F.col("keep"))
        .collect()
    }
    assert sem_docs == base_docs - dropped
    assert sem_docs < base_docs  # the stage actually removed something


def test_training_set_honors_semantic_flag(spark, sf_small):
    """--training-set --semantic must actually run the semantic stage
    (regression: the flag used to be silently dropped)."""
    from parquet_extractor_spark.pipelines import curate_to_training_set

    plain = curate_to_training_set(spark, sf_small).select("doc_id").distinct()
    sem = curate_to_training_set(spark, sf_small, semantic=True).select(
        "doc_id"
    ).distinct()
    assert sem.count() < plain.count()


def test_curate_classifier_stage_gates_exactly_on_keep_flag(spark, sf_small):
    """classifier=True must keep exactly the docs the standalone
    quality_classifier_scores flags keep=True (intersected with the
    other gates) — the stage composes, it doesn't re-score."""
    from parquet_extractor_spark.operators.quality import (
        quality_classifier_scores,
    )
    from parquet_extractor_spark.pipelines import curate

    base = {r.doc_id for r in curate(spark, sf_small).collect()}
    gated = {
        r.doc_id for r in curate(spark, sf_small, classifier=True).collect()
    }
    kept_flags = {
        r.doc_id
        for r in quality_classifier_scores(spark, sf_small).collect()
        if r.keep
    }
    assert gated == base & kept_flags
    assert gated < base  # the stage must actually drop something here


def test_datacard_report(spark, sf_small):
    from parquet_extractor_spark.operators.analyze import corpus_stats
    from parquet_extractor_spark.pipelines import datacard

    card = datacard(spark, sf_small)
    assert set(card) == {
        "sf_dir",
        "corpus",
        "languages",
        "length_quantiles",
        "quality_by_source",
        "dedup_reduction",
        "drift_by_source",
        "mixing_weights",
        "length_buckets",
        "readability_buckets",
        "dup_cluster_histogram",
        "split_leakage",
        "embedding_integrity",
        "top_boilerplate_by_source",
        "benchmark_contamination",
    }
    # integrity gate: coverage over the fixture's full id overlap
    assert card["embedding_integrity"]["coverage_frac"] == 1.0
    assert card["embedding_integrity"]["n_docs_without_vec"] == 0
    # one top-ranked boilerplate gram per source
    assert len(card["top_boilerplate_by_source"]) == len(
        card["quality_by_source"]
    )
    assert all(r["rank"] == 1 for r in card["top_boilerplate_by_source"])
    # cluster buckets partition the corpus; leakage rows carry flags
    assert sum(r["n_docs"] for r in card["dup_cluster_histogram"]) == (
        card["corpus"]["document_count"]
    )
    assert all("is_leak" in r for r in card["split_leakage"])
    assert card["mixing_weights"] and card["length_buckets"]
    # readability buckets cover the corpus exactly once
    rb_total = sum(r["n_docs"] for r in card["readability_buckets"])
    assert rb_total == card["corpus"]["document_count"]
    shares = sum(r["temp_share"] for r in card["mixing_weights"])
    assert abs(shares - 1.0) < 1e-3
    for b in card["length_buckets"]:
        assert 0.0 <= b["waste_frac"] < 1.0
    bc = card["benchmark_contamination"]
    assert 0 <= bc["n_flagged"] <= bc["n_docs"]
    direct = corpus_stats(spark, sf_small).first().asDict()
    assert card["corpus"] == direct
    assert card["languages"] and card["drift_by_source"]
    langs_total = sum(r["total_tokens"] for r in card["languages"])
    assert langs_total == direct["total_tokens"]
    for d in card["drift_by_source"]:
        assert d["token_kl"] >= 0.0
        assert d["length_ks"] is not None and 0.0 <= d["length_ks"] <= 1.0
    import json as _json

    _json.dumps(card, default=str)  # JSON-able end to end


def test_event_markov_transitions_row_stochastic(spark, sf_small):
    from parquet_extractor_spark.operators.timeseries import (
        event_markov_transitions,
    )

    rows = event_markov_transitions(spark, sf_small).collect()
    assert rows
    by_prev = {}
    for r in rows:
        assert r.n >= 1 and 0.0 < r.p <= 1.0
        by_prev.setdefault(r.prev_type, []).append(r)
    for prev, rs in by_prev.items():
        assert abs(sum(r.p for r in rs) - 1.0) < 1e-4  # rounding slack
        total = sum(r.n for r in rs)
        for r in rs:
            assert abs(r.p - r.n / total) < 1e-6


def test_curation_funnel_is_monotone_and_consistent(spark, sf_small):
    from parquet_extractor_spark.pipelines import curation_funnel

    rows = sorted(
        curation_funnel(spark, sf_small).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == [
        "raw", "quality_gate", "classifier_gate",
        "exact_dedup", "near_dedup", "decontaminated",
    ]
    assert rows[0].n_docs == 500 and rows[0].retained_frac == 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
    for r in rows:
        assert abs(r.retained_frac - r.n_docs / rows[0].n_docs) < 1e-6
    # the pipeline must actually drop something end to end
    assert rows[-1].n_docs < rows[0].n_docs


def test_release_manifest_reconciles_with_funnel(spark, sf_small):
    """The manifest's totals must equal curation_funnel's final
    'decontaminated' stage (same gate tiers, different grouping), the
    split shares must sum to ~1e6 per split, and every split's doc
    assignment must follow the portable hash rule."""
    import hashlib

    from parquet_extractor_spark.pipelines import (
        curation_funnel,
        release_manifest,
    )

    manifest = release_manifest(spark, sf_small).collect()
    funnel = {r.stage: r for r in curation_funnel(spark, sf_small).collect()}
    final = funnel["decontaminated"]
    assert sum(r.n_docs for r in manifest) == final.n_docs
    assert sum(r.n_tokens for r in manifest) == final.n_tokens

    by_split = {}
    for r in manifest:
        by_split.setdefault(r.split, []).append(r)
    for split, rows in by_split.items():
        share = sum(r.split_token_share_micro for r in rows)
        # floor() per cell loses < 1 micro-unit per source
        assert 1_000_000 - len(rows) <= share <= 1_000_000
    assert set(by_split) <= {"train", "val", "test"}


def test_gate_flags_match_standalone_operators(spark, sf_small):
    """Each fused gate flag is exactly the doc set its standalone
    operator yields: the shared scan keeps one definition per gate."""
    from parquet_extractor_spark.operators.contamination import (
        ngram_decontamination,
    )
    from parquet_extractor_spark.operators.dedup import (
        _components_tier,
        _exact_keep_tier,
    )
    from parquet_extractor_spark.operators.quality import (
        quality_classifier_scores,
    )
    from parquet_extractor_spark.pipelines import MIN_QUALITY, _gate_flags

    def ids(df):
        return {r.doc_id for r in df.select("doc_id").collect()}

    flags = _gate_flags(spark, sf_small).collect()
    assert len(flags) == load_table(spark, sf_small, "documents").count()
    expected = {
        "f_q": ids(
            quality_scores(spark, sf_small).filter(
                F.col("quality_score") >= MIN_QUALITY
            )
        ),
        "f_c": ids(quality_classifier_scores(spark, sf_small).filter("keep")),
        "f_e": ids(_exact_keep_tier(spark, sf_small)),
        "f_n": ids(
            _components_tier(spark, sf_small).filter(
                F.col("doc_id") == F.col("component")
            )
        ),
        "f_x": ids(ngram_decontamination(spark, sf_small)),
    }
    for flag, want in expected.items():
        assert all(r[flag] is not None for r in flags), flag
        assert {r.doc_id for r in flags if r[flag]} == want, flag


def test_funnel_and_manifest_build_submits_no_spark_job(
    spark, sf_small, jobs_in_group
):
    """With the tiers warm, building either report only composes a
    plan: every Spark job runs when the caller executes it."""
    from parquet_extractor_spark.pipelines import (
        curation_funnel,
        release_manifest,
    )

    for fn in (curation_funnel, release_manifest):
        fn(spark, sf_small).collect()  # warm tiers and read schemas
        assert jobs_in_group(
            lambda: fn(spark, sf_small), f"build-{fn.__name__}"
        ) == []


def test_curation_reports_match_oracle_on_degenerate_docs(
    spark, sf_small, tmp_path, monkeypatch
):
    """The fused reports and the n-gram queries against their DuckDB
    oracles on degenerate documents: the fixture gains an empty-text
    doc, an empty-text benchmark doc, and a benchmark doc sharing one
    4-gram with a non-benchmark doc, which the arrays_overlap probe
    must flag. An empty doc has no n-grams, so it shares none with
    the empty benchmark doc: neither the fused probe nor the
    standalone decontamination flags it."""
    import os
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_extractor_spark import store
    from parquet_extractor_spark.operators.contamination import (
        BENCH_MOD,
        ngram_decontamination,
    )
    from parquet_extractor_spark.pipelines import _gate_flags

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from check_oracle import run_gate

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(sf_small):
        if name != "documents.parquet":
            os.symlink(os.path.join(sf_small, name), sf / name)
    docs = pq.read_table(os.path.join(sf_small, "documents.parquet"))
    top = max(docs.column("doc_id").to_pylist())
    base = docs.slice(1, 1).to_pylist()[0]
    assert base["doc_id"] % BENCH_MOD != 0
    gram = " ".join(base["text"].split()[:4])
    empty_id = top + 1 if (top + 1) % BENCH_MOD else top + 2
    bench_ids = [(top // BENCH_MOD + k) * BENCH_MOD for k in (1, 2)]
    extra = [
        dict(base, doc_id=empty_id, text="", n_chars=0),
        dict(base, doc_id=bench_ids[0], text="", n_chars=0),
        dict(base, doc_id=bench_ids[1], text=gram, n_chars=len(gram)),
    ]
    pq.write_table(
        pa.concat_tables(
            [docs, pa.Table.from_pylist(extra, schema=docs.schema)]
        ),
        sf / "documents.parquet",
    )

    # private store: the variant's tiers must not land in the shared one
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "store"))
    store.clear()
    try:
        flags = _gate_flags(spark, str(sf)).filter("f_x").collect()
        assert base["doc_id"] in {r.doc_id for r in flags}
        assert empty_id not in {r.doc_id for r in flags}
        exact = ngram_decontamination(spark, str(sf)).collect()
        assert base["doc_id"] in {r.doc_id for r in exact}
        assert empty_id not in {r.doc_id for r in exact}
        failures = run_gate(
            only=(
                "curation_funnel",
                "release_manifest",
                "ngram_decontamination",
                "bloom_decontamination",
                "decontamination_report",
                "ngram_novelty_profile",
                "corpus_novelty_curve",
            ),
            sf_dir=str(sf),
            spark=spark,
        )
    finally:
        store.clear()
    assert failures == []
