"""End-to-end corpus curation: the composed training-data pipeline.

One lazy DataFrame chain from raw documents to a partitioned training
set: quality gate → exact dedup → near-dup dedup (LSH components) →
chunking → partitioned parquet. Each stage is an operator that is
individually oracle-checked; this module only composes them, so the
whole pipeline stays a single Catalyst plan per action with no
driver-side data movement (the one exception: the components loop,
which is iterative by nature and documented in operators/dedup.py).

Stage order matters at scale and is deliberate:
1. quality filter FIRST — it is a map-side predicate, so every
   discarded document is dropped before any shuffle pays for it;
2. exact dedup before near-dup — md5 groupBy is cheap and typically
   removes the bulk of duplicates, shrinking the LSH input;
3. near-dup components AFTER exact — pair generation cost scales with
   surviving docs;
4. chunking LAST — it multiplies row count, so it must run after all
   the filters, never before.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_extractor_spark.functions.text import tokenize_sql
from parquet_extractor_spark.operators.quality import MIN_QUALITY, quality_scores
from parquet_extractor_spark.operators.textprep import doc_chunks
from parquet_extractor_spark.sinks.dataset import write_dataset
from parquet_extractor_spark.sources.tables import load_table, spread


def curate(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    min_quality: float = MIN_QUALITY,
    semantic: bool = False,
    classifier: bool = False,
) -> DataFrame:
    """Run the full curation chain; returns the chunk-level training
    set (doc_id, lang, chunk_id, n_chunk_tokens, chunk_text). When
    ``out_dir`` is given, also writes it partitioned by lang.
    ``semantic=True`` appends the SemDeDup stage (embedding-space
    exemplar selection, joined on the embeddings.vec_id ==
    documents.doc_id relationship) after the lexical dedup tiers —
    the order the tiers run in production: lexical first (cheap,
    removes the bulk), semantic last (per-cell pair cost over the
    survivors' embedding space). ``classifier=True`` inserts the
    model-based filter (quality_classifier_scores keep flag) alongside
    the heuristic gate — the FineWeb-Edu ordering, where the cheap
    rule gate feeds the classifier stage.
    """
    docs = load_table(spark, sf_dir, "documents")

    # 1. quality gate (map-side predicate semantics: quality_scores is
    #    a pure column-expression pipeline over doc_id)
    quality = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    keep_quality = quality.filter(
        F.col("quality_score") >= min_quality
    ).select("doc_id")

    # 1b. optional model-based gate (map-side like the heuristic one)
    if classifier:
        from parquet_extractor_spark.operators.quality import (
            quality_classifier_scores,
        )

        keep_cls = (
            quality_classifier_scores(spark, sf_dir)
            .filter(F.col("keep"))
            .select("doc_id")
        )
        keep_quality = keep_quality.join(keep_cls, "doc_id", "left_semi")

    # 2. exact dedup survivors (min doc_id per distinct text) — via
    #    the materialized tier store, shared with the report queries
    from parquet_extractor_spark.operators.dedup import (
        _components_tier,
        _exact_keep_tier,
    )

    exact_survivors = _exact_keep_tier(spark, sf_dir)

    # 3. near-dup components: keep only each component's canonical doc
    comp = _components_tier(spark, sf_dir)
    near_survivors = comp.filter(F.col("doc_id") == F.col("component")).select(
        "doc_id"
    )

    survivors = (
        keep_quality.join(exact_survivors, "doc_id", "left_semi")
        .join(near_survivors, "doc_id", "left_semi")
    )

    # 3b. optional semantic stage: SemDeDup over the SURVIVORS'
    #     embeddings (not the full table — an exemplar that already
    #     failed an earlier gate must not drag its group down with
    #     it). Docs without an embedding row pass through — SemDeDup
    #     only rules on what it can see.
    if semantic:
        from parquet_extractor_spark.operators.similarity import (
            semdedup_verdicts,
        )

        surv_emb = (
            load_table(spark, sf_dir, "embeddings")
            .select(F.col("vec_id"), "embedding")
            .join(
                survivors.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
        )
        sem_dropped = (
            semdedup_verdicts(spark, surv_emb)
            .filter(~F.col("keep"))
            .select(F.col("vec_id").alias("doc_id"))
        )
        survivors = survivors.join(sem_dropped, "doc_id", "left_anti")

    # 4. chunk the surviving documents; carry lang for partitioning
    chunks = doc_chunks(spark, sf_dir).join(
        survivors, "doc_id", "left_semi"
    )
    result = chunks.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "chunk_id", "n_chunk_tokens", "chunk_text")

    if out_dir:
        write_dataset(
            result,
            out_dir,
            partition_by=["lang"],
            sort_by=["doc_id", "chunk_id"],
            output_tasks=4,
        )
    return result


def curate_to_training_set(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    min_quality: float = MIN_QUALITY,
    semantic: bool = False,
    classifier: bool = False,
) -> DataFrame:
    """The curation chain extended to a TRAINING-READY set: curate →
    deterministic train/val/test assignment → packed-sequence ids,
    written partitioned by (split, lang).

    The split is assigned per DOCUMENT (portable hash, operators/
    training.py semantics), so all of a doc's chunks land in one
    split — chunk-level splitting leaks near-identical text across
    the eval boundary. Packing runs within (split, lang) streams in
    chunk order; at 100 TB each stream packs independently, so no
    global order exists anywhere in the plan.
    """
    from parquet_extractor_spark.functions.text import portable_hash64
    from parquet_extractor_spark.operators.training import (
        SEQ_BUDGET,
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
    )
    from pyspark.sql.window import Window

    chunks = curate(
        spark, sf_dir, out_dir=None, min_quality=min_quality,
        semantic=semantic, classifier=classifier,
    )

    pct = portable_hash64(
        F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(pct < TRAIN_PCT, "train")
        .when(pct < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    assigned = chunks.withColumn("split", split)

    w = Window.partitionBy("split", "lang").orderBy("doc_id", "chunk_id")
    packed = assigned.withColumn(
        "seq_id",
        (
            F.coalesce(
                F.sum("n_chunk_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            )
            / SEQ_BUDGET
        ).cast("bigint"),
    )
    result = packed.select(
        "split", "lang", "seq_id", "doc_id", "chunk_id",
        "n_chunk_tokens", "chunk_text",
    )
    if out_dir:
        write_dataset(
            result,
            out_dir,
            partition_by=["split", "lang"],
            sort_by=["seq_id", "doc_id", "chunk_id"],
            output_tasks=4,
        )
    return result


def incremental_dedup(
    new_docs: DataFrame,
    seen_digests: DataFrame,
) -> DataFrame:
    """Incremental curation: drop new documents whose content digest
    already exists in the corpus (append-batch vs accumulated state).

    ``seen_digests`` is a single-column (text_md5) table — in
    production the running output of exact_dedup, stored bucketed on
    text_md5 so this anti-join is shuffle-free on the corpus side
    (see sinks.dataset.write_bucketed). Within the new batch itself,
    first-copy-wins via min(doc_id), same as exact_dedup.
    """
    digested = new_docs.withColumn("text_md5", F.md5("text"))
    w_first = (
        digested.groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(digested, ["text_md5", "doc_id"])
    )
    return w_first.join(seen_digests, "text_md5", "left_anti").drop(
        "text_md5"
    )


def datacard(spark: SparkSession, sf_dir: str) -> dict:
    """Corpus datasheet (Gebru et al. 2021 "Datasheets for Datasets",
    mechanized): one JSON-able report assembling the bounded
    aggregates an LLM-data release ships alongside the shards —
    volume, language/source mix, quality pass rates, dedup reduction,
    length profile, and per-source drift screens.

    Every section is an existing registry query; each returns a
    GROUP-cardinality result (languages, sources, one-row stats), so
    the driver only ever collects constant-size tables no matter the
    corpus size. The heavy lifting stays in the same audited plans
    the driver hash-checks.
    """
    from parquet_extractor_spark.operators.analyze import (
        corpus_stats,
        doc_length_quantiles,
        source_length_ks,
        source_token_kl,
        tokens_per_lang,
    )
    from parquet_extractor_spark.operators.dedup import (
        dedup_reduction_report,
    )
    from parquet_extractor_spark.operators.quality import (
        source_quality_summary,
    )

    stats = corpus_stats(spark, sf_dir).first().asDict()
    langs = [
        r.asDict() for r in tokens_per_lang(spark, sf_dir).collect()
    ]
    lengths = [
        r.asDict() for r in doc_length_quantiles(spark, sf_dir).collect()
    ]
    quality = [
        r.asDict() for r in source_quality_summary(spark, sf_dir).collect()
    ]
    reduction = [
        r.asDict() for r in dedup_reduction_report(spark, sf_dir).collect()
    ]
    from parquet_extractor_spark.operators.contamination import (
        bloom_decontamination,
    )
    from parquet_extractor_spark.operators.training import (
        length_bucketing_efficiency,
        temperature_mixing_weights,
    )

    mixing = [
        r.asDict()
        for r in temperature_mixing_weights(spark, sf_dir).collect()
    ]
    buckets = [
        r.asDict()
        for r in length_bucketing_efficiency(spark, sf_dir).collect()
    ]
    # contamination rate: one more bounded aggregate over the
    # zero-join Bloom screen (flag counts, not per-doc rows)
    decon = (
        bloom_decontamination(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("flagged").cast("int")).alias("n_flagged"),
        )
        .first()
    )
    from parquet_extractor_spark.operators.dedup import (
        dup_cluster_histogram,
    )
    from parquet_extractor_spark.operators.training import (
        split_leakage_audit,
    )

    clusters = [
        r.asDict() for r in dup_cluster_histogram(spark, sf_dir).collect()
    ]
    leakage = [
        r.asDict() for r in split_leakage_audit(spark, sf_dir).collect()
    ]
    from parquet_extractor_spark.operators.quality import (
        readability_scores,
    )

    readability = [
        r.asDict()
        for r in readability_scores(spark, sf_dir)
        .groupBy("ease_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("ease_bucket")
        .collect()
    ]
    from parquet_extractor_spark.operators.analyze import (
        corpus_integrity_audit,
        source_boilerplate_ngrams,
    )

    integrity = corpus_integrity_audit(spark, sf_dir).first().asDict()
    boilerplate = [
        r.asDict()
        for r in source_boilerplate_ngrams(spark, sf_dir)
        .where(F.col("rank") == 1)
        .collect()
    ]
    kl = {r.source: r.kl_divergence for r in source_token_kl(spark, sf_dir).collect()}
    ks = {r.source: r.ks_stat for r in source_length_ks(spark, sf_dir).collect()}
    drift = [
        {
            "source": s,
            "token_kl": kl[s],
            "length_ks": ks.get(s),
        }
        for s in sorted(kl)
    ]
    return {
        "sf_dir": sf_dir,
        "corpus": stats,
        "languages": langs,
        "length_quantiles": lengths,
        "quality_by_source": quality,
        "dedup_reduction": reduction,
        "drift_by_source": drift,
        "mixing_weights": mixing,
        "length_buckets": buckets,
        "readability_buckets": readability,
        "dup_cluster_histogram": clusters,
        "split_leakage": leakage,
        "embedding_integrity": integrity,
        "top_boilerplate_by_source": boilerplate,
        "benchmark_contamination": {
            "screen": "bloom(ngram)",
            "n_docs": int(decon.n_docs),
            "n_flagged": int(decon.n_flagged or 0),
        },
    }


# ── observable funnel report over the composed pipeline ──────────────


def _gate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five curation gates as one row per document:
    (doc_id, source, n, f_q, f_c, f_e, f_n, f_x) — token count, then
    heuristic quality ≥ MIN_QUALITY, classifier keep, exact-dedup
    survivor, near-dup component canonical, and n-gram contaminated
    (f_x True means the doc drops).

    Shared scan: the corpus is read and tokenized once (the benchmark
    slice, 1/BENCH_MOD of it, once more for its gram set), and each
    flag comes from its operator's own expression (quality_columns,
    CLS_LOGIT_SQL, word_ngrams at DECONTAM_NGRAM), so no gate formula
    is restated here. The dedup gates are left joins to the shared
    tiers, unique per doc_id, so cardinality holds; the tiers grow
    with the corpus, so there is no broadcast hint and AQE picks the
    join. Decontamination probes each doc's distinct grams against
    the benchmark slice's distinct gram set, collected into one array
    and broadcast as a 1-row frame. That array is bounded by the
    benchmark, a fixed artifact (the argument the Bloom tier makes),
    not by the corpus; the probe costs O(benchmark grams) per doc.
    """
    from parquet_extractor_spark.functions.text import tokenize, word_ngrams
    from parquet_extractor_spark.operators.contamination import (
        BENCH_MOD,
        DECONTAM_NGRAM,
    )
    from parquet_extractor_spark.operators.dedup import (
        _components_tier,
        _exact_keep_tier,
    )
    from parquet_extractor_spark.operators.quality import (
        CLS_LOGIT_SQL,
        quality_columns,
    )

    def gram_set(toks):
        return F.array_distinct(word_ngrams(toks, DECONTAM_NGRAM))

    raw = load_table(spark, sf_dir, "documents")
    docs = spread(raw).select(
        "doc_id", "source", "text", tokenize("text").alias("toks")
    ).withColumn("grams", gram_set(F.col("toks")))
    in_bench = (F.col("doc_id") % BENCH_MOD) == 0
    # the benchmark slice (1/BENCH_MOD of the docs) skips spread's
    # round-robin shuffle: its filter is pushed below it anyway
    bench = (
        raw.filter(in_bench)
        .select(F.explode(gram_set(tokenize("text"))).alias("g"))
        .agg(F.collect_set("g").alias("bench_g"))
    )
    exact_keep = _exact_keep_tier(spark, sf_dir).withColumn(
        "f_e", F.lit(True)
    )
    canon_keep = (
        _components_tier(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("component"))
        .select("doc_id", F.lit(True).alias("f_n"))
    )
    quality = quality_columns(F.col("toks"))["quality_score"]
    hit = F.coalesce(F.arrays_overlap("grams", "bench_g"), F.lit(False))
    return (
        docs.crossJoin(F.broadcast(bench))
        .join(exact_keep, "doc_id", "left")
        .join(canon_keep, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.size("toks").cast("bigint").alias("n"),
            (F.round(quality, 2) >= MIN_QUALITY).alias("f_q"),
            (F.expr(CLS_LOGIT_SQL) > 0).alias("f_c"),
            F.coalesce("f_e", F.lit(False)).alias("f_e"),
            F.coalesce("f_n", F.lit(False)).alias("f_n"),
            (~in_bench & hit).alias("f_x"),
        )
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor accounting for the curate() chain — the
    report a data engineer reads before shipping a corpus ("quality
    gate dropped 12%, near-dup another 30%…").

    Six cumulative stages: raw → heuristic quality gate → model-based
    classifier gate → exact dedup → near-dup components → n-gram
    decontamination, each reporting surviving docs, surviving tokens
    and the retained fraction of the raw corpus. Stage predicates are
    the same gates curate() composes (_gate_flags; shared tier store,
    so a sweep computes the dedup tiers once).

    Plan shape: one shared scan of documents yields all five gate
    flags per doc (_gate_flags), and all six cumulative stage counts
    come out of ONE conditional aggregate over the flags, unpivoted
    with ``stack``. With the dedup tiers warm, building the frame runs
    no Spark job; the 1-row benchmark gram set broadcast in
    _gate_flags is bounded by the fixed benchmark slice, not by the
    corpus.
    Output: (stage_idx, stage, n_docs, n_tokens, retained_frac).
    """
    flags = _gate_flags(spark, sf_dir)
    s1 = F.col("f_q")
    s2 = s1 & F.col("f_c")
    s3 = s2 & F.col("f_e")
    s4 = s3 & F.col("f_n")
    s5 = s4 & ~F.col("f_x")
    names = [
        "raw",
        "quality_gate",
        "classifier_gate",
        "exact_dedup",
        "near_dedup",
        "decontaminated",
    ]
    aggs = []
    for i, cond in enumerate([F.lit(True), s1, s2, s3, s4, s5]):
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"d{i}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("n"))), F.lit(0))
            .cast("bigint")
            .alias(f"t{i}")
        )
    row = flags.agg(*aggs)
    stack = "stack(6, " + ", ".join(
        f"CAST({i} AS BIGINT), '{names[i]}', d{i}, t{i}" for i in range(6)
    ) + ") AS (stage_idx, stage, n_docs, n_tokens)"
    return (
        row.select(F.expr(stack), F.col("d0").alias("raw_docs"))
        .select(
            "stage_idx",
            "stage",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("raw_docs"), 6).alias(
                "retained_frac"
            ),
        )
        .orderBy("stage_idx")
    )


def _funnel_oracle() -> str:
    from parquet_extractor_spark.operators.contamination import (
        NGRAM_DECONTAMINATION_SQL,
    )
    from parquet_extractor_spark.operators.dedup import (
        DEDUP_COMPONENTS_SQL,
        EXACT_DEDUP_SQL,
    )
    from parquet_extractor_spark.operators.quality import (
        QUALITY_CLASSIFIER_SQL,
        QUALITY_SCORES_SQL,
    )

    def body(sql: str) -> str:
        head, _, _tail = sql.strip().rpartition("ORDER BY")
        return head.strip()

    return f"""
WITH toks AS (
    SELECT doc_id, CAST(len({tokenize_sql('text')}) AS BIGINT) AS n FROM documents
),
qual AS ({body(QUALITY_SCORES_SQL)}),
cls AS ({body(QUALITY_CLASSIFIER_SQL)}),
exact AS ({body(EXACT_DEDUP_SQL)}),
comp AS ({body(DEDUP_COMPONENTS_SQL)}),
contam AS ({body(NGRAM_DECONTAMINATION_SQL)}),
s1 AS (SELECT t.doc_id, t.n FROM toks t
       JOIN qual q ON q.doc_id = t.doc_id
       WHERE q.quality_score >= {MIN_QUALITY}),
s2 AS (SELECT s.doc_id, s.n FROM s1 s
       JOIN cls c ON c.doc_id = s.doc_id AND c.keep),
s3 AS (SELECT s.doc_id, s.n FROM s2 s
       WHERE s.doc_id IN (SELECT keep_doc_id FROM exact)),
s4 AS (SELECT s.doc_id, s.n FROM s3 s
       JOIN comp c ON c.doc_id = s.doc_id AND c.component = s.doc_id),
s5 AS (SELECT s.doc_id, s.n FROM s4 s
       WHERE s.doc_id NOT IN (SELECT doc_id FROM contam)),
raw_total AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs FROM toks),
stages AS (
    SELECT 0 AS stage_idx, 'raw' AS stage,
           count(*) AS n_docs, coalesce(sum(n), 0) AS n_tokens FROM toks
    UNION ALL SELECT 1, 'quality_gate', count(*), coalesce(sum(n), 0) FROM s1
    UNION ALL SELECT 2, 'classifier_gate', count(*), coalesce(sum(n), 0) FROM s2
    UNION ALL SELECT 3, 'exact_dedup', count(*), coalesce(sum(n), 0) FROM s3
    UNION ALL SELECT 4, 'near_dedup', count(*), coalesce(sum(n), 0) FROM s4
    UNION ALL SELECT 5, 'decontaminated', count(*), coalesce(sum(n), 0) FROM s5
)
SELECT CAST(stage_idx AS BIGINT) AS stage_idx,
       stage,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_docs / CAST(raw_docs AS DOUBLE), 6) AS retained_frac
FROM stages CROSS JOIN raw_total
ORDER BY stage_idx
"""


CURATION_FUNNEL_SQL = _funnel_oracle()


def release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIPPING artifact at the end of the curation chain: the
    documents that survive ALL five gates (heuristic quality,
    model-based classifier, exact dedup, near-dup canonical,
    n-gram decontamination — the same gates curate()/curation_funnel
    compose), assigned to train/val/test and accounted per
    (split, source) with each cell's token share of its split. This
    is the table a release note prints and a trainer's data loader
    is configured from.

    Split hygiene note: survivors are near-dup component CANONICALS,
    so the portable doc-hash split here coincides with
    leakage_safe_split's component-hash rule (hash(doc) =
    hash(component) when doc IS the component representative) —
    dedup-before-split is exactly what makes the simple hash split
    leak-free, and the leakage_safe_split operator covers the
    pre-dedup case.

    Plan shape: the funnel's shared-scan gate flags (_gate_flags)
    become a ledger whose n is NULL for a doc any gate drops, and the
    stream runner's aggregation (manifest_from_ledger) reduces it: one
    (split, source) partial+final agg, then the split-total window and
    the sort over the coalesced cells with no further exchange.
    With the dedup tiers warm, building the frame runs no Spark job;
    the 1-row benchmark gram set broadcast in _gate_flags is bounded
    by the fixed benchmark slice, not by the corpus. Output ≤
    |splits|×|sources| rows at any corpus size.
    """
    from parquet_extractor_spark.operators.training import _split_column
    from parquet_extractor_spark.streaming.documents import (
        manifest_from_ledger,
    )

    keep = (
        F.col("f_q") & F.col("f_c") & F.col("f_e") & F.col("f_n")
        & ~F.col("f_x")
    )
    ledger = _gate_flags(spark, sf_dir).select(
        "doc_id",
        "source",
        F.when(keep, F.col("n")).alias("n"),  # NULL: dropped by a gate
        _split_column().alias("split"),
    )
    return manifest_from_ledger(ledger)


def _release_manifest_oracle() -> str:
    from parquet_extractor_spark.operators.contamination import (
        NGRAM_DECONTAMINATION_SQL,
    )
    from parquet_extractor_spark.operators.dedup import (
        DEDUP_COMPONENTS_SQL,
        EXACT_DEDUP_SQL,
    )
    from parquet_extractor_spark.operators.quality import (
        QUALITY_CLASSIFIER_SQL,
        QUALITY_SCORES_SQL,
    )
    from parquet_extractor_spark.operators.training import _split_case_sql

    def body(sql: str) -> str:
        head, _, _tail = sql.strip().rpartition("ORDER BY")
        return head.strip()

    return f"""
WITH toks AS (
    SELECT doc_id, source, CAST(len({tokenize_sql('text')}) AS BIGINT) AS n
    FROM documents
),
qual AS ({body(QUALITY_SCORES_SQL)}),
cls AS ({body(QUALITY_CLASSIFIER_SQL)}),
exact AS ({body(EXACT_DEDUP_SQL)}),
comp AS ({body(DEDUP_COMPONENTS_SQL)}),
contam AS ({body(NGRAM_DECONTAMINATION_SQL)}),
survivors AS (
    SELECT t.doc_id, t.source, t.n,
           {_split_case_sql('t.doc_id')} AS split
    FROM toks t
    JOIN qual q ON q.doc_id = t.doc_id
         AND q.quality_score >= {MIN_QUALITY}
    JOIN cls c ON c.doc_id = t.doc_id AND c.keep
    JOIN comp k ON k.doc_id = t.doc_id AND k.component = t.doc_id
    WHERE t.doc_id IN (SELECT keep_doc_id FROM exact)
      AND t.doc_id NOT IN (SELECT doc_id FROM contam)
),
cells AS (
    SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens
    FROM survivors GROUP BY split, source
),
split_totals AS (
    SELECT split, sum(n_tokens) AS split_tokens FROM cells GROUP BY split
)
SELECT c.split, c.source, c.n_docs, c.n_tokens,
       CAST(floor(c.n_tokens * 1000000.0 / t.split_tokens) AS BIGINT)
           AS split_token_share_micro
FROM cells c JOIN split_totals t ON c.split = t.split
ORDER BY c.split, c.source
"""


RELEASE_MANIFEST_SQL = _release_manifest_oracle()
