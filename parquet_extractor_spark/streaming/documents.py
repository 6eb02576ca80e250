"""Structured Streaming curation over the documents table: the
streaming twin of ``pipelines.curate``'s front half — quality gate →
exact content dedup → partitioned dataset sink via foreachBatch.

This is the shape a continuously-ingesting training-data pipeline
runs: new crawl files land in a directory, the stream picks them up,
scores them with the SAME column expressions as the batch path
(``quality.quality_columns`` — one formula, two execution modes),
drops exact duplicates by content hash, and appends to a
lang-partitioned parquet dataset.

State note: ``dropDuplicates`` on the content hash keeps one state
row per distinct document seen — unbounded on a forever-stream. A
production deployment attaches an ingest-time watermark and uses
``dropDuplicatesWithinWatermark`` (bounded state, dedup within the
late-data horizon), exactly as ``streaming.events.dedup_stream``
demonstrates; the fixture drain uses the unbounded form so the
batch-equality contract is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from parquet_extractor_spark.operators.quality import MIN_QUALITY, quality_columns
from parquet_extractor_spark.session import materialize, query_scope
from parquet_extractor_spark.sources.tables import local_frame
from parquet_extractor_spark.streaming import drain, epoch_sink

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def curate_stream(docs: DataFrame, classifier: bool = False) -> DataFrame:
    """quality gate (+ optional model-based classifier gate) + exact
    content dedup, all map-side except the dedup state lookup (keyed
    by the 32-byte md5, never the text). ``classifier=True`` mirrors
    pipelines.curate's stage: the classifier logit is a stateless
    column expression (hashed bag-of-words × literal weights), so it
    composes onto a stream unchanged."""
    c = quality_columns()
    out = docs.withColumn(
        "quality_score", F.round(c["quality_score"], 2)
    ).filter(F.col("quality_score") >= MIN_QUALITY)
    if classifier:
        from parquet_extractor_spark.functions.text import tokenize
        from parquet_extractor_spark.operators.quality import (
            CLS_LOGIT_BOUND_SQL,
        )

        out = (
            out.withColumn("toks", tokenize("text"))
            .filter(F.expr(CLS_LOGIT_BOUND_SQL) > 0)
            .drop("toks")
        )
    return (
        out.withColumn("content_hash", F.md5("text"))
        .dropDuplicates(["content_hash"])
        .select(
            "doc_id", "lang", "source", "n_chars", "quality_score",
            "content_hash",
        )
    )


def run_curate_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    classifier: bool = False,
) -> DataFrame:
    """Drain the documents source once through the curation stream
    into a lang-partitioned parquet dataset; returns the written
    dataset re-read as a batch frame.

    The sink is idempotent under batch replay: foreachBatch is
    at-least-once, so each epoch writes to its own ``epoch=N``
    directory with mode("overwrite") — a replayed epoch replaces its
    own output instead of appending duplicate rows, preserving the
    'one row per content_hash' contract end-to-end. (``epoch`` shows
    up as a partition column on re-read; callers that don't want it
    drop it.) Epoch overwrite only protects WITHIN a run — a fresh
    run (new checkpoint) restarts epoch numbering, so any stale epoch
    dirs from a previous run are cleared up front rather than silently
    unioned into the result."""
    _clear_epoch_dirs(out_dir)
    stream = curate_stream(
        read_documents_stream(spark, sf_dir), classifier=classifier
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        (
            batch.repartition("lang")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(os.path.join(out_dir, f"epoch={epoch}"))
        )

    drain(
        stream.writeStream.foreachBatch(_sink),
        checkpoint_dir,
        "curate_docs",
    )
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def _clear_epoch_dirs(out_dir: str) -> None:
    """Remove epoch=N partitions left by a PREVIOUS run. foreachBatch
    epoch numbering restarts with each new checkpoint, so a rerun's
    mode('overwrite') only replaces epochs it happens to reuse —
    leftovers would read back as live rows."""
    import shutil

    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.startswith("epoch="):
                shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)


def near_dup_candidate_stream(
    stream_docs: DataFrame, corpus_docs: DataFrame
) -> DataFrame:
    """Incremental NEAR-dup detection: LSH band buckets of the incoming
    document stream joined against a static LSH index of the existing
    corpus — the streaming twin of
    ``dedup.cross_source_dedup_candidates`` ("dedup the new crawl
    against what we already have").

    Entirely stateless: ``dedup.signature_frame`` is map-side array
    expressions (no aggregation), banding is an explode, and the
    stream-STATIC equi-join keeps no watermark state — each micro-batch
    probes the corpus index and moves on. At scale the static side is
    the bucketed signature table an ingest pipeline maintains; Spark
    broadcasts or shuffle-joins it by size as usual. Pairs are
    normalized (least, greatest) so a candidate reads identically
    whichever side streamed in.
    """
    from parquet_extractor_spark.operators.dedup import (
        _band_buckets,
        band_join,
        signature_frame,
    )

    return band_join(
        _band_buckets(signature_frame(stream_docs)),
        _band_buckets(signature_frame(corpus_docs)),
        F.col("a.doc_id") != F.col("b.doc_id"),
    ).select(
        F.least("a.doc_id", "b.doc_id").alias("doc_a"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
    )


def run_near_dup_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain the documents source once through the near-dup candidate
    stream (probing a static index of the same corpus) and return the
    DISTINCT candidate pairs as a batch frame. Per-epoch overwrite
    keeps the sink idempotent under foreachBatch replay, mirroring
    run_curate_stream; stale epochs from earlier runs are cleared
    first — leftover candidate pairs are indistinguishable from live
    ones on re-read."""
    from parquet_extractor_spark.sources.tables import load_table

    _clear_epoch_dirs(out_dir)
    stream = near_dup_candidate_stream(
        read_documents_stream(spark, sf_dir),
        load_table(spark, sf_dir, "documents"),
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        batch.distinct().write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch}")
        )

    drain(stream.writeStream.foreachBatch(_sink), checkpoint_dir, "near_dup")
    return (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .drop("epoch")
        .distinct()
    )


def bloom_decontamination_stream(
    stream_docs: DataFrame, bitset_words: list[int]
) -> DataFrame:
    """Streaming twin of ``contamination.bloom_decontamination``: the
    probe is a pure per-row projection against the bitset literal
    (zero joins, zero aggregation state), so it composes onto the
    stream with NO watermark and NO state store at all — the
    benchmark bitset is built once from the static benchmark slice
    (``contamination.build_bloom_bitset``) exactly as an ingest
    pipeline would load a decontamination artifact at job start.
    """
    from parquet_extractor_spark.operators.contamination import (
        BENCH_MOD,
        bloom_probe_columns,
    )

    return bloom_probe_columns(
        stream_docs.filter((F.col("doc_id") % BENCH_MOD) != 0), bitset_words
    )


def countmin_sketch_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch build: the same D×W cell aggregation
    as corpus_index.countmin_heavy_hitters, running as an UNWATERMARKED
    streaming aggregation — legitimate here precisely because the
    sketch bounds the state by construction (≤ CM_DEPTH × CM_WIDTH
    groups regardless of stream length), which is the whole point of
    sketching a stream. Complete-mode output; the drained snapshot
    equals the batch sketch exactly (equality-tested)."""
    from parquet_extractor_spark.functions.text import tokenize
    from parquet_extractor_spark.operators.corpus_index import (
        CM_DEPTH,
        MIN_TERM_LEN,
        _cm_pos,
    )

    toks = stream_docs.select(
        F.explode(tokenize("text")).alias("tok")
    ).filter(F.length("tok") >= MIN_TERM_LEN)
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cm_pos(F.col("tok"), d).alias("pos"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy("c.d", "c.pos").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def surprisal_stream(
    stream_docs: DataFrame, cb: list[int], cp: list[int]
) -> DataFrame:
    """Streaming twin of ``selection.lm_bigram_surprisal``: score a
    live document stream against a FROZEN reference LM — the count
    tables are loaded once at job start (``selection.lm_count_arrays``,
    the memoized artifact, standing in for "read the reference-model
    counts from the model store") and enter the plan as literals, so
    scoring is a pure per-row projection: no joins, no aggregation
    state, no watermark. This is the CCNet-style perplexity filter as
    an ingest-time stream stage; equality with the batch scorer is
    pinned by test_streaming."""
    from parquet_extractor_spark.operators.selection import (
        surprisal_probe_columns,
    )

    return surprisal_probe_columns(stream_docs, cb, cp)


# ── stateful streaming no-split packer (applyInPandasWithState) ──────


def _pack_nosplit_fn(key, pdf_iter, state):
    """Per-source packer state machine: GroupState carries (bin_id,
    fill) ACROSS micro-batches, so a bin left half-full by one batch
    keeps filling when the next batch's documents arrive — the
    behavior a continuously-packing ingest pipeline needs and a
    per-batch groupBy cannot express.

    Docs pack in doc_id order WITHIN each batch (chunks of the group
    are concatenated then sorted; group-per-batch volume is bounded by
    the trigger) and in arrival order across batches — the streaming
    semantic. The batch-equality test pins file arrival order to
    doc_id order, making stream ≡ batch exact.
    """
    import numpy as np
    import pandas as pd

    from parquet_extractor_spark.operators.training import (
        SEQ_BUDGET,
        nosplit_fold,
    )

    if state.exists:
        b, fill = state.get
    else:
        b, fill = 1, 0
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if not chunks:
        state.update((int(b), int(fill)))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "source": pd.Series([], dtype=object),
                "n_tokens_packed": pd.Series([], dtype="int64"),
                "bin_id": pd.Series([], dtype="int64"),
                "truncated": pd.Series([], dtype=bool),
            }
        )
        return
    pdf = pd.concat(chunks).sort_values("doc_id")
    raw = pdf["n_tokens"].to_numpy()
    ns = np.minimum(raw, SEQ_BUDGET)
    bins, b, fill = nosplit_fold(ns, bin_id=b, fill=fill)
    state.update((int(b), int(fill)))
    (source,) = key
    yield pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "source": np.full(len(ns), source, dtype=object),
            "n_tokens_packed": ns,
            "bin_id": bins,
            "truncated": raw > SEQ_BUDGET,
        }
    )


def pack_nosplit_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming twin of ``training.pack_sequences_nosplit``: the
    token count is the same stateless column expression as the batch
    path; the sequential no-split fold runs inside
    ``applyInPandasWithState`` with O(sources) state — two BIGINTs
    per source, partitioned by the grouping key like any shuffle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from parquet_extractor_spark.functions.text import tokenize

    toks = stream_docs.select(
        "doc_id",
        "source",
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
    )
    return toks.groupBy("source").applyInPandasWithState(
        _pack_nosplit_fn,
        outputStructType=(
            "doc_id bigint, source string, n_tokens_packed bigint, "
            "bin_id bigint, truncated boolean"
        ),
        stateStructType="bin_id bigint, fill bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_pack_nosplit_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents directory through the stateful packer.
    ``max_files_per_trigger=1`` forces one micro-batch per file (in
    file-modification-time order), exercising the cross-batch state
    carryover; the default drains everything in one batch."""
    reader = spark.readStream.schema(DOCS_SCHEMA).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = pack_nosplit_stream(reader.parquet(src_dir))
    name = "docs_pack_nosplit_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


# ── stateful streaming KMV sketch maintenance ────────────────────────


def _kmv_sketch_fn(key, pdf_iter, state):
    """Per-source bottom-K sketch state machine: GroupState holds the
    K smallest distinct bigram hashes seen so far. The KMV merge is
    closed under truncation — bottom-K(state ∪ batch) = bottom-K of
    everything seen, because any hash that belongs in the final
    sketch is smaller than the current kth minimum and therefore
    survives every intermediate truncation — so O(K) state per source
    yields the exact batch sketch after any drain order.
    """
    import pandas as pd

    from parquet_extractor_spark.operators.selection import KMV_K

    if state.exists:
        hashes, n_batches = state.get
        seen = set(hashes)
    else:
        seen, n_batches = set(), 0
    for pdf in pdf_iter:
        seen.update(int(h) for h in pdf["h"])
    sketch = sorted(seen)[:KMV_K]
    n_batches += 1
    state.update((sketch, n_batches))
    if len(sketch) >= KMV_K:
        # KMV cardinality estimator over the 60-bit hash space
        est = ((KMV_K - 1) * (1 << 60)) // sketch[KMV_K - 1]
    else:
        # fewer distinct values than K: the sketch IS the exact set
        est = len(sketch)
    (source,) = key
    yield pd.DataFrame(
        {
            "source": [source],
            "sketch": [sketch],
            "est_distinct": [int(est)],
            "n_batches": [n_batches],
        }
    )


def kmv_sketch_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming twin of the KMV sketch inside
    ``selection.source_vocab_kmv_jaccard``: maintain each source's
    bottom-K bigram-hash signature incrementally as crawl files land,
    instead of re-scanning the corpus — the way a production pipeline
    keeps cardinality/overlap sketches fresh. Hashing is the same
    stateless column chain as the batch path; state is K BIGINTs per
    source."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from parquet_extractor_spark.functions.text import (
        portable_hash64,
        tokenize,
        word_ngrams,
    )

    hashed = stream_docs.select(
        "source",
        F.explode(word_ngrams(tokenize("text"), 2)).alias("tok"),
    ).select("source", portable_hash64(F.col("tok")).alias("h"))
    return hashed.groupBy("source").applyInPandasWithState(
        _kmv_sketch_fn,
        outputStructType=(
            "source string, sketch array<bigint>, est_distinct bigint, "
            "n_batches bigint"
        ),
        stateStructType="hashes array<bigint>, n_batches bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_kmv_sketch_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents directory through the sketch maintainer;
    the FINAL row per source (max n_batches) carries the drained
    sketch, equal to the batch bottom-K regardless of how the files
    were batched."""
    reader = spark.readStream.schema(DOCS_SCHEMA).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = kmv_sketch_stream(reader.parquet(src_dir))
    name = "docs_kmv_sketch_stream"
    drain(
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update"),
        checkpoint_dir,
        name,
    )
    return spark.table(name)


# ── incremental novelty (streaming twin of ngram_novelty_profile) ────


def novelty_gram_hashes(docs: DataFrame) -> DataFrame:
    """Distinct 64-bit token-3-gram hashes of a document frame — the
    unit of novelty state. Hashing (xxhash64, engine-internal: this
    path has no SQL oracle, its contract is stream ≡ batch within one
    engine) bounds a seen-gram state row to 8 bytes regardless of gram
    text length; at 100 TB the state table is O(vocabulary) hashes,
    the same budget every shingle tier already pays."""
    from parquet_extractor_spark.functions.text import tokenize, word_ngrams
    from parquet_extractor_spark.operators.analyze import NOVELTY_N

    return (
        docs.select(
            F.explode(
                F.array_distinct(word_ngrams(tokenize("text"), NOVELTY_N))
            ).alias("gram")
        )
        .select(F.xxhash64("gram").alias("gram_hash"))
        .distinct()
    )


def run_novelty_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    state_table_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Incremental corpus-novelty tracking: the streaming form of
    ``analyze.ngram_novelty_profile`` at ingest-cycle granularity.
    Each micro-batch (one arriving corpus file by default) is reduced
    to its distinct gram hashes, anti-joined against the persistent
    seen-gram table to count NEW grams this cycle, and the novel
    hashes are appended to the state table as one epoch-tagged
    snapshot (sinks/versioned.py) — so an at-least-once foreachBatch
    replay is a detected no-op (the tag check runs BEFORE any
    recompute: replaying after the state advanced must not re-screen
    against newer state) and the state is time-travelable: "what was
    known before cycle K" is ``read_snapshot(version=K-1)``.

    Per epoch one report row (epoch, n_docs, batch_grams,
    novel_grams) lands under ``out_dir/epoch=N`` (idempotent
    overwrite). Returns the drained report frame.

    Scale shape: per cycle, one gram-keyed distinct over the BATCH
    (not the corpus) + one anti-join against the state table keyed by
    the 8-byte hash; the state table grows by exactly the novel
    grams, and cycle cost is proportional to the day's ingest, never
    the corpus — the same incremental argument as
    snapshot_contamination_gate.
    """
    from parquet_extractor_spark.sinks.versioned import (
        commit_snapshot,
        read_snapshot,
        snapshots,
    )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def _sink(batch: DataFrame, epoch: int) -> None:
        tag = f"epoch-{epoch}"
        if any(m.get("tag") == tag for m in snapshots(state_table_dir)):
            return  # replayed epoch: report + state already committed
        # one scope per epoch: its cached blocks go when it commits
        with query_scope(spark):
            grams = materialize(novelty_gram_hashes(batch))
            n_docs = batch.count()
            n_grams = grams.count()
            try:
                seen = read_snapshot(spark, state_table_dir)
                novel = grams.join(seen, "gram_hash", "left_anti")
            except FileNotFoundError:
                novel = grams
            novel = materialize(novel)
            n_novel = novel.count()
            report = local_frame(
                spark,
                [(n_docs, n_grams, n_novel)],
                "n_docs BIGINT, batch_grams BIGINT, novel_grams BIGINT",
            )
            # report first, tagged state commit last: a crash in between
            # replays the whole epoch (report overwrite is idempotent); a
            # commit implies the report already landed
            report.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={epoch}")
            )
            commit_snapshot(novel, state_table_dir, mode="append", tag=tag)

    drain(stream.writeStream.foreachBatch(_sink), checkpoint_dir, "novelty")
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def release_manifest_ledger_stream(
    stream_docs: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document release-LEDGER rows for arriving documents — the
    streaming half of ``pipelines.release_manifest``: every gate of
    the shipping manifest applied as documents land instead of in a
    nightly batch.

    Gate placement is the production split between stream and state:

    * STATELESS gates ride the stream map-side — the heuristic
      quality score and the classifier logit are pure column
      expressions (literal weights), exactly as ``curate_stream``
      composes them.
    * CORPUS-STATE gates are stream-STATIC joins against the shared
      batch tiers — the exact-dup keep set and the near-dup component
      canonicals (the "dedup index the nightly job maintains, the
      ingest stream consumes") — plus a left-anti against the
      decontamination hit list (broadcast benchmark grams). Stream-
      static semi/anti joins hold no watermark state: each micro-batch
      probes the static side and moves on.

    Output per surviving doc: (doc_id, source, n tokens, split) —
    the ledger the manifest aggregates; split is the same portable
    doc-hash rule the batch manifest uses, so the streamed ledger
    aggregates to EXACTLY the batch manifest (asserted by
    test_streaming's equivalence test).
    """
    from parquet_extractor_spark.functions.text import tokenize
    from parquet_extractor_spark.operators.contamination import (
        ngram_decontamination,
    )
    from parquet_extractor_spark.operators.dedup import (
        _components_tier,
        _exact_keep_tier,
    )
    from parquet_extractor_spark.operators.quality import (
        CLS_LOGIT_BOUND_SQL,
    )
    from parquet_extractor_spark.operators.training import _split_column

    c = quality_columns()
    gated = (
        stream_docs.withColumn(
            "quality_score", F.round(c["quality_score"], 2)
        )
        .filter(F.col("quality_score") >= MIN_QUALITY)
        .withColumn("toks", tokenize("text"))
        .filter(F.expr(CLS_LOGIT_BOUND_SQL) > 0)
        .select(
            "doc_id",
            "source",
            F.size("toks").cast("bigint").alias("n"),
        )
    )
    exact_keep = _exact_keep_tier(spark, sf_dir)
    canon_keep = (
        _components_tier(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("component"))
        .select("doc_id")
    )
    contaminated = ngram_decontamination(spark, sf_dir).select("doc_id")
    return (
        gated.join(exact_keep, "doc_id", "left_semi")
        .join(canon_keep, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "n", _split_column().alias("split"))
    )


def manifest_from_ledger(ledger: DataFrame) -> DataFrame:
    """Aggregate a (doc_id, source, n, split) ledger to the release
    manifest: (split, source) cells plus each cell's token share of
    its split. ``pipelines.release_manifest`` and the stream runner
    both end here, so the equivalence test compares one definition.
    A row whose ``n`` is NULL is a doc the gates dropped and counts
    toward no cell — the batch manifest passes its whole flag frame
    that way instead of filtering it, because a filter would be
    pushed below the gate projection and re-tokenize every doc.
    The cells (≤ |splits|×|sources| rows at any corpus size) are
    coalesced to one partition, so the split-total window and the
    final sort run on it with no further exchange and the cells are
    computed once."""
    cells = (
        ledger.groupBy("split", "source")
        .agg(
            F.count("n").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_docs") > 0)
        .coalesce(1)
    )
    split_tokens = F.sum("n_tokens").over(Window.partitionBy("split"))
    return cells.select(
        "split",
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.col("n_tokens") * F.lit(1_000_000) / split_tokens)
        .cast("bigint")
        .alias("split_token_share_micro"),
    ).orderBy("split", "source")


def run_release_manifest_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain the documents source once through the release-ledger
    stream into per-epoch parquet directories (the
    idempotent at-least-once sink every streaming module here uses:
    a replayed epoch overwrites its own output), then aggregate the
    landed ledger to the manifest. Returns the manifest frame."""
    _clear_epoch_dirs(out_dir)
    ledger = release_manifest_ledger_stream(
        read_documents_stream(spark, sf_dir), spark, sf_dir
    )

    drain(
        ledger.writeStream.foreachBatch(epoch_sink(out_dir)),
        checkpoint_dir,
        "release_manifest",
    )
    landed = spark.read.option("basePath", out_dir).parquet(out_dir)
    return manifest_from_ledger(
        landed.select("doc_id", "source", "n", "split")
    )
