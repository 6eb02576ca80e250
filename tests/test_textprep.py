from pyspark.sql import functions as F

from parquet_extractor_spark.functions.text import tokenize
from parquet_extractor_spark.operators.textprep import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    STRATIFIED_N,
    TFIDF_TOP_K,
    doc_chunks,
    stratified_sample_by_lang,
    tfidf_top_terms,
)
from parquet_extractor_spark.sources.tables import load_table


def test_doc_chunks_cover_every_token(spark, sf_small):
    """Every token of every document appears in some chunk, chunk
    windows advance by the stride, and no chunk exceeds the cap."""
    chunks = doc_chunks(spark, sf_small)
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.max("n_chunk_tokens").alias("max_len"),
            F.sum("n_chunk_tokens").alias("sum_len"),
        )
        .collect()
    )
    tok_counts = {
        r.doc_id: r.n
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id", F.size(tokenize("text")).alias("n"))
        .collect()
    }
    assert {r.doc_id for r in per_doc} == set(tok_counts)
    for r in per_doc:
        n = tok_counts[r.doc_id]
        assert r.max_len <= CHUNK_TOKENS
        # stride covers the tail: chunks overlap, so summed lengths =
        # n + (n_chunks-1) * overlap
        overlap = CHUNK_TOKENS - CHUNK_STRIDE
        assert r.sum_len == n + (r.n_chunks - 1) * overlap


def test_tfidf_top_terms_shape(spark, sf_small):
    rows = tfidf_top_terms(spark, sf_small).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in by_doc.items():
        assert len(rs) <= TFIDF_TOP_K
        scores = [r.tfidf for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_stratified_sample_exact_n_per_lang(spark, sf_small):
    rows = stratified_sample_by_lang(spark, sf_small).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    for lang, ids in by_lang.items():
        assert len(ids) == STRATIFIED_N
    # deterministic: same picks on a second run
    again = {
        (r.lang, r.pick): r.doc_id
        for r in stratified_sample_by_lang(spark, sf_small).collect()
    }
    first = {(r.lang, r.pick): r.doc_id for r in rows}
    assert first == again


def test_bpe_merge_candidates_counts_are_exact(spark, sf_small):
    """Recompute the pair counts in pure Python from the same
    tokenizer output — the distributed distinct-word trick must not
    change the answer."""
    from collections import Counter

    from parquet_extractor_spark.functions.text import tokenize
    from parquet_extractor_spark.operators.textprep import (
        BPE_MERGE_TOP,
        bpe_merge_candidates,
    )
    from parquet_extractor_spark.sources.tables import load_table

    rows = bpe_merge_candidates(spark, sf_small).collect()
    assert 0 < len(rows) <= BPE_MERGE_TOP

    toks = (
        load_table(spark, sf_small, "documents")
        .select(tokenize("text").alias("ts"))
        .collect()
    )
    want = Counter()
    for r in toks:
        for w in r.ts:
            for i in range(len(w) - 1):
                want[(w[i], w[i + 1])] += 1
    got = {(r.left_sym, r.right_sym): r.pair_count for r in rows}
    for pair, n in got.items():
        assert want[pair] == n, pair
    # the returned rows are the true top by count (ties by pair)
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == dict(ranked[: len(got)])


def test_bpe_merge_candidates_partial_agg(spark, sf_small):
    from parquet_extractor_spark.operators.textprep import bpe_merge_candidates
    from parquet_extractor_spark.plans.explain import has_partial_aggregation

    assert has_partial_aggregation(bpe_merge_candidates(spark, sf_small))


def test_chunk_dedup_finds_cross_doc_boilerplate(spark, tmp_path):
    """Two documents sharing an identical chunk-sized block must
    collide at chunk granularity even though their full texts differ
    (the case document-level exact dedup misses)."""
    from parquet_extractor_spark.operators.textprep import (
        CHUNK_TOKENS,
        chunk_dedup,
    )

    d = tmp_path / "chunkfix"
    block = " ".join(f"tok{i}" for i in range(CHUNK_TOKENS))
    docs = [
        (0, block + " unique tail zero", "en", "s", 0),
        (1, block + " other ending one", "en", "s", 0),
        (2, "entirely different text body here", "en", "s", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = chunk_dedup(spark, str(d)).collect()
    assert len(rows) == 1  # the shared leading chunk
    r = rows[0]
    assert r.n_copies == 2
    assert (r.keep_doc_id, r.keep_chunk_id) == (0, 0)


def test_chunk_dedup_partial_agg(spark, sf_small):
    """min(struct) plans as SortAggregate (struct keys aren't
    hash-aggregable); the partial+final shape is what matters: two
    aggregate operators around the exchange."""
    import re

    from parquet_extractor_spark.operators.textprep import chunk_dedup
    from parquet_extractor_spark.plans.explain import formatted_plan

    plan = formatted_plan(chunk_dedup(spark, sf_small))
    n_aggs = len(
        re.findall(r"(HashAggregate|SortAggregate|ObjectHashAggregate)", plan)
    )
    assert n_aggs >= 2


def test_nfc_normalization_on_decomposed_corpus(spark, tmp_path):
    """Non-ASCII path (the fixture is pure ASCII): decomposed accents
    (e + U+0301) must normalize to the composed form, hash-match a
    local unicodedata recompute, and flag changed=True; composed and
    ASCII docs pass through unchanged."""
    import hashlib
    import unicodedata

    from parquet_extractor_spark.operators.textprep import (
        nfc_normalized_hashes,
    )

    docs = [
        (0, "café au lait"),     # decomposed é -> changes
        (1, "café au lait"),      # already composed -> unchanged
        (2, "plain ascii text"),       # unchanged
        (3, "å ring ö"),   # å and ö decomposed -> changes
    ]
    d = tmp_path / "nfcfix"
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    got = {r.doc_id: r for r in nfc_normalized_hashes(spark, str(d)).collect()}
    for i, t in docs:
        norm = unicodedata.normalize("NFC", t)
        assert got[i].nfc_md5 == hashlib.md5(norm.encode()).hexdigest(), i
        assert got[i].changed == (norm != t), i
        assert got[i].n_chars_nfc == len(norm), i
    assert got[0].changed and got[3].changed
    assert not got[1].changed and not got[2].changed
    # the canonicalization point: decomposed and composed é now share
    # one hash
    assert got[0].nfc_md5 == got[1].nfc_md5


# ── bpe_train_merges (multi-round BPE trainer) ──────────────────────


def _greedy_merge(syms, left, right):
    """Reference greedy left-to-right BPE merge scan (Sennrich et al.
    2016's apply step) — what the engine's single boundary-space
    replace() pass must reproduce exactly."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_boundary_space_replace_equals_greedy_merge():
    """Property: one str.replace pass over the double-space-joined
    sequence with single-space pattern boundaries == the textbook
    greedy merge, for every random case — including same-symbol runs,
    where naive single-space replace-to-fixpoint diverges (it skips
    the occurrence sharing a boundary space and produces a DIFFERENT
    segmentation, e.g. [aa,a,aa] for aaaaa instead of [aa,aa,a])."""
    import random

    rng = random.Random(7)
    alpha = ["a", "b", "c", "aa", "ab", "ba", "aaa"]
    for _ in range(5000):
        syms = [rng.choice(alpha) for _ in range(rng.randint(0, 14))]
        left, right = rng.choice(alpha), rng.choice(alpha)
        s = "  " + "  ".join(syms) + "  "
        s = s.replace(f" {left}  {right} ", f" {left}{right} ")
        body = s.strip()
        got = body.split("  ") if body else []
        assert got == _greedy_merge(syms, left, right), (syms, left, right)
    # the specific runs documented above
    for m in (3, 5, 10):
        syms = ["a"] * m
        s = "  " + "  ".join(syms) + "  "
        s = s.replace(" a  a ", " aa ")
        assert s.strip().split("  ") == _greedy_merge(syms, "a", "a")


def test_bpe_train_merges_structure_and_progression(spark, sf_small):
    from parquet_extractor_spark.operators.textprep import (
        BPE_TRAIN_ROUNDS,
        bpe_train_merges,
    )

    rows = bpe_train_merges(spark, sf_small).collect()
    assert [r.merge_rank for r in rows] == list(range(1, BPE_TRAIN_ROUNDS + 1))
    seen = set()
    for r in rows:
        assert r.left_sym and r.right_sym and r.pair_count > 0
        # every symbol is either a single character or a previously
        # learned merge — the defining invariant of a BPE vocabulary
        for sym in (r.left_sym, r.right_sym):
            assert len(sym) == 1 or sym in seen, sym
        assert (r.left_sym, r.right_sym) not in seen
        seen.add(r.left_sym + r.right_sym)
    # training actually progressed: some later round merges a
    # multi-character symbol learned earlier
    assert any(
        len(r.left_sym) > 1 or len(r.right_sym) > 1 for r in rows
    ), "no learned merge was ever reused — rounds are not feeding forward"


def test_bpe_train_merges_matches_oracle(spark, sf_small, duck):
    from parquet_extractor_spark.operators.textprep import (
        BPE_TRAIN_MERGES_SQL,
        bpe_train_merges,
    )

    got = [tuple(r) for r in bpe_train_merges(spark, sf_small).collect()]
    want = [tuple(r) for r in duck.execute(BPE_TRAIN_MERGES_SQL).fetchall()]
    assert got == want


# ── bpe_encode_corpus (train-then-encode, per-language fertility) ───

def test_bpe_encode_corpus_equals_python_reference(spark, tmp_path):
    """End-to-end exact check on a handcrafted corpus: train with
    _run_bpe_training, re-apply the merges per word with the textbook
    greedy scan in Python, and demand identical per-language token
    sums from the distributed encode."""
    import re

    from parquet_extractor_spark.operators.textprep import (
        _run_bpe_training,
        bpe_encode_corpus,
    )

    docs = [
        (0, "the cat sat on the mat", "en"),
        (1, "the thin thing thought, then sang!", "en"),
        (2, "aaaaa aaa aa a", "en"),          # same-symbol runs
        (3, "le chat  --  le chien", "fr"),
        (4, "", "fr"),                        # empty doc -> 0 tokens
        (5, "!!! ???", "fr"),                 # punctuation-only -> 0
        (6, "singleton", "zh"),
    ]
    d = tmp_path / "bpefix"
    spark.createDataFrame(
        [(i, t, g, "s", len(t)) for i, t, g in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )

    merges = _run_bpe_training(spark, str(d))
    assert merges, "trainer found no merges on the fixture"

    def encode_word(w: str) -> list[str]:
        syms = list(w)
        for _rank, left, right, _cnt in merges:
            syms = _greedy_merge(syms, left, right)
        return syms

    expect: dict[str, list[int]] = {}
    for _i, text, lang in docs:
        words = [
            t
            for t in re.sub(r"[^\w\s]", " ", text.lower()).split()
            if t
        ]
        st = expect.setdefault(lang, [0, 0, 0])
        st[0] += 1
        st[1] += len(words)
        st[2] += sum(len(encode_word(w)) for w in words)

    got = {
        r.lang: [r.docs, r.word_tokens, r.bpe_tokens]
        for r in bpe_encode_corpus(spark, str(d)).collect()
    }
    assert got == expect


def test_bpe_encode_corpus_invariants(spark, sf_small):
    """On the real fixture: per-language sums are bounded by the
    char-token count above and the word count below, the merges
    actually compressed something, and doc counts reconcile."""
    from parquet_extractor_spark.functions.text import tokenize
    from parquet_extractor_spark.operators.textprep import (
        bpe_encode_corpus,
    )
    from parquet_extractor_spark.sources.tables import load_table

    rows = bpe_encode_corpus(spark, sf_small).collect()
    assert [r.lang for r in rows] == sorted(r.lang for r in rows)

    docs = load_table(spark, sf_small, "documents")
    base = {
        r.lang: (r.docs, r.chars)
        for r in docs.select(
            "lang", F.explode(tokenize("text")).alias("w")
        )
        .groupBy("lang")
        .agg(F.sum(F.length("w")).alias("chars"))
        .join(
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("docs")),
            "lang",
        )
        .collect()
    }
    for r in rows:
        n_docs, char_tokens = base[r.lang]
        assert r.docs == n_docs
        # every word is at least one symbol, at most one per char
        assert r.word_tokens <= r.bpe_tokens <= char_tokens
    # 8 merges must compress SOMETHING across the corpus
    assert sum(r.bpe_tokens for r in rows) < sum(
        base[r.lang][1] for r in rows
    )


def test_corpus_novelty_curve_monotone_sanity(spark, sf_small):
    """The curve's accounting invariants: deciles partition the
    bigram-bearing docs, novel counts never exceed totals, the FIRST
    decile has the highest novelty (nothing precedes it, so every
    first occurrence lands there), and the total novel count equals
    the corpus's distinct-bigram vocabulary (each distinct bigram is
    novel exactly once)."""
    from pyspark.sql import functions as F

    from parquet_extractor_spark.functions.text import tokenize
    from parquet_extractor_spark.operators.analyze import (
        corpus_novelty_curve,
    )
    from parquet_extractor_spark.sources.tables import load_table

    rows = corpus_novelty_curve(spark, sf_small).collect()
    assert rows and all(0 <= r.decile <= 9 for r in rows)
    for r in rows:
        assert 0 <= r.n_novel <= r.n_bigrams
        assert r.novelty_micro == (r.n_novel * 1_000_000) // r.n_bigrams
    by_decile = {r.decile: r for r in rows}
    assert by_decile[0].novelty_micro == max(r.novelty_micro for r in rows)
    # total novel == |distinct bigram vocabulary|
    docs = load_table(spark, sf_small, "documents")
    vocab = (
        docs.select(tokenize("text").alias("ts"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size("ts")),
                    lambda i: F.concat_ws(
                        " ", F.element_at("ts", i - 1), F.element_at("ts", i)
                    ),
                )
            ).alias("g")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == vocab


def test_tokenizer_fertility_invariants(spark, sf_small):
    """Fertility >= 1e6 (BPE splits words into >= 1 token each, and a
    merge can never cross the four-space word boundary), bytes per
    token is positive, and compression == fertility x bytes/token in
    exact integer micro arithmetic up to div truncation."""
    from parquet_extractor_spark.operators.textprep import (
        tokenizer_fertility_by_lang,
    )

    rows = tokenizer_fertility_by_lang(spark, sf_small).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.word_tokens > 0 and r.bpe_tokens >= r.word_tokens
        assert r.fertility_micro >= 1_000_000
        assert 0 < r.bytes_per_token_micro <= r.compression_micro
        # cross-check the micro math against exact Python ints
        assert r.fertility_micro == r.bpe_tokens * 1_000_000 // r.word_tokens
        assert (
            r.compression_micro
            == r.utf8_bytes * 1_000_000 // r.word_tokens
        )


def test_tfidf_and_pmi_build_submits_no_spark_job(spark, sf_small, jobs_in_group):
    """The corpus size N is an in-plan scalar subquery, so building
    either query only composes a plan."""
    from parquet_extractor_spark.operators.corpus_index import pmi_top_pairs

    for fn in (tfidf_top_terms, pmi_top_pairs):
        fn(spark, sf_small).collect()  # warm schema reads
        assert jobs_in_group(
            lambda: fn(spark, sf_small), f"build-{fn.__name__}"
        ) == []


def test_tfidf_top_terms_is_one_term_shuffle(spark, sf_small, jobs_in_group):
    """tf and df come out of one term-partitioned shuffle: no cached
    block, at most 8 Spark jobs on a warm store (12 with the cached
    tf + df join), and the rows still match the DuckDB oracle."""
    import os
    import sys

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    from check_oracle import run_gate

    tfidf_top_terms(spark, sf_small).collect()  # warm schema reads
    df = tfidf_top_terms(spark, sf_small)
    jobs = jobs_in_group(df.collect, "tfidf-one-shuffle")
    assert 0 < len(jobs) <= 8
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan
    assert "InMemoryTableScan" not in plan
    assert not run_gate(only=("tfidf_top_terms",), sf_dir=sf_small, spark=spark)
