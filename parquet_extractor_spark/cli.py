"""Command-line interface — parity with the reference's main.py CLI
(main.py:195-239): ``parquet`` and ``cisi`` subcommands plus the
``analyze`` query surface, each building a lazy plan and running one
Spark action.

    python -m parquet_extractor_spark parquet FILE [-o DIR] [-n N] [--seed S]
    python -m parquet_extractor_spark cisi FILE [-o DIR]
    python -m parquet_extractor_spark analyze DIR
"""

from __future__ import annotations

import argparse
import json
import sys

from parquet_extractor_spark.constants import DEFAULT_NUM_PAPERS, DEFAULT_SEED


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="parquet_extractor_spark")
    sub = p.add_subparsers(dest="command", required=True)

    pq = sub.add_parser("parquet", help="extract papers parquet → markdown")
    pq.add_argument("file")
    pq.add_argument("-o", "--output_dir", default="papers_output")
    # defaults mirror main.py:205 (1000 papers, seed 42)
    pq.add_argument("-n", "--num_papers", type=int, default=DEFAULT_NUM_PAPERS)
    pq.add_argument("--seed", type=int, default=DEFAULT_SEED)

    ci = sub.add_parser("cisi", help="extract CISI.ALL → markdown")
    ci.add_argument("file")
    ci.add_argument("-o", "--output_dir", default="cisi_output")

    an = sub.add_parser("analyze", help="corpus token statistics")
    an.add_argument("sf_dir", help="fixture dir containing documents.parquet")
    # optional doc cap, mirroring api.py:539-541
    an.add_argument("--limit", type=int, default=None)

    pr = sub.add_parser(
        "profile",
        help="Deequ-style per-column quality profile of one table "
        "(completeness, distinctness, typed min/max, length stats) "
        "in a single scan",
    )
    pr.add_argument("sf_dir", help="fixture dir containing the parquet tables")
    pr.add_argument("--table", default="events",
                    help="table name (default events)")
    pr.add_argument("--approx", action="store_true",
                    help="HLL distinct counts (the corpus-scale mode)")

    tb = sub.add_parser(
        "table",
        help="operate on a snapshot-versioned table (sinks/versioned.py)",
    )
    tb.add_argument(
        "action", choices=["log", "read", "compact", "expire"],
        help="log: print the snapshot manifests; read: print rows "
        "(latest or --version K); compact: rewrite the latest "
        "snapshot into fewer files as a new snapshot; expire: drop "
        "all but --keep-last snapshots and GC unreferenced files",
    )
    tb.add_argument("table_dir", help="versioned table directory")
    tb.add_argument("--version", type=int, default=None,
                    help="snapshot id for read (default latest)")
    tb.add_argument("--keep-last", type=int, default=1,
                    help="snapshots to keep on expire (default 1)")
    tb.add_argument("--limit", type=int, default=20,
                    help="max rows printed by read (default 20)")

    cu = sub.add_parser(
        "curate", help="quality → dedup → chunk → partitioned parquet"
    )
    cu.add_argument("sf_dir", help="fixture dir containing documents.parquet")
    cu.add_argument("-o", "--output_dir", required=True)
    cu.add_argument("--min-quality", type=float, default=0.3)
    cu.add_argument(
        "--semantic",
        action="store_true",
        help="append the SemDeDup embedding-space dedup stage after "
        "the lexical tiers",
    )
    cu.add_argument(
        "--classifier",
        action="store_true",
        help="insert the model-based quality gate "
        "(quality_classifier_scores keep flag) alongside the "
        "heuristic gate",
    )
    cu.add_argument(
        "--training-set",
        action="store_true",
        help="extend the chain with train/val/test split + sequence "
        "packing; output partitioned by (split, lang)",
    )

    se = sub.add_parser(
        "select", help="data-selection scores over the documents table"
    )
    se.add_argument(
        "method", choices=["dsir", "bm25", "spans", "gopher", "winnow"],
        help="dsir: importance weights vs the English slice; "
        "bm25: lexical top-k; spans: repeated token windows; "
        "gopher: rule-based quality flags; winnow: MOSS fingerprints",
    )
    se.add_argument("sf_dir", help="fixture dir containing documents.parquet")
    se.add_argument("--limit", type=int, default=20,
                    help="max rows printed (default 20)")

    dd = sub.add_parser(
        "dedup", help="duplicate detection over documents/embeddings"
    )
    dd.add_argument(
        "method",
        choices=["exact", "lsh", "semantic", "image", "audio", "animation"],
        help="exact: content-hash groups; lsh: MinHash band candidate "
        "pairs; semantic: SemDeDup keep/drop verdicts over embeddings; "
        "image/audio/animation: banded perceptual-hash near-dup pairs "
        "over the media fixtures (pHash / energy contour / frame "
        "hashes)",
    )
    dd.add_argument("sf_dir", help="fixture dir containing the parquet tables")
    dd.add_argument("--limit", type=int, default=20,
                    help="max rows printed (default 20)")

    ex = sub.add_parser(
        "export", help="export a table as JSONL (trainer boundary)"
    )
    ex.add_argument("sf_dir", help="fixture dir containing the parquet tables")
    ex.add_argument("-o", "--output_dir", required=True)
    ex.add_argument("--table", default="documents",
                    help="table to export (default documents)")
    ex.add_argument("--partition-by", default="lang",
                    help="partition column (default lang; '' for none — "
                    "required for tables without a lang column)")

    sq = sub.add_parser(
        "sql", help="run ad-hoc Spark SQL over the registered tables"
    )
    sq.add_argument("query", help="ANSI SQL; tables: region nation customer "
                    "supplier part orders lineitem events documents embeddings")
    sq.add_argument("sf_dir", help="fixture dir containing the parquet tables")
    sq.add_argument("--limit", type=int, default=100,
                    help="max rows printed (plan-level LIMIT, default 100)")

    sr = sub.add_parser(
        "search", help="retrieval over the documents/embeddings tables"
    )
    sr.add_argument(
        "method", choices=["phrase", "bm25", "hybrid"],
        help="phrase: positional exact-phrase match; bm25: lexical "
        "top-k for the default term set; hybrid: BM25 + cosine "
        "reciprocal rank fusion",
    )
    sr.add_argument("sf_dir", help="fixture dir containing the parquet tables")
    sr.add_argument("--phrase", default=None,
                    help="space-separated phrase (phrase method only; "
                    "default 'table value')")
    sr.add_argument("--limit", type=int, default=20,
                    help="max rows printed (default 20)")

    xp = sub.add_parser(
        "explain", help="formatted physical plan of a registered query"
    )
    xp.add_argument("name", help="queries() registry name")
    xp.add_argument("sf_dir", help="fixture dir containing the parquet tables")

    dc = sub.add_parser(
        "datacard", help="corpus datasheet JSON (volume, mix, quality, "
        "dedup reduction, drift)"
    )
    dc.add_argument("sf_dir", help="fixture dir containing the parquet tables")

    pi = sub.add_parser(
        "pdfingest",
        help="extract text from a directory of PDFs (binaryFile scan "
        "+ Arrow-batched extraction; malformed files keep their row "
        "with an error column)",
    )
    pi.add_argument("directory", help="directory containing *.pdf files")
    pi.add_argument("-o", "--output_dir", default=None,
                    help="write the extracted rows as parquet instead "
                    "of printing them")
    pi.add_argument("--limit", type=int, default=20,
                    help="max rows printed without -o (default 20)")

    wi = sub.add_parser(
        "warcingest",
        help="parse a directory of WARC web archives (.warc/.warc.gz, "
        "Common Crawl layout; binaryFile scan + Arrow-batched record "
        "parsing; corrupt containers keep a row with an error column)",
    )
    wi.add_argument("directory", help="directory containing *.warc* files")
    wi.add_argument("-o", "--output_dir", default=None,
                    help="write the parsed records as parquet instead "
                    "of printing them")
    wi.add_argument("--limit", type=int, default=20,
                    help="max rows printed without -o (default 20)")

    tc = sub.add_parser(
        "train-classifier",
        help="train the quality classifier (integer-exact logistic GD) "
        "and print the per-epoch loss/weight curve",
    )
    tc.add_argument("sf_dir", help="fixture dir containing the parquet tables")
    tc.add_argument(
        "--score", action="store_true",
        help="also print per-doc scores under the final weights "
        "(first --limit rows)",
    )
    tc.add_argument("--limit", type=int, default=20)
    return p


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # legacy positional fallback (main.py:236-237): a bare FILE argument
    # is treated as `parquet FILE`
    known = {
        "parquet", "cisi", "analyze", "profile", "table", "curate",
        "sql", "select",
        "dedup", "export", "search", "explain", "datacard",
        "train-classifier", "pdfingest", "warcingest",
    }
    if argv and argv[0] not in known and not argv[0].startswith("-"):
        argv = ["parquet", *argv]
    args = build_parser().parse_args(argv)

    from parquet_extractor_spark.session import get_spark, query_scope

    spark = get_spark(f"cli-{args.command}")
    with query_scope(spark):
        return _run(args, spark)


def _run(args: argparse.Namespace, spark) -> int:
    if args.command == "parquet":
        from parquet_extractor_spark.operators.extract import extract_any_parquet
        from parquet_extractor_spark.sinks.markdown import write_files

        plan = extract_any_parquet(
            spark, args.file, n=args.num_papers, seed=args.seed
        )
        result = write_files(plan, args.output_dir)
        print(json.dumps({"output_dir": args.output_dir, **result}))
        return 0 if result["failed"] == 0 else 1

    if args.command == "cisi":
        from parquet_extractor_spark.sinks.markdown import write_files
        from parquet_extractor_spark.sources.cisi import (
            cisi_to_markdown,
            read_cisi,
        )

        plan = cisi_to_markdown(read_cisi(spark, args.file))
        result = write_files(plan, args.output_dir)
        print(json.dumps({"output_dir": args.output_dir, **result}))
        return 0 if result["failed"] == 0 else 1

    if args.command == "analyze":
        from parquet_extractor_spark.operators.analyze import corpus_stats

        row = corpus_stats(spark, args.sf_dir, limit=args.limit).first()
        print(json.dumps(row.asDict()))
        return 0

    if args.command == "profile":
        from parquet_extractor_spark.operators.profiling import (
            column_profile,
        )
        from parquet_extractor_spark.sources.tables import load_table

        table = load_table(spark, args.sf_dir, args.table)
        for row in column_profile(table, exact=not args.approx).collect():
            print(json.dumps(row.asDict()))
        return 0

    if args.command == "select":
        from parquet_extractor_spark.operators import selection

        from parquet_extractor_spark.operators import quality

        fn = {
            "dsir": selection.dsir_importance_weights,
            "bm25": selection.bm25_doc_scores,
            "spans": selection.duplicate_spans,
            "gopher": quality.gopher_quality_flags,
            "winnow": quality.winnowing_fingerprints,
        }[args.method]
        for row in fn(spark, args.sf_dir).limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.command == "dedup":
        from parquet_extractor_spark.operators import (
            dedup,
            multimodal,
            similarity,
        )

        fn = {
            "exact": dedup.exact_dedup,
            "lsh": dedup.minhash_lsh_candidates,
            "semantic": similarity.semdedup_keep,
            "image": multimodal.media_phash_near_dups,
            "audio": multimodal.media_audio_near_dups,
            "animation": multimodal.media_animation_near_dups,
        }[args.method]
        for row in fn(spark, args.sf_dir).limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.command == "export":
        from parquet_extractor_spark.session import materialize
        from parquet_extractor_spark.sinks.dataset import write_jsonl
        from parquet_extractor_spark.sources.tables import load_table

        try:
            docs = load_table(spark, args.sf_dir, args.table)
        except (KeyError, ValueError) as exc:
            print(json.dumps({"error": f"unknown table {args.table!r}: {exc}"}))
            return 1
        if args.partition_by and args.partition_by not in docs.columns:
            print(json.dumps({
                "error": f"table {args.table!r} has no column "
                         f"{args.partition_by!r}; pass --partition-by ''"
            }))
            return 1
        docs = materialize(docs)
        part = [args.partition_by] if args.partition_by else None
        write_jsonl(docs, args.output_dir, partition_by=part)
        n = docs.count()  # served from the cache, not a re-scan
        print(json.dumps({
            "output_dir": args.output_dir,
            "rows": n,
        }))
        return 0

    if args.command in ("pdfingest", "warcingest"):
        from parquet_extractor_spark.sinks.dataset import write_ingested
        from parquet_extractor_spark.sources.pdf import read_pdf_docs
        from parquet_extractor_spark.sources.warc import read_warc_docs

        pdf = args.command == "pdfingest"
        rows = (read_pdf_docs if pdf else read_warc_docs)(
            spark, args.directory
        )
        if args.output_dir:
            m = write_ingested(
                rows, args.output_dir, "file_name" if pdf else "path"
            )
            counts = (
                {"extracted": m["ok"]}
                if pdf
                else {"records": m["ok"], "documents": m["with_text"]}
            )
            print(json.dumps(
                {"output_dir": args.output_dir, **counts,
                 "errors": m["errors"]}
            ))
            return 0
        for row in rows.limit(args.limit).collect():
            d = row.asDict()
            if d.get("text"):
                d["text"] = d["text"][:160]
            print(json.dumps(d, default=str))
        return 0

    if args.command == "table":
        from parquet_extractor_spark.sinks import versioned

        if args.action == "log":
            for m in versioned.snapshots(args.table_dir):
                print(json.dumps({k: v for k, v in m.items()
                                  if k != "files"} | {
                    "n_files": m["n_files"]}))
            return 0
        if args.action == "read":
            df = versioned.read_snapshot(
                spark, args.table_dir, version=args.version
            )
            for row in df.limit(args.limit).collect():
                print(json.dumps(row.asDict(), default=str))
            return 0
        if args.action == "compact":
            v = versioned.compact_snapshot(spark, args.table_dir)
            print(json.dumps({"committed_snapshot": v}))
            return 0
        print(json.dumps(
            versioned.expire_snapshots(
                args.table_dir, keep_last=args.keep_last
            )
        ))
        return 0

    if args.command == "train-classifier":
        from parquet_extractor_spark.operators import classifier

        for row in classifier.train_quality_classifier(
            spark, args.sf_dir
        ).collect():
            print(json.dumps(row.asDict()))
        if args.score:
            scored = classifier.trained_classifier_scores(spark, args.sf_dir)
            for row in scored.limit(args.limit).collect():
                print(json.dumps(row.asDict()))
        return 0

    if args.command == "sql":
        from parquet_extractor_spark.sources.tables import register_views

        register_views(spark, args.sf_dir)
        # the limit lands in the plan (TakeOrderedAndProject /
        # CollectLimit), not in a driver-side slice of a full collect
        rows = spark.sql(args.query).limit(args.limit).collect()
        for row in rows:
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.command == "search":
        import re

        from parquet_extractor_spark.operators import corpus_index, selection

        if args.method == "phrase":
            # normalize with the index's own tokenizer rule (lowercase,
            # punctuation → space) so "Table Value" finds "table value"
            phrase = (
                tuple(
                    re.sub(r"[^\w\s]", " ", args.phrase.lower()).split()
                )
                if args.phrase
                else corpus_index.PHRASE
            )
            try:
                df = corpus_index.phrase_search(spark, args.sf_dir, phrase)
            except ValueError as exc:
                print(json.dumps({"error": str(exc)}))
                return 1
        elif args.method == "bm25":
            df = selection.bm25_doc_scores(spark, args.sf_dir)
        else:
            df = selection.hybrid_search_rrf(spark, args.sf_dir)
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.command == "explain":
        import __spark_entry__ as entrymod

        from parquet_extractor_spark.plans.explain import formatted_plan

        registry = entrymod.queries()
        if args.name not in registry:
            print(json.dumps({"error": f"unknown query {args.name!r}"}))
            return 1
        print(formatted_plan(registry[args.name](spark, args.sf_dir)))
        return 0

    if args.command == "datacard":
        from parquet_extractor_spark.pipelines import datacard

        print(json.dumps(datacard(spark, args.sf_dir), default=str))
        return 0

    if args.command == "curate":
        from parquet_extractor_spark.pipelines import (
            curate,
            curate_to_training_set,
        )

        fn = curate_to_training_set if args.training_set else curate
        result = fn(
            spark,
            args.sf_dir,
            out_dir=args.output_dir,
            min_quality=args.min_quality,
            semantic=args.semantic,
            classifier=args.classifier,
        )
        n = result.count()
        print(json.dumps({"output_dir": args.output_dir, "chunks": n}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
