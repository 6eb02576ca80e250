import json
import os

import pytest

from parquet_extractor_spark.cli import main as cli_main
from parquet_extractor_spark.operators.extract import extract_any_parquet


@pytest.fixture(scope="module")
def papers_parquet(spark, tmp_path_factory):
    """An 'unknown schema' papers file: content under a non-candidate
    name resolvable only via the long-string heuristic, plus a title
    candidate and metadata."""
    d = tmp_path_factory.mktemp("papers")
    p = str(d / "papers.parquet")
    rows = [
        (i, f"Paper {i}", "long body text " * 20 + f"#{i}", 1900 + i)
        for i in range(25)
    ]
    spark.createDataFrame(
        rows, "idx long, title string, full_text string, year long"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    return p


def test_extract_any_parquet_resolves_and_samples(spark, papers_parquet):
    plan = extract_any_parquet(spark, papers_parquet, n=10)
    rows = plan.collect()
    assert len(rows) == 10
    # title column was found -> filenames use sanitized titles
    assert all("Paper" in r.filename for r in rows)
    body = rows[0].body
    assert body.startswith("---\n")
    assert "year: " in body  # metadata columns made it to frontmatter
    assert "full_text" not in body.split("\n\n")[0]  # content not in fm


def test_cli_parquet_extract(spark, papers_parquet, tmp_path, capsys):
    out = str(tmp_path / "cli_out")
    rc = cli_main(
        ["parquet", papers_parquet, "-o", out, "-n", "5", "--seed", "7"]
    )
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["written"] == 5
    assert len(os.listdir(out)) == 5


def test_cli_cisi_extract(spark, tmp_path, capsys):
    cisi = tmp_path / "c.all"
    cisi.write_text(".I 1\n.T\nOne\n.W\nbody\n.I 2\n.T\nTwo\n.W\nbody2\n")
    out = str(tmp_path / "cisi_out")
    rc = cli_main(["cisi", str(cisi), "-o", out])
    assert rc == 0
    assert sorted(os.listdir(out)) == ["0001_One.md", "0002_Two.md"]


def test_cli_analyze(spark, sf_small, capsys):
    rc = cli_main(["analyze", sf_small])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["document_count"] == 500


def test_docs_datasource_parallel_read(spark):
    from parquet_extractor_spark.sources.docs_datasource import DocsDataSource

    spark.dataSource.register(DocsDataSource)
    df = (
        spark.read.format("docs")
        .option(
            "provider",
            "parquet_extractor_spark.sources.docs_datasource:synthetic_corpus",
        )
        .option("num_docs", "100")
        .option("num_partitions", "7")
        .load()
    )
    # Spark may resplit the 7 reader partitions internally; assert the
    # reader's own partition plan plus data completeness instead.
    from parquet_extractor_spark.sources.docs_datasource import DocsReader

    reader = DocsReader(
        {
            "provider": "parquet_extractor_spark.sources.docs_datasource:synthetic_corpus",
            "num_docs": "100",
            "num_partitions": "7",
        }
    )
    assert len(reader.partitions()) == 7
    rows = df.collect()
    assert len(rows) == 100
    assert {r.doc_id for r in rows} == {f"doc{i}" for i in range(100)}
    assert rows[0].text.startswith("body text")


def test_cli_curate(spark, sf_small, tmp_path, capsys):
    out = str(tmp_path / "curated")
    rc = cli_main(["curate", sf_small, "-o", out])
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["chunks"] > 0
    assert spark.read.parquet(out).count() == printed["chunks"]


def test_cli_legacy_positional_fallback(spark, papers_parquet, tmp_path, capsys):
    """A bare FILE argument means `parquet FILE` (main.py:236-237)."""
    out = str(tmp_path / "legacy_out")
    rc = cli_main([papers_parquet, "-o", out, "-n", "3"])
    assert rc == 0
    assert len(os.listdir(out)) == 3


def test_read_jsonl_docs_permissive(spark, tmp_path):
    from parquet_extractor_spark.sources.jsonl import read_jsonl_docs

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha", "lang": "en", "source": "s"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "beta", "lang": "de", "source": "s"}\n'
        '{"doc_id": 3, "text": "gamma"'  # truncated line
        "\n",
    )
    good, errors = read_jsonl_docs(spark, str(p))
    assert {(r.doc_id, r.text) for r in good.collect()} == {
        (1, "alpha"),
        (2, "beta"),
    }
    bad = [r.raw_line for r in errors.collect()]
    assert len(bad) == 2
    assert "THIS IS NOT JSON" in bad[0] or "THIS IS NOT JSON" in bad[1]


def test_cli_sql(spark, sf_small, capsys):
    rc = cli_main(
        [
            "sql",
            "SELECT r_name, count(*) AS n FROM region "
            "JOIN nation ON r_regionkey = n_regionkey "
            "GROUP BY r_name ORDER BY r_name",
            sf_small,
        ]
    )
    assert rc == 0
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    assert len(lines) == 5
    assert sum(row["n"] for row in lines) == 25


def test_cli_sql_limit_is_plan_level(spark, sf_small, capsys):
    rc = cli_main(
        ["sql", "SELECT o_orderkey FROM orders ORDER BY o_orderkey",
         sf_small, "--limit", "3"]
    )
    assert rc == 0
    lines = [
        line for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    assert len(lines) == 3


def test_cli_select_bm25_and_spans(spark, sf_small, capsys):
    rc = cli_main(["select", "bm25", sf_small, "--limit", "5"])
    assert rc == 0
    rows = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    assert len(rows) == 5
    assert rows[0]["rank"] == 1
    assert rows[0]["score_micro"] >= rows[-1]["score_micro"]

    rc = cli_main(["select", "spans", sf_small, "--limit", "3"])
    assert rc == 0
    spans = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    assert len(spans) == 3
    assert all(s["n_docs"] > 1 for s in spans)


def test_cli_dedup_and_quality_methods(spark, sf_small, capsys):
    import json

    from parquet_extractor_spark.cli import main as cli_main

    for args, key in (
        (["dedup", "exact", sf_small, "--limit", "3"], "keep_doc_id"),
        (["dedup", "semantic", sf_small, "--limit", "3"], "keep"),
        (["dedup", "image", sf_small, "--limit", "3"], "hamming"),
        (["dedup", "animation", sf_small, "--limit", "3"],
         "n_frames_matched"),
        (["select", "gopher", sf_small, "--limit", "3"], "gopher_keep"),
        (["select", "winnow", sf_small, "--limit", "3"], "n_selected"),
    ):
        rc = cli_main(args)
        assert rc == 0
        lines = [
            json.loads(ln)
            for ln in capsys.readouterr().out.strip().splitlines()
        ]
        assert 0 < len(lines) <= 3
        assert key in lines[0]


def test_cli_export_jsonl(spark, sf_small, tmp_path, capsys):
    import glob
    import json

    from parquet_extractor_spark.cli import main as cli_main

    out = str(tmp_path / "export")
    rc = cli_main(["export", sf_small, "-o", out])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows"] == 500
    assert glob.glob(f"{out}/lang=*/*.json.gz")


def test_cli_export_any_table(spark, sf_small, tmp_path, capsys):
    import glob
    import json

    from parquet_extractor_spark.cli import main as cli_main

    out = str(tmp_path / "ev")
    rc = cli_main(
        ["export", sf_small, "-o", out, "--table", "events",
         "--partition-by", "event_type"]
    )
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows"] > 0
    assert glob.glob(f"{out}/event_type=*/*.json.gz")

    # partition column missing -> clean error, exit 1
    rc = cli_main(
        ["export", sf_small, "-o", str(tmp_path / "bad"), "--table", "region"]
    )
    assert rc == 1
    assert "no column" in capsys.readouterr().out


def test_docs_datasource_stream_reads_all_docs_in_batches(spark, tmp_path):
    """The streaming face of the custom DataSource: micro-batches of
    batch_docs documents per trigger, executor-parallel partitions,
    every doc delivered exactly once across epochs."""
    import os
    import time

    from parquet_extractor_spark.sources.docs_datasource import (
        DocsDataSource,
    )

    spark.dataSource.register(DocsDataSource)
    num_docs, batch_docs = 500, 200
    out: dict[int, set] = {}

    def _sink(batch, epoch):
        out[epoch] = {r.doc_id for r in batch.collect()}

    q = (
        spark.readStream.format("docs")
        .option(
            "provider",
            "parquet_extractor_spark.sources.docs_datasource:synthetic_corpus",
        )
        .option("num_docs", str(num_docs))
        .option("batch_docs", str(batch_docs))
        .option("num_partitions", "4")
        .load()
        .writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "ckpt_ds")
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            # snapshot: the foreachBatch callback thread mutates `out`
            if sum(len(v) for v in list(out.values())) >= num_docs:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    all_ids = [d for ids in out.values() for d in ids]
    assert len(all_ids) == num_docs  # exactly once across epochs
    assert set(all_ids) == {f"doc{i}" for i in range(num_docs)}
    # batching actually happened: ceil(500/200) = 3 non-empty epochs
    assert sum(1 for v in out.values() if v) == 3
    assert max(len(v) for v in out.values()) <= batch_docs


def test_docs_stream_reader_restart_does_not_regress_offsets():
    """Restart safety without Spark: a fresh reader (in-memory _pos=0)
    handed a checkpointed start must adopt it — the inverted batch the
    engine may have planned reads nothing, and subsequent offsets
    advance from the committed position instead of re-delivering."""
    from parquet_extractor_spark.sources.docs_datasource import (
        DocsStreamReader,
    )

    opts = {
        "provider": (
            "parquet_extractor_spark.sources.docs_datasource:"
            "synthetic_corpus"
        ),
        "num_docs": "1000",
        "batch_docs": "200",
        "num_partitions": "4",
    }
    # simulated restart: checkpoint committed {pos: 600}; the fresh
    # reader's first latestOffset (engine calls it before partitions)
    # regresses to 200 — the planned (600, 200) batch must be empty
    r = DocsStreamReader(dict(opts))
    stale_end = r.latestOffset()
    assert stale_end == {"pos": 200}
    parts = r.partitions({"pos": 600}, stale_end)
    assert [(p.start, p.end) for p in parts] == [(600, 600)]
    # after adopting the committed position, the next batch resumes
    # forward from 600, never re-reading 0-599
    nxt = r.latestOffset()
    assert nxt == {"pos": 800}
    parts = r.partitions({"pos": 600}, nxt)
    assert parts[0].start == 600 and parts[-1].end == 800
    ids = [row[0] for p in parts for row in r.read(p)]
    assert ids == [f"doc{i}" for i in range(600, 800)]


def test_cli_search_and_explain(spark, sf_small, capsys):
    import json

    rc = cli_main(["search", "phrase", sf_small, "--phrase", "value table"])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(r["n_hits"] >= 1 for r in rows)

    rc = cli_main(["search", "hybrid", sf_small, "--limit", "5"])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert 0 < len(rows) <= 5 and "rrf_score" in rows[0]

    rc = cli_main(["explain", "q1_pricing_summary", sf_small])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Scan parquet" in out

    rc = cli_main(["explain", "nope", sf_small])
    assert rc == 1


def test_cli_datacard(spark, sf_small, capsys):
    import json

    rc = cli_main(["datacard", sf_small])
    assert rc == 0
    card = json.loads(capsys.readouterr().out)
    assert card["corpus"]["document_count"] > 0
    assert card["languages"] and card["dedup_reduction"]


def test_cli_train_classifier(spark, sf_small, capsys):
    import json as _json

    rc = cli_main(["train-classifier", sf_small, "--score", "--limit", "2"])
    assert rc == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    epochs = [ln for ln in lines if "iteration" in ln]
    scores = [ln for ln in lines if "doc_id" in ln]
    assert [e["iteration"] for e in epochs] == [1, 2, 3]
    assert epochs[0]["loss_micro"] > epochs[-1]["loss_micro"]
    assert len(scores) == 2 and all("pred" in s for s in scores)
