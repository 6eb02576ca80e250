"""The single-pass ingest (``sinks.dataset.write_ingested``) behind the
``pdfingest``/``warcingest`` CLI commands and the two REST ingest
routes: one Spark job that parses its input once, counts taken during
the parquet write, and an error preview capped at ``MAX_ERRORS``."""

import io
import json
import os
import time

import pytest

from parquet_extractor_spark.cli import main as cli_main
from parquet_extractor_spark.constants import MAX_ERRORS
from parquet_extractor_spark.sinks.pdfwriter import render_pdf

BROKEN_PDF = b"%PDF-1.4\nnot really"


def _pdf_dir(root, good: int, bad: int) -> str:
    d = os.path.join(str(root), "pdfs")
    os.makedirs(d)
    for i in range(good):
        with open(os.path.join(d, f"doc{i}.pdf"), "wb") as fh:
            fh.write(render_pdf(f"T{i}", str(i), [f"body {i} " * 20]))
    for i in range(bad):
        with open(os.path.join(d, f"bad{i:02d}.pdf"), "wb") as fh:
            fh.write(BROKEN_PDF)
    return d


def _warc_dir(root) -> str:
    from parquet_extractor_spark.sources.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    d = os.path.join(str(root), "warcs")
    os.makedirs(d)
    rec = build_warc_record(
        "response",
        "0000-0001",
        "2026-01-01T00:00:00Z",
        build_http_response(b"<html><body><p>crawled</p></body></html>"),
        target_uri="http://example.com/page",
        content_type="application/http;msgtype=response",
    )
    with open(os.path.join(d, "a.warc.gz"), "wb") as fh:
        fh.write(build_warc([rec, rec]))
    with open(os.path.join(d, "b.warc.gz"), "wb") as fh:
        fh.write(b"\x1f\x8bgarbage")
    return d


def _summary(capsys) -> dict:
    """The JSON summary line a CLI ingest printed last."""
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_pdfingest_writes_table_and_counts(spark, tmp_path, capsys):
    d = _pdf_dir(tmp_path, good=3, bad=2)
    out = str(tmp_path / "out")
    assert cli_main(["pdfingest", d, "-o", out]) == 0
    assert _summary(capsys) == {"output_dir": out, "extracted": 3, "errors": 2}
    table = spark.read.parquet(out)
    assert table.count() == 5
    assert table.where("error is null and text is not null").count() == 3


@pytest.mark.parametrize("command", ["pdfingest", "warcingest"])
def test_cli_ingest_runs_one_spark_job(
    spark, tmp_path, capsys, jobs_in_group, command
):
    """The parquet write carries the counts: one job, so the
    binaryFile scan and the mapInPandas parse run once (a write plus
    one re-parsing job pair per count before)."""
    if command == "pdfingest":
        d = _pdf_dir(tmp_path, good=2, bad=1)
    else:
        d = _warc_dir(tmp_path)
    out = str(tmp_path / "out")
    ids = jobs_in_group(
        lambda: cli_main([command, d, "-o", out]), f"ingest-{command}"
    )
    assert len(ids) == 1, ids
    summary = _summary(capsys)
    if command == "pdfingest":
        assert (summary["extracted"], summary["errors"]) == (2, 1)
    else:
        assert (summary["records"], summary["documents"]) == (2, 2)
        assert summary["errors"] == 1


def test_write_ingested_preview_is_capped_and_sorted(spark, tmp_path):
    from parquet_extractor_spark.sinks.dataset import write_ingested
    from parquet_extractor_spark.sources.pdf import read_pdf_docs

    d = _pdf_dir(tmp_path, good=1, bad=MAX_ERRORS + 3)
    m = write_ingested(read_pdf_docs(spark, d), str(tmp_path / "o"), "file_name")
    assert (m["ok"], m["errors"], m["with_text"]) == (1, MAX_ERRORS + 3, 1)
    names = [name for name, _ in m["error_rows"]]
    assert names == [f"bad{i:02d}.pdf" for i in range(MAX_ERRORS)]
    assert all(err for _, err in m["error_rows"])


@pytest.fixture()
def client(spark, tmp_path):
    pytest.importorskip("flask")
    from parquet_extractor_spark.jobs.service import create_app

    app = create_app(spark, str(tmp_path / "outputs"))
    app.config["TESTING"] = True
    return app.test_client()


def _wait_for(client, job_id, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        job = client.get(f"/api/jobs/{job_id}").get_json()
        if job["status"] != "running":
            return job
        time.sleep(0.2)
    raise TimeoutError(f"job {job_id} still running")


def test_ingest_pdftext_caps_error_preview(client):
    """MAX_ERRORS + 1 corrupt uploads: every one is counted, the
    preview keeps MAX_ERRORS of them (api.py:372,563), in name order."""
    n = MAX_ERRORS + 1
    resp = client.post(
        "/api/ingest/pdftext",
        data={
            "file": [
                (io.BytesIO(BROKEN_PDF), f"broken{i:02d}.pdf")
                for i in range(n)
            ],
            "subdir": "capped",
        },
        content_type="multipart/form-data",
    )
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed", job["error"]
    res = job["result"]
    assert res["extracted"] == 0 and res["errors"] == 21
    assert len(res["error_files"]) == 20
    assert [e["file"] for e in res["error_files"]] == [
        f"broken{i:02d}.pdf" for i in range(MAX_ERRORS)
    ]


def _spools(monkeypatch) -> list[str]:
    """Record every upload spool dir the app makes."""
    import tempfile

    made = []
    real = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        path = real(*args, **kwargs)
        if kwargs.get("prefix") == "upload_":
            made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    return made


def test_upload_spool_is_removed_when_the_job_ends(client, monkeypatch, tmp_path):
    """The spool goes whether the job completes or fails its sink
    preflight (the subdir names an existing file)."""
    made = _spools(monkeypatch)
    os.makedirs(tmp_path / "outputs", exist_ok=True)
    (tmp_path / "outputs" / "blocked").write_text("x")
    states = []
    for subdir in ("fine", "blocked"):
        resp = client.post(
            "/api/ingest/pdftext",
            data={"file": [(io.BytesIO(BROKEN_PDF), "x.pdf")], "subdir": subdir},
            content_type="multipart/form-data",
        )
        assert resp.status_code == 202
        states.append(_wait_for(client, resp.get_json()["job_id"])["status"])
    assert states == ["completed", "failed"]
    assert len(made) == 2
    assert not any(os.path.exists(d) for d in made)


@pytest.mark.parametrize(
    "route", ["/api/ingest/pdftext", "/api/ingest/warc",
              "/api/extract/cisi", "/api/extract/parquet"],
)
def test_bad_subdir_answers_400_before_spooling(client, monkeypatch, route):
    made = _spools(monkeypatch)
    resp = client.post(
        route,
        data={"file": [(io.BytesIO(b"data"), "x.bin")], "subdir": "../out"},
        content_type="multipart/form-data",
    )
    assert resp.status_code == 400
    assert "escapes output root" in resp.get_json()["error"]
    assert made == []
