import time

import pytest

flask = pytest.importorskip("flask")

from parquet_extractor_spark.jobs.service import create_app, jobs  # noqa: E402


@pytest.fixture()
def client(spark, tmp_path):
    app = create_app(spark, str(tmp_path))
    app.config["TESTING"] = True
    return app.test_client()


def _wait_for(client, job_id, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        job = client.get(f"/api/jobs/{job_id}").get_json()
        if job["status"] in ("completed", "failed", "cancelled"):
            return job
        time.sleep(0.2)  # polling client pattern (api_client.py:174-182)
    raise TimeoutError(f"job {job_id} still running")


def test_health(client, spark):
    body = client.get("/api/health").get_json()
    assert body["status"] == "ok"
    assert body["spark_version"] == spark.version


def test_analyze_job_lifecycle(client):
    resp = client.post("/api/analyze/corpus", json={})
    assert resp.status_code == 202
    job_id = resp.get_json()["job_id"]
    job = _wait_for(client, job_id)
    assert job["status"] == "completed"
    assert job["result"]["document_count"] == 500
    assert any("analyzing corpus" in line for line in job["log"])


def test_extract_job_writes_files_and_lists_them(client):
    resp = client.post(
        "/api/extract/documents", json={"num_docs": 12, "subdir": "mdtest"}
    )
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["written"] == 12

    listing = client.get("/api/files?subdir=mdtest").get_json()
    assert listing["count"] == 12
    assert all(f["size"] > 0 for f in listing["files"])

    name = listing["files"][0]["name"]
    download = client.get(f"/api/files/{name}?subdir=mdtest")
    assert download.status_code == 200
    assert download.data.startswith(b"---\n")


def test_failed_job_reports_error(client):
    resp = client.post("/api/analyze/corpus", json={"sf_dir": "/nonexistent"})
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "failed"
    assert job["error"]


def test_unknown_job_404(client):
    assert client.get("/api/jobs/nope").status_code == 404


def test_job_listing_excludes_log(client):
    listing = client.get("/api/jobs").get_json()
    assert len(listing) >= 1
    assert all("log" not in j for j in listing)


def test_extract_parquet_upload_roundtrip(client, spark, tmp_path):
    """S5: multipart upload → arbitrary-schema extract → markdown."""
    import io

    src = str(tmp_path / "up.parquet")
    rows = [(i, f"Doc {i}", "uploaded body text " * 15) for i in range(30)]
    spark.createDataFrame(
        rows, "idx long, title string, body_text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    import glob

    part = glob.glob(f"{src}/part-*.parquet")[0]
    with open(part, "rb") as fh:
        payload = fh.read()

    resp = client.post(
        "/api/extract/parquet",
        data={
            "file": (io.BytesIO(payload), "up.parquet"),
            "num_papers": "8",
            "subdir": "uptest",
        },
        content_type="multipart/form-data",
    )
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["written"] == 8
    listing = client.get("/api/files?subdir=uptest").get_json()
    assert listing["count"] == 8


def test_extract_parquet_upload_requires_file(client):
    resp = client.post("/api/extract/parquet", data={})
    assert resp.status_code == 400


def test_extract_pdf_job(client):
    resp = client.post(
        "/api/extract/pdf", json={"limit": 5, "subdir": "pdftest"}
    )
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["written"] == 5
    assert job["result"]["failed"] == 0
    listing = client.get("/api/files?subdir=pdftest").get_json()
    assert listing["count"] == 5
    assert all(f["name"].endswith(".pdf") for f in listing["files"])


def test_polling_client_wait_logic(client, monkeypatch):
    """JobClient.wait against the Flask test client (transport patched
    — the poll/terminal-state logic is what's under test, O5)."""
    import json as _json

    from parquet_extractor_spark.jobs.client import JobClient

    jc = JobClient("http://testserver")

    def fake_get(path):
        return client.get(path).get_json()

    def fake_post(path, payload=None):
        return client.post(path, json=payload or {}).get_json()

    monkeypatch.setattr(jc, "_get", fake_get)
    monkeypatch.setattr(jc, "_post", fake_post)

    record = jc.run("/api/analyze/corpus", {})
    assert record["status"] == "completed"
    assert record["result"]["document_count"] == 500


def test_subdir_traversal_rejected(client, tmp_path):
    """ADVICE r01: '../..' or absolute subdirs must not escape the
    output root on any route that takes one."""
    for url in (
        "/api/files?subdir=../..",
        "/api/files?subdir=/etc",
        "/api/files/x?subdir=../..",
    ):
        assert client.get(url).status_code == 400
    assert (
        client.post(
            "/api/extract/documents", json={"num_docs": 1, "subdir": "../pwn"}
        ).status_code
        == 400
    )
    assert (
        client.post(
            "/api/extract/pdf", json={"limit": 1, "subdir": "/tmp/pwn"}
        ).status_code
        == 400
    )
    assert client.delete("/api/files?subdir=../..").status_code == 400
    # nothing escaped next to the root
    assert not (tmp_path.parent / "pwn").exists()


def test_cleanup_endpoint_roundtrip(client):
    """S13 parity (cleanup_wikir.py:22-61): create -> list -> delete
    with size accounting -> empty listing."""
    resp = client.post(
        "/api/extract/documents", json={"num_docs": 5, "subdir": "cleanme"}
    )
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    listing = client.get("/api/files?subdir=cleanme").get_json()
    assert listing["count"] == 5
    total = sum(f["size"] for f in listing["files"])

    out = client.delete("/api/files?subdir=cleanme").get_json()
    assert out["deleted"] == 5
    assert out["bytes_freed"] == total

    assert client.get("/api/files?subdir=cleanme").get_json()["count"] == 0
    # deleting the root itself is refused
    assert client.delete("/api/files?subdir=.").status_code == 400


def test_generic_query_endpoint(client):
    names = client.get("/api/queries").get_json()
    assert "corpus_stats" in names and "semdedup_keep" in names

    resp = client.post("/api/query/corpus_stats", json={"limit": 5})
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["n_rows"] == 1
    assert job["result"]["rows"][0]["document_count"] == 500

    resp = client.post("/api/query/dedup_exact", json={"limit": 3})
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["n_rows"] == 3

    assert client.post("/api/query/nope", json={}).status_code == 404


def test_client_run_query_helper(client, monkeypatch):
    from parquet_extractor_spark.jobs.client import JobClient

    jc = JobClient("http://testserver")
    monkeypatch.setattr(jc, "_get", lambda p: client.get(p).get_json())
    monkeypatch.setattr(
        jc, "_post", lambda p, payload=None: client.post(p, json=payload or {}).get_json()
    )
    monkeypatch.setattr(
        "parquet_extractor_spark.jobs.client.POLL_INTERVAL_S", 0.1
    )

    assert "gopher_quality_flags" in jc.queries()
    record = jc.run_query("events_distinct_users", limit=5)
    assert record["status"] == "completed"
    assert record["result"]["n_rows"] == 5


def test_query_endpoint_rejects_bad_limit(client):
    for bad in ("abc", 7.9, True, -5, 0):
        resp = client.post("/api/query/corpus_stats", json={"limit": bad})
        assert resp.status_code == 400, bad
        assert "limit" in resp.get_json()["error"]


_MALFORMED = [
    ("/api/extract/documents", {"num_docs": "x"}),
    ("/api/extract/documents", {"num_docs": -5}),
    ("/api/extract/documents", {"num_docs": 0}),
    ("/api/extract/documents", {"num_docs": 2.5}),
    ("/api/extract/documents", {"num_docs": True}),
    ("/api/extract/documents", {"num_docs": "\u00b2"}),
    ("/api/extract/documents", {"seed": "x"}),
    ("/api/extract/documents", {"seed": 1.5}),
    ("/api/extract/documents", {"seed": False}),
    ("/api/extract/parquet", {"num_papers": "x"}),
    ("/api/extract/parquet", {"num_papers": "-5"}),
    ("/api/extract/parquet", {"num_papers": "0"}),
    ("/api/extract/parquet", {"num_papers": "2.5"}),
    ("/api/extract/parquet", {"seed": "x"}),
    ("/api/extract/pdf", {"limit": "x"}),
    ("/api/extract/pdf", {"limit": -5}),
    ("/api/extract/pdf", {"limit": 7.9}),
    ("/api/extract/pdf", {"limit": True}),
    ("/api/extract/wiki", {"limit": "x"}),
    ("/api/extract/wiki", {"limit": -5}),
    ("/api/extract/wiki", {"delay_s": "x"}),
    ("/api/extract/wiki", {"delay_s": -1}),
    ("/api/extract/wiki", {"delay_s": True}),
    ("/api/extract/wiki", {"delay_s": "nan"}),
    ("/api/extract/wiki", {"delay_s": "inf"}),
]


@pytest.mark.parametrize(
    ("route", "body"),
    _MALFORMED,
    ids=[
        f"{route.rsplit('/', 1)[1]}-{key}={value!r}"
        for route, body in _MALFORMED
        for key, value in body.items()
    ],
)
def test_malformed_numeric_params_are_rejected(client, route, body):
    """A malformed, negative or zero count, a non-integer seed and a
    negative or non-finite delay answer 400 naming the parameter, and
    no job is registered. The upload route gets a file, so only the
    parameter can be at fault."""
    import io

    n_jobs = len(client.get("/api/jobs").get_json())
    if route == "/api/extract/parquet":
        resp = client.post(
            route,
            data={**body, "file": (io.BytesIO(b"PAR1"), "x.parquet")},
            content_type="multipart/form-data",
        )
    else:
        resp = client.post(route, json=body)
    assert resp.status_code == 400, resp.get_json()
    (key,) = body
    assert key in resp.get_json()["error"]
    assert len(client.get("/api/jobs").get_json()) == n_jobs


_JSON_ROUTES = [
    "/api/query/q1_pricing_summary",
    "/api/analyze/corpus",
    "/api/extract/documents",
    "/api/extract/pdf",
    "/api/extract/wiki",
]


@pytest.mark.parametrize("body", [[1, 2], "x", 3], ids=["list", "str", "int"])
@pytest.mark.parametrize("route", _JSON_ROUTES)
def test_non_object_json_body_is_rejected(client, route, body):
    """A JSON body that is not an object answers 400, not a 500 from
    reading parameters off it, and registers no job."""
    n_jobs = len(client.get("/api/jobs").get_json())
    resp = client.post(route, json=body)
    assert resp.status_code == 400, resp.get_data(as_text=True)
    assert "JSON object" in resp.get_json()["error"]
    assert len(client.get("/api/jobs").get_json()) == n_jobs


def test_explain_endpoint(client):
    out = client.get("/api/explain/q1_pricing_summary").get_json()
    assert out["query"] == "q1_pricing_summary"
    # a real formatted physical plan, not an error string
    assert "AdaptiveSparkPlan" in out["plan"] or "Physical Plan" in out["plan"]
    assert "Scan parquet" in out["plan"]
    assert isinstance(out["exchanges"], int)
    # nothing executed: explain of a heavy query returns immediately
    out2 = client.get("/api/explain/dedup_ngram_jaccard").get_json()
    assert "Exchange" in out2["plan"]
    assert client.get("/api/explain/nope").status_code == 404


def test_extract_cisi_upload_roundtrip(client):
    """S3 REST face (reference api.py:106-165): CISI.ALL multipart
    upload → section parse → markdown sink, then list + download."""
    import io

    from tests.test_cisi import CISI_SAMPLE

    resp = client.post(
        "/api/extract/cisi",
        data={
            "file": (io.BytesIO(CISI_SAMPLE.encode()), "CISI.ALL"),
            "subdir": "cisitest",
        },
        content_type="multipart/form-data",
    )
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["written"] == 3
    assert job["result"]["file_count"] == 3

    listing = client.get("/api/files?subdir=cisitest").get_json()
    assert listing["count"] == 3
    assert all(f["name"].endswith(".md") for f in listing["files"])
    name = next(
        f["name"] for f in listing["files"] if f["name"].startswith("0001")
    )
    download = client.get(f"/api/files/{name}?subdir=cisitest")
    assert b"First Document Title" in download.data


def test_extract_cisi_requires_file(client):
    assert client.post("/api/extract/cisi", data={}).status_code == 400


@pytest.fixture()
def wiki_client(spark, tmp_path):
    """Service with deterministic fake crawl adapters injected through
    create_app's wiki_adapters seam (same shape as the live ones)."""

    def adapters():
        def list_members(category):
            return [
                (f"{category} article {i}", 0 if i % 3 else 10)
                for i in range(6)
            ]

        def fetch_page(title):
            if title.endswith("2"):
                return False, None, None
            return True, f"Full text of {title}.", f"Summary of {title}."

        return list_members, fetch_page

    app = create_app(spark, str(tmp_path), wiki_adapters=adapters)
    app.config["TESTING"] = True
    return app.test_client()


def test_extract_wiki_crawl_roundtrip(wiki_client):
    """S6/S7 REST face (reference api.py:849-979): injected-fetcher
    category crawl → PDF sink. Namespace filter (P7), existence filter
    (P8), and cross-category dedup all exercised through HTTP."""
    resp = wiki_client.post(
        "/api/extract/wiki",
        json={
            "categories": ["Cat_A", "Cat_B"],
            "limit": 10,
            "delay_s": 0,
            "subdir": "wikitest",
        },
    )
    assert resp.status_code == 202
    job = _wait_for(wiki_client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    # 6 titles/cat, namespace 0 keeps i in {1,2,4,5}; i==2 doesn't
    # exist → 3 pages per category, 2 categories, no title overlap
    assert job["result"]["written"] == 6
    assert job["result"]["failed"] == 0

    listing = wiki_client.get("/api/files?subdir=wikitest").get_json()
    assert listing["count"] == 6
    assert all(f["name"].endswith(".pdf") for f in listing["files"])
    name = listing["files"][0]["name"]
    download = wiki_client.get(f"/api/files/{name}?subdir=wikitest")
    assert download.data.startswith(b"%PDF-1.4")


def test_extract_wiki_without_adapters_503(client):
    """No injection + live libs absent → 503 preflight, not a doomed
    job (the import gate surfaces at the HTTP layer)."""
    try:
        import mwclient  # noqa: F401

        pytest.skip("mwclient installed; live adapters would be used")
    except ImportError:
        pass
    resp = client.post("/api/extract/wiki", json={"limit": 3})
    assert resp.status_code == 503


def test_ingest_pdftext_upload_roundtrip(client, spark, tmp_path):
    """PDF ingestion REST face: multipart upload of two real PDFs and
    one corrupt file → text-extraction job → parquet document table;
    the corrupt upload becomes an error row, not a failed job."""
    import io

    from parquet_extractor_spark.sinks.pdfwriter import render_pdf

    resp = client.post(
        "/api/ingest/pdftext",
        data={
            "file": [
                (
                    io.BytesIO(render_pdf("T0", "0", ["alpha body " * 20])),
                    "a.pdf",
                ),
                (
                    io.BytesIO(render_pdf("T1", "1", ["beta body " * 20])),
                    "b.pdf",
                ),
                (io.BytesIO(b"%PDF-1.4\nnot really"), "broken.pdf"),
            ],
            "subdir": "pdftext",
        },
        content_type="multipart/form-data",
    )
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    res = job["result"]
    assert res["extracted"] == 2 and res["errors"] == 1
    assert res["error_files"][0]["file"] == "broken.pdf"

    table = spark.read.parquet(res["output_dir"])
    good = {r.file_name: r.text for r in table.where("error is null").collect()}
    assert set(good) == {"a.pdf", "b.pdf"}
    assert "alpha body" in good["a.pdf"] and "T1" in good["b.pdf"]


def test_ingest_pdftext_requires_file(client):
    resp = client.post("/api/ingest/pdftext", data={})
    assert resp.status_code == 400


def test_ingest_warc_upload_roundtrip(client, spark, tmp_path):
    """WARC ingestion REST face: multipart upload of one well-formed
    .warc.gz and one corrupt file → record-parse job → parquet record
    table; the corrupt container becomes an error row, not a failed
    job."""
    import io

    from parquet_extractor_spark.sources.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    rec = build_warc_record(
        "response",
        "0000-0001",
        "2026-01-01T00:00:00Z",
        build_http_response(b"<html><body><p>crawled text</p></body></html>"),
        target_uri="http://example.com/page",
        content_type="application/http;msgtype=response",
    )
    resp = client.post(
        "/api/ingest/warc",
        data={
            "file": [
                (io.BytesIO(build_warc([rec])), "seg.warc.gz"),
                (io.BytesIO(b"\x1f\x8bgarbage"), "bad.warc.gz"),
            ],
            "subdir": "warc",
        },
        content_type="multipart/form-data",
    )
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    res = job["result"]
    assert res["records"] == 1 and res["documents"] == 1
    assert res["errors"] == 1

    table = spark.read.parquet(res["output_dir"])
    good = table.where("error is null").collect()
    assert len(good) == 1
    assert good[0].text == "crawled text"
    assert good[0].target_uri == "http://example.com/page"


def test_ingest_warc_requires_file(client):
    resp = client.post("/api/ingest/warc", data={})
    assert resp.status_code == 400


def _one_record_warc():
    from parquet_extractor_spark.sources.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    rec = build_warc_record(
        "response",
        "0000-0009",
        "2026-01-01T00:00:00Z",
        build_http_response(b"<html><body><p>spooled</p></body></html>"),
        target_uri="http://example.com/x",
        content_type="application/http;msgtype=response",
    )
    return build_warc([rec])


def test_upload_filename_traversal_is_contained(client, spark):
    """A multipart filename like ../evil.warc must NOT escape the
    spool dir (the raw name would resolve to /tmp/evil.warc since
    spool dirs live directly under /tmp). Uploads are saved under
    server-generated names; the client name survives only as the
    remapped path metadata."""
    import io
    import os

    target = "/tmp/evil.warc"
    if os.path.exists(target):
        os.unlink(target)
    resp = client.post(
        "/api/ingest/warc",
        data={
            "file": [(io.BytesIO(_one_record_warc()), "../evil.warc")],
            "subdir": "warctrav",
        },
        content_type="multipart/form-data",
    )
    assert resp.status_code == 202
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert not os.path.exists(target)
    # parses fine AND the record row reports the client's name
    assert job["result"]["records"] == 1
    rows = spark.read.parquet(job["result"]["output_dir"]).collect()
    assert rows[0].path == "../evil.warc"


def test_warc_upload_name_without_warc_suffix_still_parses(client):
    """Generated spool names always match the *.warc* glob: a client
    name like segment.gz (previously silently skipped → 0 records)
    parses normally because gzip is content-sniffed, not name-based."""
    import io

    resp = client.post(
        "/api/ingest/warc",
        data={
            "file": [(io.BytesIO(_one_record_warc()), "segment.gz")],
            "subdir": "warcgz",
        },
        content_type="multipart/form-data",
    )
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["records"] == 1


def test_warc_duplicate_upload_names_do_not_overwrite(client):
    """Two uploads sharing one client filename both survive the spool
    (generated names are collision-proof)."""
    import io

    resp = client.post(
        "/api/ingest/warc",
        data={
            "file": [
                (io.BytesIO(_one_record_warc()), "seg.warc"),
                (io.BytesIO(_one_record_warc()), "seg.warc"),
            ],
            "subdir": "warcdup",
        },
        content_type="multipart/form-data",
    )
    job = _wait_for(client, resp.get_json()["job_id"])
    assert job["status"] == "completed"
    assert job["result"]["records"] == 2
