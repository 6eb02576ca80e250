"""Async job service (SURVEY §2.10 O1-O8) — the reference's Flask REST
surface (api.py:22-191) rebuilt over Spark.

Same REST shape: submit → uuid job id → background thread → poll
status → list/download outputs. Differences by design:

- the worker thread is a ``pyspark.InheritableThread`` tagged with
  ``setJobGroup(job_id)`` so Spark stage progress is attributable and
  a job is CANCELLABLE (``cancelJobGroup``) — the reference's threads
  can't be stopped (api.py:97-98);
- progress comes from real Spark execution, not manual log appends
  only;
- one documented port (the reference binds 4000 at api.py:982 while
  its README/client say 5000 — SURVEY §3.2 gotcha; here: 5000).

The in-memory ``jobs`` dict mirrors api.py:25, with the same caveats
(process-local, non-durable) — acceptable for the driver-side control
plane; the data plane is all Spark. Unlike api.py:25 it is bounded:
past ``MAX_JOBS`` entries the oldest finished jobs are dropped.
"""

from __future__ import annotations

import itertools
import math
import os
import re
import threading
import traceback
import uuid
from typing import Any, Callable

from pyspark import InheritableThread
from pyspark.sql import SparkSession

from parquet_extractor_spark.constants import (
    MAX_CRAWL_ARTICLES,
    MAX_DOCS,
    MAX_JOBS,
    MAX_QUERY_ROWS,
)
from parquet_extractor_spark.session import query_scope

DEFAULT_PORT = 5000

# The fixture directory a request reads when it names no ``sf_dir``.
DEFAULT_SF_DIR = "/root/testdata/sf0.001"

jobs: dict[str, dict[str, Any]] = {}
_jobs_lock = threading.Lock()


def _register_job(job_type: str, params: dict[str, Any]) -> str:
    """Add a running job to ``jobs``. Past ``MAX_JOBS`` entries, drop
    the oldest terminal jobs (the dict keeps insertion order); a
    running job is never dropped."""
    job_id = str(uuid.uuid4())
    with _jobs_lock:
        jobs[job_id] = {
            "id": job_id,
            "status": "running",
            "type": job_type,
            "params": params,
            "log": [],
            "result": None,
            "error": None,
        }
        if len(jobs) > MAX_JOBS:
            done = (k for k, j in jobs.items() if j["status"] != "running")
            for old in list(itertools.islice(done, len(jobs) - MAX_JOBS)):
                del jobs[old]
    return job_id


def job_log(job_id: str, message: str) -> None:
    """Append-only progress log (api.py:412, api.py:419), capped so a
    chatty job can't grow without bound. A no-op for a job already
    dropped from the table (a cancelled job's thread may still run)."""
    with _jobs_lock:
        job = jobs.get(job_id)
        if job is not None and len(job["log"]) < 1000:
            job["log"].append(message)


def submit_job(
    spark: SparkSession,
    job_type: str,
    fn: Callable[[str], dict[str, Any]],
    params: dict[str, Any] | None = None,
) -> str:
    """Run ``fn(job_id)`` on an InheritableThread under a Spark job
    group named by the job id, inside one ``query_scope``: the blocks
    the job cached are released before it reports a terminal status,
    while sibling jobs run on. Per-job error capture mirrors
    api.py:89-91."""
    job_id = _register_job(job_type, params or {})
    job = jobs[job_id]

    def _run() -> None:
        sc = spark.sparkContext
        sc.setJobGroup(job_id, f"{job_type} [{job_id}]", interruptOnCancel=True)
        # Terminal-state rule: a cancelled job stays cancelled. The
        # interrupted worker unwinds through the except arm (or, if fn
        # happened to finish first, the try arm) AFTER cancel_job set
        # status='cancelled' — only transition while still 'running'.
        try:
            with query_scope(spark):
                result = fn(job_id)
            with _jobs_lock:
                if job["status"] == "running":
                    job["status"] = "completed"
                    job["result"] = result
        except Exception as exc:  # permissive job surface (O4)
            with _jobs_lock:
                if job["status"] == "running":
                    job["status"] = "failed"
                    job["error"] = str(exc)
                job["log"].append(traceback.format_exc()[-2000:])
        # no clearJobGroup: the property is thread-local and this
        # worker thread ends here (PySpark 4 removed clearJobGroup).

    InheritableThread(target=_run).start()
    return job_id


def cancel_job(spark: SparkSession, job_id: str) -> bool:
    with _jobs_lock:
        if job_id not in jobs:
            return False
        if jobs[job_id]["status"] == "running":
            jobs[job_id]["status"] = "cancelled"
    spark.sparkContext.cancelJobGroup(job_id)
    return True


class ParamError(ValueError):
    """A malformed request parameter; the app answers it with 400."""


def resolve_subdir(output_root: str, subdir: str) -> str:
    """Resolve a client-supplied subdir strictly inside output_root.

    ``os.path.join(root, '../..')`` or an absolute subdir would escape
    the output root entirely (arbitrary listing/download, and writes
    via check_write_access's makedirs). Normalize with realpath and
    require the result to stay under the root; ParamError otherwise.
    """
    root = os.path.realpath(output_root)
    target = os.path.realpath(os.path.join(root, subdir))
    if os.path.commonpath([root, target]) != root:
        raise ParamError(f"subdir escapes output root: {subdir!r}")
    return target


_INT = re.compile(r"-?[0-9]+")


def _as_int(raw: Any) -> int | None:
    """A JSON integer or a decimal digit string as an int; None for
    anything else: a bool (Python counts it as an int), a fraction,
    any other string."""
    if isinstance(raw, bool):
        return None
    if isinstance(raw, int):
        return raw
    if isinstance(raw, str) and _INT.fullmatch(raw):
        return int(raw)
    return None


def int_param(params, key: str, default: int) -> int:
    """``params[key]`` as an integer, or ParamError."""
    n = _as_int(params.get(key, default))
    if n is None:
        raise ParamError(f"{key} must be an integer")
    return n


def count_param(params, key: str, default: int, cap: int) -> int:
    """A row count: a positive integer, capped at ``cap``. Zero,
    negative and fractional counts are errors, not silent
    truncations."""
    n = _as_int(params.get(key, default))
    if n is None or n < 1:
        raise ParamError(f"{key} must be a positive integer")
    return min(n, cap)


def seconds_param(params, key: str, default: float) -> float:
    """A finite, non-negative number of seconds, or ParamError."""
    raw = params.get(key, default)
    try:
        x = math.nan if isinstance(raw, bool) else float(raw)
    except (TypeError, ValueError):
        x = math.nan
    if not 0 <= x < math.inf:
        raise ParamError(f"{key} must be a number >= 0")
    return x


def check_write_access(output_dir: str) -> None:
    """Write-access preflight (api.py:886-897): fail fast before
    launching the Spark job that feeds an unwritable sink."""
    os.makedirs(output_dir, exist_ok=True)
    probe = os.path.join(output_dir, "test_write.txt")
    with open(probe, "w") as fh:
        fh.write("ok")
    os.remove(probe)


def create_app(spark: SparkSession, output_root: str, wiki_adapters=None):
    """Flask app factory. Routes mirror api.py's surface:

    GET  /api/health                 — O6
    GET  /api/jobs                   — O2 (list)
    GET  /api/jobs/<id>              — O2 (status)
    POST /api/jobs/<id>/cancel       — beyond reference (cancellable)
    GET  /api/queries                — beyond reference: registry listing
    GET  /api/explain/<name>         — beyond reference: formatted
                                       physical plan without execution
    POST /api/query/<name>           — beyond reference: run ANY
                                       registered analytics query async
    POST /api/analyze/corpus         — §3.3 flagship (corpus stats)
    POST /api/extract/documents      — §3.1 extract pipeline
    POST /api/extract/parquet        — S5 multipart upload → extract
    POST /api/extract/pdf            — S9 documents → per-doc PDFs
    POST /api/extract/cisi           — S3 CISI upload → markdown sink
                                       (api.py:106-165)
    POST /api/ingest/pdftext         — beyond reference: PDF upload →
                                       text extraction → parquet table
    POST /api/ingest/warc            — beyond reference: WARC upload →
                                       record parse → parquet table
    POST /api/extract/wiki           — S6/S7 category crawl → PDF sink
                                       (api.py:849-979)
    GET  /api/files                  — S11 listing
    GET  /api/files/<name>           — S12 download
    DELETE /api/files                — S13 cleanup (cleanup_wikir.py:22-61)

    Every job route takes one path: validate its parameters (400 via
    ParamError, before anything is spooled), spool its uploads, then
    :func:`_submit` the job, which preflights the sink and removes the
    spool when the job ends. Every client-supplied ``subdir`` goes
    through :func:`resolve_subdir` before touching the filesystem.

    ``wiki_adapters`` injects the crawl's network seam: a zero-arg
    callable returning ``(list_members, fetch_page)``. Defaults to the
    live mwclient/wikipediaapi adapters (503 when those libs are
    absent); tests pass deterministic fakes — same injectable shape as
    sources/wikipedia.py itself.
    """
    import shutil
    import tempfile

    from flask import (
        Flask,
        abort,
        jsonify,
        make_response,
        request,
        send_from_directory,
    )
    from pyspark.sql import functions as F

    from parquet_extractor_spark.functions.text import (
        sanitize_filename,
        zero_pad,
    )
    from parquet_extractor_spark.operators.analyze import corpus_stats
    from parquet_extractor_spark.operators.extract import (
        extract_any_parquet,
        extract_files,
    )
    from parquet_extractor_spark.sinks.dataset import write_ingested
    from parquet_extractor_spark.sinks.markdown import write_files
    from parquet_extractor_spark.sinks.pdf import write_pdfs
    from parquet_extractor_spark.sources.cisi import (
        cisi_to_markdown,
        read_cisi,
    )
    from parquet_extractor_spark.sources.pdf import read_pdf_docs
    from parquet_extractor_spark.sources.tables import load_table
    from parquet_extractor_spark.sources.warc import read_warc_docs
    from parquet_extractor_spark.sources.wikipedia import (
        WIKI_CRAWL_CATEGORIES,
        crawl_category,
        live_fetch_page,
        live_list_members,
    )

    app = Flask("parquet_extractor_spark")

    @app.errorhandler(ParamError)
    def _bad_param(exc: ParamError):
        return jsonify({"error": str(exc)}), 400

    def _fail(status: int, message: str):
        """Answer ``status`` with a JSON error body, from any depth."""
        abort(make_response(jsonify({"error": message}), status))

    def _json_params() -> dict[str, Any]:
        """The JSON request body: an object, or {} when absent."""
        params = request.get_json(silent=True)
        if params is not None and not isinstance(params, dict):
            raise ParamError("request body must be a JSON object")
        return params or {}

    def _subdir(raw: str) -> str:
        return resolve_subdir(output_root, raw)

    def _registry() -> dict:
        """The queries() registry; 503 when it is not importable."""
        try:
            import __spark_entry__ as entrymod
        except ImportError:
            _fail(503, "query registry unavailable")
        return entrymod.queries()

    def _registered(name: str):
        """The builder of registered query ``name``; 404 if unknown."""
        registry = _registry()
        if name not in registry:
            _fail(404, f"unknown query '{name}'")
        return registry[name]

    def _spool(ups, ext: str) -> tuple[str, dict[str, str]]:
        """Save each upload as ``upload<i><ext>`` in a new spool dir;
        return the dir and the spool-name → client-name map.

        Client-supplied multipart filenames are untrusted: a name like
        ``../../x`` (or an absolute path, which os.path.join adopts
        wholesale) would escape the spool dir, and duplicate names
        would silently overwrite each other. The readers never key on
        the name (parquet/CISI get explicit paths; WARC/PDF parsing is
        content-sniffed), so the client name is kept only as metadata.
        """
        tmp = tempfile.mkdtemp(prefix="upload_")
        names = {}
        for i, up in enumerate(ups):
            name = f"upload{i}{ext}"
            up.save(os.path.join(tmp, name))
            names[name] = up.filename or name
        return tmp, names

    def _submit(job_type, work, params, out_dir=None, spool=None):
        """Submit ``work(job_id)`` as a job and answer 202. The job
        first preflights its sink ``out_dir``; whether it succeeds or
        fails, it then removes the upload ``spool`` (api.py:93-94)."""

        def _run(job_id: str) -> dict[str, Any]:
            try:
                if out_dir is not None:
                    check_write_access(out_dir)
                return work(job_id)
            finally:
                if spool is not None:
                    shutil.rmtree(spool, ignore_errors=True)

        job_id = submit_job(spark, job_type, _run, params)
        return jsonify({"job_id": job_id, "status": "running"}), 202

    def _ingest(job_type, read, name_col, ext, subdir, summary):
        """An upload ingest route: spool the uploads, parse them with
        ``read`` (PERMISSIVE: a malformed upload becomes an error row,
        not a failed job), and write one parquet table under the
        outputs ``subdir`` with its counts taken in that same pass.
        The client names replace the spool names in ``name_col``; the
        job result is ``summary`` of the counts."""
        ups = request.files.getlist("file")
        if not ups or all(not u.filename for u in ups):
            raise ParamError("no file provided")
        out_dir = _subdir(request.form.get("subdir", subdir))
        tmp, names = _spool(ups, ext)

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"ingesting {len(ups)} uploads -> {out_dir}")
            client = F.create_map(*[F.lit(x) for kv in names.items() for x in kv])
            spooled = F.element_at(F.split(F.col(name_col), "/"), -1)
            rows = read(spark, tmp).withColumn(
                name_col, F.coalesce(client[spooled], F.col(name_col))
            )
            m = write_ingested(rows, out_dir, name_col)
            job_log(job_id, f"wrote {m['ok']} rows, {m['errors']} errors")
            return {"output_dir": out_dir, **summary(m)}

        files = {"files": [u.filename for u in ups]}
        return _submit(job_type, _work, files, out_dir, tmp)

    @app.get("/api/health")
    def health():
        return jsonify({"status": "ok", "spark_version": spark.version})

    @app.get("/api/jobs")
    def list_jobs():
        with _jobs_lock:
            return jsonify(
                [
                    {k: v for k, v in j.items() if k != "log"}
                    for j in jobs.values()
                ]
            )

    @app.get("/api/jobs/<job_id>")
    def job_status(job_id: str):
        job = jobs.get(job_id)
        if job is None:
            return jsonify({"error": "job not found"}), 404
        return jsonify(job)

    @app.post("/api/jobs/<job_id>/cancel")
    def job_cancel(job_id: str):
        if not cancel_job(spark, job_id):
            return jsonify({"error": "job not found"}), 404
        return jsonify(jobs[job_id])

    @app.get("/api/queries")
    def list_queries():
        return jsonify(sorted(_registry()))

    @app.get("/api/explain/<name>")
    def explain_named_query(name: str):
        """Formatted physical plan of any registered query — the
        engine's EXPLAIN face: lets an operator confirm pushdown /
        join strategy / exchange count over REST without executing
        the query's output. Caveat: queries whose plans embed
        data-derived literals (IVF/k-means centroid families) run
        small bounded driver jobs at plan-BUILD time; those run
        synchronously here. Builder failures (bad sf_dir, missing
        table) return 400, not 500."""
        build = _registered(name)
        sf_dir = request.args.get("sf_dir", DEFAULT_SF_DIR)
        from parquet_extractor_spark.plans.explain import formatted_plan

        try:
            with query_scope(spark):
                plan = formatted_plan(build(spark, sf_dir))
        except Exception as exc:  # surface builder errors as client errors
            return (
                jsonify({"error": f"{type(exc).__name__}: {exc}"[:500]}),
                400,
            )
        # shuffle + broadcast exchanges; ReusedExchange references the
        # same physical exchange, so it must not inflate the count
        n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
        return jsonify(
            {
                "query": name,
                "sf_dir": sf_dir,
                "plan": plan,
                "exchanges": n_exchanges,
            }
        )

    @app.post("/api/query/<name>")
    def run_named_query(name: str):
        """Run any registered analytics query as an async job —
        the REST face of the whole queries() registry (dedup, ANN,
        quality, TPC-H, ...), not just the reference's endpoints."""
        build = _registered(name)
        params = _json_params()
        sf_dir = params.get("sf_dir", DEFAULT_SF_DIR)
        limit = count_param(params, "limit", 20, MAX_QUERY_ROWS)

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"running {name} at {sf_dir} (limit {limit})")
            df = build(spark, sf_dir)
            rows = [
                {
                    k: v
                    if isinstance(v, (int, float, bool, str, type(None)))
                    else str(v)
                    for k, v in r.asDict().items()
                }
                for r in df.limit(limit).collect()
            ]
            job_log(job_id, f"returning {len(rows)} rows")
            return {"query": name, "n_rows": len(rows), "rows": rows}

        return _submit(f"query:{name}", _work, params)

    @app.post("/api/analyze/corpus")
    def analyze_corpus():
        params = _json_params()
        sf_dir = params.get("sf_dir", DEFAULT_SF_DIR)

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"analyzing corpus at {sf_dir}")
            row = corpus_stats(spark, sf_dir).first()
            job_log(job_id, "aggregation complete")
            return row.asDict()

        return _submit("analyze_corpus", _work, params)

    @app.post("/api/extract/documents")
    def extract_documents():
        params = _json_params()
        sf_dir = params.get("sf_dir", DEFAULT_SF_DIR)
        n = count_param(params, "num_docs", 100, MAX_DOCS)
        seed = int_param(params, "seed", 42)
        out_dir = _subdir(params.get("subdir", "markdown"))

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"extracting {n} docs from {sf_dir} -> {out_dir}")
            work = extract_files(spark, sf_dir, n=n, seed=seed)
            result = write_files(work, out_dir)
            job_log(job_id, f"wrote {result['written']} files")
            return result

        return _submit("extract_documents", _work, params, out_dir)

    @app.post("/api/extract/parquet")
    def extract_parquet_upload():
        """S5 (api.py:41-104): multipart upload spooled to a temp dir,
        then the arbitrary-schema extract pipeline over it."""
        if "file" not in request.files:
            raise ParamError("no file provided")
        # default batch 1000 (main.py:205), capped like every job input
        n = count_param(request.form, "num_papers", 1000, MAX_DOCS)
        seed = int_param(request.form, "seed", 42)
        out_dir = _subdir(request.form.get("subdir", "parquet_md"))
        tmp, names = _spool([request.files["file"]], ".parquet")
        (path,) = (os.path.join(tmp, name) for name in names)

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"extracting {n} rows from upload -> {out_dir}")
            work = extract_any_parquet(spark, path, n=n, seed=seed)
            result = write_files(work, out_dir)
            job_log(job_id, f"wrote {result['written']} files")
            return result

        params = {"num_papers": n, "seed": seed}
        return _submit("extract_parquet", _work, params, out_dir, tmp)

    @app.post("/api/extract/pdf")
    def extract_pdf():
        """S9 (api.py:193-383): render per-document PDFs from the
        documents table (the wikir→PDF flow, with the table as the
        corpus source)."""
        params = _json_params()
        sf_dir = params.get("sf_dir", DEFAULT_SF_DIR)
        limit = count_param(params, "limit", 100, MAX_DOCS)
        out_dir = _subdir(params.get("subdir", "pdf"))

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"rendering {limit} PDFs from {sf_dir}")
            docs = (
                load_table(spark, sf_dir, "documents")
                .orderBy("doc_id")
                .limit(limit)
            )
            work = docs.select(
                F.concat(zero_pad(F.col("doc_id")), F.lit(".pdf")).alias(
                    "filename"
                ),
                F.concat(
                    F.lit("Document "), F.col("doc_id").cast("string")
                ).alias("title"),
                "doc_id",
                F.col("text").alias("content"),
            )
            result = write_pdfs(work, out_dir)
            job_log(job_id, f"rendered {result['written']} PDFs")
            return result

        return _submit("extract_pdf", _work, params, out_dir)

    @app.post("/api/ingest/pdftext")
    def ingest_pdftext():
        """PDF ingestion face (beyond reference — the read side of the
        S9 sink): one or more PDFs uploaded multipart, extracted by
        sources/pdf.read_pdf_docs, written as a parquet document table.
        The result previews at most MAX_ERRORS error rows
        (api.py:372,563)."""
        return _ingest(
            "ingest_pdftext", read_pdf_docs, "file_name", ".pdf", "pdf_docs",
            lambda m: {
                "extracted": m["ok"],
                "errors": m["errors"],
                "error_files": [
                    {"file": f, "error": e} for f, e in m["error_rows"]
                ],
            },
        )

    @app.post("/api/ingest/warc")
    def ingest_warc():
        """WARC ingestion face (beyond reference — the Common Crawl
        input path): one or more .warc/.warc.gz files uploaded
        multipart, parsed record-by-record by
        sources/warc.read_warc_docs, written as a parquet record table.
        The generated spool names always match its *.warc* glob, so a
        client name like "segment.gz" still parses."""
        return _ingest(
            "ingest_warc", read_warc_docs, "path", ".warc", "warc_docs",
            lambda m: {
                "records": m["ok"],
                "documents": m["with_text"],
                "errors": m["errors"],
            },
        )

    @app.post("/api/extract/cisi")
    def extract_cisi():
        """S3 face (api.py:106-165): CISI.ALL multipart upload spooled
        to a temp dir → regex split + section-parse pandas_udf →
        file-per-row markdown sink."""
        if "file" not in request.files:
            raise ParamError("no file provided")
        up = request.files["file"]
        if not up.filename:
            raise ParamError("no file selected")
        out_dir = _subdir(request.form.get("subdir", "cisi_papers"))
        tmp, names = _spool([up], ".cisi")
        (path,) = (os.path.join(tmp, name) for name in names)

        def _work(job_id: str) -> dict[str, Any]:
            job_log(job_id, f"parsing CISI upload -> {out_dir}")
            work = cisi_to_markdown(read_cisi(spark, path))
            result = write_files(work, out_dir)
            job_log(job_id, f"wrote {result['written']} files")
            result["file_count"] = len(os.listdir(out_dir))
            return result

        params = {"file": up.filename, "subdir": out_dir}
        return _submit("cisi", _work, params, out_dir, tmp)

    @app.post("/api/extract/wiki")
    def extract_wiki():
        """S6/S7 face (api.py:849-979, the ww2 route generalized):
        category crawl (driver-side member listing, rate-limited
        executor-side page fetch) → file-per-row PDF sink. The network
        seam comes from create_app's ``wiki_adapters``; without an
        injection and without the live libs installed this returns
        503 instead of launching a doomed job."""
        params = _json_params()
        categories = params.get("categories") or WIKI_CRAWL_CATEGORIES
        limit = count_param(params, "limit", 200, MAX_CRAWL_ARTICLES)
        delay_s = seconds_param(params, "delay_s", 1.0)
        out_dir = _subdir(params.get("subdir", "wiki_pdf"))
        try:
            if wiki_adapters is not None:
                list_members, fetch_page = wiki_adapters()
            else:
                list_members = live_list_members()
                fetch_page = live_fetch_page()
        except ImportError as exc:
            return jsonify({"error": f"wiki adapters unavailable: {exc}"}), 503

        def _work(job_id: str) -> dict[str, Any]:
            job_log(
                job_id,
                f"crawling {len(categories)} categories (limit {limit})",
            )
            pages = crawl_category(
                spark, categories, list_members, fetch_page,
                limit=limit, delay_s=delay_s,
            )
            work = pages.select(
                F.concat(
                    sanitize_filename(F.col("title")), F.lit(".pdf")
                ).alias("filename"),
                F.col("title").alias("title"),
                F.col("title").alias("doc_id"),
                F.col("text").alias("content"),
            )
            result = write_pdfs(work, out_dir)
            job_log(job_id, f"rendered {result['written']} PDFs")
            result["file_count"] = len(os.listdir(out_dir))
            return result

        params = {"categories": categories, "limit": limit, "subdir": out_dir}
        return _submit("wiki_crawl", _work, params, out_dir)

    @app.get("/api/files")
    def list_files():
        target = _subdir(request.args.get("subdir", "markdown"))
        if not os.path.isdir(target):
            return jsonify({"files": [], "count": 0})
        names = sorted(os.listdir(target))
        return jsonify(
            {
                "files": [
                    {
                        "name": n,
                        "size": os.path.getsize(os.path.join(target, n)),
                    }
                    for n in names[:1000]
                ],
                "count": len(names),
            }
        )

    @app.get("/api/files/<path:name>")
    def download_file(name: str):
        return send_from_directory(
            _subdir(request.args.get("subdir", "markdown")), name
        )

    @app.delete("/api/files")
    def cleanup_files():
        """S13 cleanup (reference cleanup_wikir.py:22-61): delete a
        subdir's files with size accounting. Driver-side os walk — the
        output root is a driver-local staging area; at cluster scale
        outputs live in object storage and cleanup is a lifecycle rule.
        """
        target = _subdir(request.args.get("subdir", "markdown"))
        if os.path.realpath(target) == os.path.realpath(output_root):
            return jsonify({"error": "refusing to delete output root"}), 400
        deleted, bytes_freed = 0, 0
        if os.path.isdir(target):
            for root, _dirs, names in os.walk(target, topdown=False):
                for n in names:
                    p = os.path.join(root, n)
                    bytes_freed += os.path.getsize(p)
                    os.remove(p)
                    deleted += 1
            shutil.rmtree(target, ignore_errors=True)
        return jsonify({"deleted": deleted, "bytes_freed": bytes_freed})

    return app
