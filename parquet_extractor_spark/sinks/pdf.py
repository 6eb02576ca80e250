"""PDF sink (SURVEY §2.1 S9, api.py:256-342 / 761-821).

A PDF job is one Spark pass: the shared driver-side writer loop of
``sinks/markdown.py``, whose per-row step cleans the title and
content with ``pdf_ready`` and then renders them. The cleanup is
plain Python in the driver's render loop on purpose. A pandas UDF for
the HTML unescape, say, would start a PySpark worker for its task,
0.15-0.33 s fixed on a 4-vCPU host, while rendering 200 documents on
the driver takes 0.02-0.03 s.

The render itself is the pure-Python PDF 1.4 writer in
``sinks/pdfwriter.py`` — real, viewer-openable PDFs with no external
dependency (the reference renders with fpdf).
Existing files are overwritten.
"""

from __future__ import annotations

import html
import re

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from parquet_extractor_spark.constants import (
    PDF_CHUNK_SIZE,
    PDF_CONTENT_CAP,
    PDF_TITLE_CAP,
)
from parquet_extractor_spark.sinks.markdown import _write_rows
from parquet_extractor_spark.sinks.pdfwriter import render_pdf

_NON_ASCII = re.compile(r"[^\x00-\x7F]")
# non-ASCII, or a control character other than tab/newline/CR
_NON_ASCII_OR_CONTROL = re.compile(r"[^\t\n\r\x20-\x7F]")


def pdf_ready(title: str | None, content: str | None) -> tuple[str, str]:
    """The reference's pre-render cleanup, in its order. Content: HTML
    unescape (api.py:312), non-ASCII to a space (api.py:324), control
    characters except tab/newline/CR to a space (api.py:802), then the
    50k cap (api.py:327). Title: non-ASCII to ``_`` (api.py:277), then
    the 80-char cap (api.py:271). A missing title or content is
    ``""``."""
    content = _NON_ASCII_OR_CONTROL.sub(" ", html.unescape(content or ""))
    content = content[:PDF_CONTENT_CAP]
    title = _NON_ASCII.sub("_", title or "")[:PDF_TITLE_CAP]
    return title, content


def _chunks(text: str) -> list[str]:
    """1000-char chunking before multi_cell render (api.py:793)."""
    n = PDF_CHUNK_SIZE
    return [text[i : i + n] for i in range(0, len(text), n)] or [""]


def render_pdf_bytes(title: str, doc_id: str, content: str) -> bytes:
    """Render one document to real PDF bytes: bold title, Document ID
    line, then the 1000-char chunks in the reference's render order
    (api.py:774-796) — via the dependency-free PDF 1.4 writer."""
    return render_pdf(title, doc_id, _chunks(content))


def _render_row(row: Row) -> bytes:
    title, content = pdf_ready(row["title"], row["content"])
    return render_pdf_bytes(title, row["doc_id"] or "", content)


def write_pdfs(df: DataFrame, out_dir: str) -> dict:
    """Render one PDF per (filename, title, doc_id, content) row,
    overwriting existing files. Returns {"written": n, "failed": n}; a
    failed row (unsafe filename, render or write error) does not abort
    the job."""
    doc_id = F.col("doc_id").cast("string").alias("doc_id")
    work = df.select("filename", "title", doc_id, "content")
    result = _write_rows(work, out_dir, _render_row, skip_existing=False)
    return {"written": result["written"], "failed": result["failed"]}
