"""WARC web-archive source — the Common Crawl ingestion path.

The reference ingests documents from parquet, uploads, and a wiki
crawl (reference api.py:106-165, 849-979); a corpus-scale training
pipeline's single largest input is WARC — Common Crawl alone ships
~100 TB per monthly crawl as ``.warc.gz``. This module reads that
format with the repo's multimodal policy: ``binaryFile`` scan
distributes file splits, all parsing happens executor-side inside ONE
Arrow ``mapInPandas`` stage, bytes stay opaque to the planner, and a
malformed file or record lands in the ``error`` column (PERMISSIVE —
a real crawl always contains garbage and one bad record must not kill
the job).

Format coverage (ISO 28500 / WARC 1.0-1.1, public spec):

* record grammar — ``WARC/1.x`` version line, named header fields,
  CRLF CRLF, ``Content-Length`` octets of block, CRLF CRLF;
* record-at-time gzip (each record its own gzip member — the Common
  Crawl layout for splittable seeks), whole-file gzip, and plain
  uncompressed files, auto-detected;
* all record types surfaced (warcinfo / request / response /
  metadata / resource / conversion / revisit); text extraction runs
  on ``response`` (HTTP payload) and ``resource``/``conversion``
  (direct payload) records;
* HTTP payload handling — status line + headers split, chunked
  Transfer-Encoding de-chunked, Content-Encoding gzip/deflate
  decoded, charset from the Content-Type parameter (fallback UTF-8
  with replacement);
* HTML → text: comments and script/style blocks removed, block-level
  tags become line breaks, remaining tags stripped, entities
  unescaped (stdlib ``html``), whitespace normalized per line — the
  WET-style conversion a text pipeline runs first.

Scale shape: one WARC file is one ``binaryFile`` row, so a 90k-file
Common Crawl segment listing fans out across the cluster with no
driver involvement beyond file listing; per-task memory is one Arrow
batch of files. Record-at-time gzip members are decompressed
sequentially per file — the same work any WARC reader does — and
nothing is retained across records. The writer (``build_warc``) emits
spec-conformant bytes for round-trip tests and landing-zone fixtures.
"""

from __future__ import annotations

import codecs
import gzip
import html as _html
import io
import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_CRLF2 = b"\r\n\r\n"
_CHARSET_RE = re.compile(r"charset=[\"']?([\w.:-]+)", re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I
)
_BLOCK_TAG_RE = re.compile(
    r"</?(?:p|div|br|li|ul|ol|tr|table|h[1-6]|section|article|header"
    r"|footer|blockquote|pre|title)\b[^>]*>",
    re.I,
)
_TAG_RE = re.compile(r"<[^>]*>", re.S)


# ---------------------------------------------------------------- bytes


def iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of independent gzip members (the
    record-at-time layout of ``.warc.gz``), yielding each member's
    payload. Raises ValueError on a corrupt member."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(data[pos:])
            out += d.flush()
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member at {pos}: {exc}")
        if not d.eof:
            raise ValueError(f"truncated gzip member at {pos}")
        yield out
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:  # defensive: zero-length member loop guard
            raise ValueError(f"gzip member at {pos} consumed no bytes")
        pos += consumed


def parse_warc(data: bytes) -> list[tuple[str, dict[str, str], bytes]]:
    """All records of one WARC file as (version, headers, block)
    triples; headers lower-cased. Accepts record-at-time gzip,
    whole-file gzip, or plain bytes."""
    if data[:2] == b"\x1f\x8b":
        data = b"".join(iter_gzip_members(data))
    records: list[tuple[str, dict[str, str], bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        idx = data.find(b"WARC/", pos)
        if idx == -1:
            if data[pos:].strip():
                raise ValueError(f"non-record bytes at offset {pos}")
            break
        hdr_end = data.find(_CRLF2, idx)
        if hdr_end == -1:
            raise ValueError(f"unterminated record header at {idx}")
        head = data[idx:hdr_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        version = lines[0].strip()
        if not re.fullmatch(r"WARC/\d+\.\d+", version):
            raise ValueError(f"bad WARC version line: {version!r}")
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"record at {idx} lacks Content-Length")
        block = data[hdr_end + 4 : hdr_end + 4 + clen]
        if len(block) < clen:
            raise ValueError(f"truncated record block at {idx}")
        records.append((version, headers, block))
        pos = hdr_end + 4 + clen
    return records


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-coding body."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol == -1:
            raise ValueError("truncated chunk size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        size = int(size_tok, 16)
        if size == 0:
            break
        start = eol + 2
        out += body[start : start + size]
        pos = start + size + 2  # skip chunk-data CRLF
    return bytes(out)


def split_http_response(
    block: bytes,
) -> tuple[int | None, dict[str, str], bytes]:
    """(status, headers, decoded body) from a raw HTTP response
    payload: splits head/body, de-chunks, and removes gzip/deflate
    content-encoding."""
    sep = block.find(_CRLF2)
    if sep == -1:
        raise ValueError("no HTTP header/body separator")
    head = block[:sep].decode("iso-8859-1")
    lines = head.split("\r\n")
    parts = lines[0].split()
    status = (
        int(parts[1])
        if len(parts) >= 2 and parts[0].startswith("HTTP/") and parts[1].isdigit()
        else None
    )
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        if ":" in ln:
            k, v = ln.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    body = block[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower()
    if enc == "gzip":
        body = gzip.GzipFile(fileobj=io.BytesIO(body)).read()
    elif enc == "deflate":
        body = zlib.decompress(body, -zlib.MAX_WBITS)
    return status, headers, body


def decode_charset(body: bytes, content_type: str) -> str:
    """Decode ``body`` using the Content-Type charset parameter when
    it names a real codec, else UTF-8; undecodable bytes are
    replaced, never fatal."""
    m = _CHARSET_RE.search(content_type or "")
    if m:
        try:
            codecs.lookup(m.group(1))
            return body.decode(m.group(1), "replace")
        except LookupError:
            pass
    return body.decode("utf-8", "replace")


def html_to_text(doc: str) -> str:
    """WET-style HTML → text: drop comments and script/style blocks,
    turn block-level tags into line breaks, strip remaining tags,
    unescape entities, and normalize whitespace per line."""
    doc = _COMMENT_RE.sub(" ", doc)
    doc = _SCRIPT_RE.sub(" ", doc)
    doc = _BLOCK_TAG_RE.sub("\n", doc)
    doc = _TAG_RE.sub(" ", doc)
    doc = _html.unescape(doc)
    lines = (" ".join(ln.split()) for ln in doc.split("\n"))
    return "\n".join(ln for ln in lines if ln)


def record_text(
    headers: dict[str, str], block: bytes
) -> tuple[int | None, str | None, str | None]:
    """(http_status, payload content type, extracted text) for one
    record, or (None, None, None) for record types that carry no
    document payload (warcinfo / request / metadata / revisit)."""
    rtype = headers.get("warc-type", "")
    ctype = headers.get("content-type", "")
    if rtype == "response" and ctype.lower().startswith("application/http"):
        status, http_headers, body = split_http_response(block)
        payload_type = http_headers.get("content-type", "")
    elif rtype in ("resource", "conversion"):
        status, payload_type, body = None, ctype, block
    else:
        return None, None, None
    base = payload_type.split(";", 1)[0].strip().lower()
    if base and not (base.startswith("text/") or base.endswith("html")):
        return status, payload_type, None  # non-text payload: typed, no text
    text = decode_charset(body, payload_type)
    if "html" in base:
        text = html_to_text(text)
    return status, payload_type, text


# ---------------------------------------------------------------- writer


def build_warc_record(
    warc_type: str,
    record_id: str,
    date: str,
    block: bytes,
    target_uri: str | None = None,
    content_type: str | None = None,
) -> bytes:
    """One spec-conformant WARC/1.0 record."""
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode() + b">",
        b"WARC-Date: " + date.encode(),
    ]
    if target_uri is not None:
        lines.append(b"WARC-Target-URI: " + target_uri.encode())
    if content_type is not None:
        lines.append(b"Content-Type: " + content_type.encode())
    lines.append(b"Content-Length: " + str(len(block)).encode())
    return b"\r\n".join(lines) + _CRLF2 + block + _CRLF2


def build_http_response(
    body: bytes,
    content_type: str = "text/html; charset=utf-8",
    status: int = 200,
    chunked: bool = False,
    content_encoding: str | None = None,
) -> bytes:
    """A raw HTTP response payload for a ``response`` record,
    optionally chunked and/or content-encoded — the wire shapes a
    crawler actually stores."""
    if content_encoding == "gzip":
        body = gzip.compress(body, mtime=0)
    elif content_encoding == "deflate":
        c = zlib.compressobj(wbits=-zlib.MAX_WBITS)
        body = c.compress(body) + c.flush()
    headers = [
        f"HTTP/1.1 {status} OK".encode(),
        b"Content-Type: " + content_type.encode(),
    ]
    if content_encoding:
        headers.append(b"Content-Encoding: " + content_encoding.encode())
    if chunked:
        headers.append(b"Transfer-Encoding: chunked")
        mid = max(1, len(body) // 2)
        chunks = [body[:mid], body[mid:]] if body else []
        wire = b"".join(
            b"%x\r\n" % len(c) + c + b"\r\n" for c in chunks if c
        )
        body = wire + b"0\r\n\r\n"
    else:
        headers.append(b"Content-Length: " + str(len(body)).encode())
    return b"\r\n".join(headers) + _CRLF2 + body


def build_warc(records: list[bytes], per_record_gzip: bool = True) -> bytes:
    """Concatenate records into one ``.warc`` / ``.warc.gz`` file.
    ``per_record_gzip`` emits the Common Crawl record-at-time member
    layout; False emits plain bytes (gzip the result yourself for the
    whole-file variant)."""
    if per_record_gzip:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


# ---------------------------------------------------------------- spark

WARC_DOCS_SCHEMA = (
    "path string, record_seq int, warc_type string, record_id string, "
    "target_uri string, warc_date string, http_status int, "
    "content_type string, text string, n_bytes bigint, error string"
)


def extract_warc_frame(files: DataFrame) -> DataFrame:
    """(path, content) frame -> one row per WARC record, text
    extracted for document-bearing types. Shared by the batch and
    streaming readers; a file whose container is corrupt yields ONE
    row with ``error`` set, and a record whose payload fails to parse
    keeps its row with ``error`` set — the job never dies."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "path", "record_seq", "warc_type", "record_id", "target_uri",
            "warc_date", "http_status", "content_type", "text", "n_bytes",
            "error",
        ]
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    records = parse_warc(bytes(content))
                except Exception as exc:
                    rows.append(
                        (path, None, None, None, None, None, None, None,
                         None, None, f"{type(exc).__name__}: {exc}"[:200])
                    )
                    continue
                for seq, (_v, headers, block) in enumerate(records):
                    base = (
                        path,
                        seq,
                        headers.get("warc-type"),
                        headers.get("warc-record-id"),
                        headers.get("warc-target-uri"),
                        headers.get("warc-date"),
                    )
                    try:
                        status, ptype, text = record_text(headers, block)
                        rows.append(
                            base + (status, ptype, text, len(block), None)
                        )
                    except Exception as exc:
                        rows.append(
                            base
                            + (None, None, None, len(block),
                               f"{type(exc).__name__}: {exc}"[:200])
                        )
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(_extract, schema=WARC_DOCS_SCHEMA)


def read_warc_docs(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed WARC ingestion: binaryFile scan → Arrow mapInPandas
    record parsing + text extraction. One row per record; malformed
    containers/records keep a row with ``error`` set (PERMISSIVE)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(directory)
        .select("path", "content")
    )
    return extract_warc_frame(files)
