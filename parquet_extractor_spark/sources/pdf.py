"""PDF text-extraction source — the inverse of the PDF sink.

The reference EMITS per-document PDFs (reference api.py:256-342,
761-821) but never reads them back; a corpus-scale training pipeline
ingests PDFs constantly, so the read side is first-class here. Scan
with ``binaryFile`` (distributed file splits, lazy listing), extract
text per file inside ONE Arrow ``mapInPandas`` stage — the multimodal
policy: bytes stay opaque to the planner, Python cost is per-file and
Arrow-batched, and a malformed file lands in the ``error`` column
(the PERMISSIVE contract of sources/jsonl.py), never failing the job.

The extractor covers the PDF 1.4 subset a text pipeline actually
meets — and everything our own ``sinks/pdfwriter.py`` emits, which
the round-trip test pins:

* body-scan object parsing (``N G obj`` … ``endobj``), robust to
  binary stream payloads via /Length-guided skipping with an
  ``endstream`` fallback;
* page ordering from the catalog's /Pages → /Kids walk (recursive,
  cycle-guarded), falling back to object-number order of /Type /Page
  objects when the tree is damaged;
* uncompressed and FlateDecode content streams;
* literal strings (balanced parens, all escape forms, octal) and hex
  strings; text shown via Tj, TJ arrays, ' and "; line breaks from
  T*, ', " and Td/TD with a vertical displacement.

Declared boundaries (reported in ``error``, never silent): encrypted
files (/Encrypt), non-Flate filters (DCT/LZW/ASCII85…), PDF 1.5+
object streams (ObjStm) — production swaps in pdfminer/PyMuPDF
inside the same mapInPandas stage.
"""

from __future__ import annotations

import os
import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_WS = b" \t\r\n\x00\x0c"
_DELIM = b"()<>[]{}/%"
_ESCAPES = {
    b"n": b"\n",
    b"r": b"\r",
    b"t": b"\t",
    b"b": b"\b",
    b"f": b"\f",
    b"(": b"(",
    b")": b")",
    b"\\": b"\\",
}


def _dict_direct_int(d: bytes, key: bytes) -> int | None:
    """Value of ``key`` when it is a DIRECT integer (``/Length 42``);
    None for absent or indirect (``/Length 3 0 R``) values."""
    m = re.search(key + rb"\s+(\d+)(?!\s+\d+\s+R)", d)
    return int(m.group(1)) if m else None


def _parse_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """num -> (dict/body bytes, stream bytes or None). A sequential
    cursor walk: streams are skipped via their direct /Length when it
    checks out (binary payloads may contain 'endobj'), else by the
    next ``endstream`` marker."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    n = len(data)
    while pos < n:
        m = _OBJ_RE.search(data, pos)
        if not m:
            break
        num = int(m.group(1))
        start = m.end()
        s_idx = data.find(b"stream", start)
        e_idx = data.find(b"endobj", start)
        if e_idx >= 0 and (s_idx < 0 or e_idx < s_idx):
            # last definition wins: incremental updates APPEND a
            # redefined object, and without parsing xref chains the
            # newest body is the right pick
            objs[num] = (data[start:e_idx], None)
            pos = e_idx + 6
            continue
        if s_idx < 0:
            break
        dict_part = data[start:s_idx]
        p = s_idx + 6
        if data[p : p + 2] == b"\r\n":
            p += 2
        elif data[p : p + 1] in (b"\n", b"\r"):
            p += 1
        length = _dict_direct_int(dict_part, rb"/Length")
        if length is not None and b"endstream" in data[p + length : p + length + 32]:
            stream = data[p : p + length]
            pe = data.find(b"endstream", p + length)
        else:
            pe = data.find(b"endstream", p)
            stream = data[p:pe].rstrip(b"\r\n") if pe >= 0 else b""
        if pe < 0:
            break
        objs[num] = (dict_part, stream)  # last definition wins (see above)
        e_idx = data.find(b"endobj", pe)
        pos = (e_idx + 6) if e_idx >= 0 else (pe + 9)
    return objs


def _decode_stream(dict_part: bytes, stream: bytes) -> bytes:
    if b"/Filter" not in dict_part:
        return stream
    if b"/FlateDecode" in dict_part:
        try:
            return zlib.decompress(stream)
        except zlib.error as exc:
            raise ValueError(f"corrupt FlateDecode stream: {exc}") from exc
    raise ValueError("unsupported stream filter (only FlateDecode)")


def _page_order(objs: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Page object numbers in document order via the catalog's Kids
    walk; object-number order of /Type /Page objects as fallback."""
    catalog = next(
        (
            body
            for body, _s in objs.values()
            if re.search(rb"/Type\s*/Catalog\b", body)
        ),
        None,
    )
    pages: list[int] = []
    if catalog is not None:
        m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", catalog)
        if m:
            seen: set[int] = set()

            def walk(num: int) -> None:
                if num in seen or num not in objs:
                    return
                seen.add(num)
                body = objs[num][0]
                if re.search(rb"/Type\s*/Page\b", body):
                    pages.append(num)
                    return
                km = re.search(rb"/Kids\s*\[([^\]]*)\]", body)
                if km:
                    for r in _REF_RE.finditer(km.group(1)):
                        walk(int(r.group(1)))

            walk(int(m.group(1)))
    if not pages:
        pages = sorted(
            num
            for num, (body, _s) in objs.items()
            if re.search(rb"/Type\s*/Page\b", body)
        )
    return pages


def _content_streams(
    page_body: bytes, objs: dict[int, tuple[bytes, bytes | None]]
) -> list[bytes]:
    m = re.search(
        rb"/Contents\s*(?:\[([^\]]*)\]|(\d+)\s+\d+\s+R)", page_body
    )
    if not m:
        return []
    refs = (
        [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
        if m.group(1) is not None
        else [int(m.group(2))]
    )
    out = []
    for num in refs:
        body, stream = objs.get(num, (b"", None))
        if stream is not None:
            out.append(_decode_stream(body, stream))
    return out


def _tokens(stream: bytes):
    """Minimal content-stream tokenizer: ('str', bytes),
    ('num', float), ('name', bytes), ('arr_open'/'arr_close', None),
    ('op', bytes)."""
    i, n = 0, len(stream)
    while i < n:
        c = stream[i : i + 1]
        if c in _WS:
            i += 1
            continue
        if c == b"%":
            j = stream.find(b"\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == b"(":
            depth, i = 1, i + 1
            out = bytearray()
            while i < n and depth > 0:
                ch = stream[i : i + 1]
                if ch == b"\\":
                    nxt = stream[i + 1 : i + 2]
                    if nxt in _ESCAPES:
                        out += _ESCAPES[nxt]
                        i += 2
                    elif nxt.isdigit():
                        j = i + 1
                        while j < min(n, i + 4) and stream[j : j + 1].isdigit():
                            j += 1
                        out.append(int(stream[i + 1 : j], 8) & 0xFF)
                        i = j
                    elif nxt in (b"\n", b"\r"):  # line continuation
                        i += 2
                        if nxt == b"\r" and stream[i : i + 1] == b"\n":
                            i += 1
                    else:
                        out += nxt
                        i += 2
                elif ch == b"(":
                    depth += 1
                    out += ch
                    i += 1
                elif ch == b")":
                    depth -= 1
                    if depth:
                        out += ch
                    i += 1
                else:
                    out += ch
                    i += 1
            yield ("str", bytes(out))
            continue
        if stream[i : i + 2] == b"<<":
            yield ("op", b"<<")
            i += 2
            continue
        if c == b"<":
            j = stream.find(b">", i)
            raw = stream[i + 1 : j] if j > 0 else b""
            hx = bytes(b for b in raw if chr(b) in "0123456789abcdefABCDEF")
            if len(hx) % 2:
                hx += b"0"
            yield ("str", bytes.fromhex(hx.decode("ascii")))
            i = (j + 1) if j > 0 else n
            continue
        if stream[i : i + 2] == b">>":
            yield ("op", b">>")
            i += 2
            continue
        if c == b"[":
            yield ("arr_open", None)
            i += 1
            continue
        if c == b"]":
            yield ("arr_close", None)
            i += 1
            continue
        if c == b"/":
            j = i + 1
            while j < n and stream[j : j + 1] not in _WS + _DELIM:
                j += 1
            yield ("name", stream[i:j])
            i = j
            continue
        j = i
        while j < n and stream[j : j + 1] not in _WS + _DELIM:
            j += 1
        tok = stream[i:j] or c
        i = max(j, i + 1)
        try:
            yield ("num", float(tok))
        except ValueError:
            yield ("op", tok)


def _stream_lines(stream: bytes) -> list[str]:
    """Shown text grouped into lines: Tj/TJ/'/\" append to the current
    line; T*, ', \" and Td/TD with a nonzero vertical displacement
    start a new one."""
    lines: list[list[str]] = [[]]
    operands: list[tuple] = []
    in_array = False
    array: list[tuple] = []

    def show(val: bytes) -> None:
        lines[-1].append(val.decode("latin-1", "replace"))

    for kind, val in _tokens(stream):
        if kind == "arr_open":
            in_array, array = True, []
        elif kind == "arr_close":
            in_array = False
            operands.append(("arr", array))
        elif kind in ("str", "num", "name"):
            (array if in_array else operands).append((kind, val))
        else:  # operator
            if val == b"Tj":
                if operands and operands[-1][0] == "str":
                    show(operands[-1][1])
            elif val == b"TJ":
                if operands and operands[-1][0] == "arr":
                    for k, v in operands[-1][1]:
                        if k == "str":
                            show(v)
            elif val in (b"'", b'"'):
                lines.append([])
                if operands and operands[-1][0] == "str":
                    show(operands[-1][1])
            elif val == b"T*":
                lines.append([])
            elif val in (b"Td", b"TD"):
                nums = [v for k, v in operands if k == "num"]
                if len(nums) >= 2 and nums[-1] != 0 and lines[-1]:
                    lines.append([])
            operands = []
    out = ["".join(parts) for parts in lines]
    while out and not out[-1]:
        out.pop()
    return out


def extract_pdf_text(data: bytes) -> tuple[int, str]:
    """(n_pages, text) from PDF bytes; raises ValueError on files
    outside the declared subset."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    if re.search(rb"/Encrypt\s+\d+\s+\d+\s+R", data):
        raise ValueError("encrypted PDF")
    objs = _parse_objects(data)
    if not objs:
        raise ValueError("no objects parsed")
    page_texts = []
    for num in _page_order(objs):
        lines: list[str] = []
        for stream in _content_streams(objs[num][0], objs):
            lines.extend(_stream_lines(stream))
        page_texts.append("\n".join(lines))
    if not page_texts:
        raise ValueError("no pages found")
    return len(page_texts), "\n".join(page_texts)


PDF_DOCS_SCHEMA = (
    "path string, file_name string, n_pages int, text string, error string"
)


def extract_docs_frame(files: DataFrame) -> DataFrame:
    """mapInPandas extraction over any (path, content) frame — batch
    scan or streaming source alike (the extraction is stateless, so it
    composes onto a streaming frame unchanged; streaming/pdf.py is the
    continuous-ingest twin)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    n_pages, text = extract_pdf_text(bytes(content))
                    rows.append(
                        (path, os.path.basename(path), n_pages, text, None)
                    )
                except Exception as exc:
                    rows.append(
                        (
                            path,
                            os.path.basename(path),
                            None,
                            None,
                            f"{type(exc).__name__}: {exc}"[:200],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["path", "file_name", "n_pages", "text", "error"],
            )

    return files.mapInPandas(_extract, schema=PDF_DOCS_SCHEMA)


def read_pdf_docs(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed PDF ingestion: binaryFile scan → Arrow mapInPandas
    extraction. One row per file; malformed files keep their row with
    ``error`` set and NULL text (PERMISSIVE — a 100 TB crawl always
    contains garbage and one bad file must not kill the job)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(directory)
        .select("path", "content")
    )
    return extract_docs_frame(files)
