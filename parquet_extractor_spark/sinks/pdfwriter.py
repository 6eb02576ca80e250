"""Minimal pure-Python PDF 1.4 writer (SURVEY §2.1 S9).

The reference renders per-document PDFs with fpdf (api.py:256-342,
api.py:761-821); fpdf isn't installed in this container, and a sink
that emits non-PDF bytes fails the reference's flagship wikir→PDF
flow. PDF 1.4 is a public Adobe spec, and the subset needed here —
catalog, page tree, Helvetica text streams, an xref table — is ~150
lines, so the renderer is implemented directly and runs everywhere.

Layout mirrors the reference's render loop: bold 14pt title
(api.py:774-776), 10pt "Document ID: …" line (api.py:779-781), then
11pt body chunks via multi_cell-style line wrapping (api.py:789-796).
The file sinks call :func:`render_pdf` per row on the driver, as
rows arrive from ``toLocalIterator`` — no shared state,
byte-deterministic output.
"""

from __future__ import annotations

import textwrap

PAGE_W, PAGE_H = 612, 792  # US Letter, points
MARGIN = 72
WRAP_COLS = 88  # ~6.5in at 11pt Helvetica average glyph width
LINES_PER_PAGE = 54


def _esc(s: str) -> str:
    """PDF literal-string escaping for (, ) and backslash."""
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _wrap(text: str, width: int = WRAP_COLS) -> list[str]:
    out: list[str] = []
    for raw in text.split("\n"):
        if not raw:
            out.append("")
            continue
        out.extend(
            textwrap.wrap(
                raw, width=width, break_long_words=True, drop_whitespace=False
            )
            or [""]
        )
    return out


def _layout(title: str, doc_id: str, chunks: list[str]) -> list[list[tuple]]:
    """Flatten (font, size, text) lines, then paginate."""
    lines: list[tuple] = []
    for t in _wrap(title, 70) or [""]:
        lines.append(("F2", 14, t))
    lines.append(("F1", 10, f"Document ID: {doc_id}"))
    lines.append(("F1", 11, ""))
    for chunk in chunks:
        for t in _wrap(chunk):
            lines.append(("F1", 11, t))
    pages = [
        lines[i : i + LINES_PER_PAGE]
        for i in range(0, len(lines), LINES_PER_PAGE)
    ]
    return pages or [[("F1", 11, "")]]


def _page_stream(page_lines: list[tuple]) -> bytes:
    ops = ["BT", f"1 0 0 1 {MARGIN} {PAGE_H - MARGIN} Tm", "13 TL"]
    cur = None
    for font, size, text in page_lines:
        if (font, size) != cur:
            ops.append(f"/{font} {size} Tf")
            cur = (font, size)
        ops.append(f"({_esc(text)}) Tj T*")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1", "replace")


def render_pdf(title: str, doc_id: str, content_chunks: list[str]) -> bytes:
    """One document → complete PDF 1.4 file bytes (header, page tree,
    content streams, xref, trailer)."""
    pages = _layout(title or "", doc_id or "", content_chunks)

    # object numbering: 1 catalog, 2 pages, 3 F1, 4 F2, then per page
    # i: (5+2i) page dict, (6+2i) its content stream
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{5 + 2 * i} 0 R" for i in range(len(pages)))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>"
    ).encode()
    objs[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    objs[4] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>"
    )
    for i, page_lines in enumerate(pages):
        stream = _page_stream(page_lines)
        objs[5 + 2 * i] = (
            f"<< /Type /Page /Parent 2 0 R "
            f"/MediaBox [0 0 {PAGE_W} {PAGE_H}] "
            f"/Resources << /Font << /F1 3 0 R /F2 4 0 R >> >> "
            f"/Contents {6 + 2 * i} 0 R >>"
        ).encode()
        objs[6 + 2 * i] = (
            f"<< /Length {len(stream)} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(buf)
    n = len(objs) + 1
    buf += f"xref\n0 {n}\n".encode()
    buf += b"0000000000 65535 f \n"
    for num in sorted(objs):
        buf += f"{offsets[num]:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {n} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(buf)
