"""Markdown-with-frontmatter source — the inverse of the S8 sink.

The reference's flagship flow writes one ``.md`` file per document
with YAML-ish frontmatter (reference main.py:85-103); this source
reads a directory of such files back into a typed frame, closing the
sink↔source loop the same way sources/pdf.py closes it for S9.

Unlike the PDF source (binary codec work → Arrow mapInPandas), the
markdown parse is ENTIRELY JVM-side Column expressions — regexp
extraction for the frontmatter block / heading / content, and
higher-order array functions to turn ``key: value`` lines into a
``map<string,string>``. Zero Python in the per-row path, so the read
scales exactly like any codegen'd scan: distributed file splits from
binaryFile, whole-stage-codegen parse, no serialization boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (?s) so .*? crosses newlines; anchored at file start.
_FM_RE = r"(?s)^---\n(.*?)\n---"
_TITLE_RE = r"(?s)\n# ([^\n]*)\n"
_CONTENT_RE = r"(?s)\n# [^\n]*\n\n(.*)$"


def parse_markdown_columns(body):
    """(meta map, title, content) Column triple from a markdown body
    Column — shared by the batch reader and any streaming caller."""
    fm_block = F.regexp_extract(body, _FM_RE, 1)

    def _entry(line):
        # key = text before the FIRST ': '; value = the remainder
        # (values may themselves contain ': ')
        key = F.substring_index(line, ": ", 1)
        value = F.substring(
            line, F.length(key) + F.lit(3), F.length(line)
        )
        return F.struct(key.alias("key"), value.alias("value"))

    entries = F.filter(
        F.transform(F.split(fm_block, "\n"), _entry),
        # blank lines and lines without a ': ' separator parse to an
        # empty value — drop them
        lambda e: (e["key"] != F.lit("")) & (e["value"] != F.lit("")),
    )
    meta = F.map_from_entries(entries)
    title = F.regexp_extract(body, _TITLE_RE, 1)
    content = F.regexp_extract(body, _CONTENT_RE, 1)
    return meta, title, content


def read_markdown_docs(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed markdown ingestion: binaryFile scan → codegen'd
    frontmatter/heading/content parse. Files without a frontmatter
    block still yield a row (empty meta, whole file unmatched by the
    content anchor) — garbage tolerance without a Python boundary.
    Output: (path, file_name, meta map<string,string>, title,
    content)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.md")
        .load(directory)
        .select("path", F.decode("content", "UTF-8").alias("body"))
    )
    meta, title, content = parse_markdown_columns(F.col("body"))
    return files.select(
        "path",
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        meta.alias("meta"),
        title.alias("title"),
        content.alias("content"),
    )
