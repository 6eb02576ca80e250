"""Output checks against DuckDB, run outside the timed region.

Queries: each workload query's Spark result (collected in the
untimed cold pass) against its registry ``oracle_sql()`` on the same
generated tables, by the rules of ``tools/check_oracle.py``: columns,
coarse type tags, row count, order-insensitive normalized values.
``check_oracle.run_gate`` itself is not called because it runs every
query again, which would cost a whole extra pass per run.

Service jobs: every job must reach ``completed``; the files on disk
must equal the job's reported ``written`` count; Markdown bodies must
hash-match a DuckDB extract oracle for the request's sampling seed;
PDFs must be the requested documents and well-formed; corpus stats and
query rows must match their registry oracles.

Each check returns ``None`` when the output is right, else a one-line
reason.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections import Counter

import duckdb

from datagen import TABLES

# check_oracle adds its own default repository path to sys.path on
# import; restore sys.path so later imports resolve inside this checkout.
_saved_path = list(sys.path)
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import norm_cell, norm_rows, type_tag  # noqa: E402

sys.path[:] = _saved_path


def compare(spark_side: tuple, duck_side: tuple) -> str | None:
    """Compare ``(columns, type names, rows)`` of both engines."""
    scols, stypes, srows = spark_side
    dcols, dtypes, drows = duck_side
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != {sorted(dcols)}"
    stags = {c: type_tag(t) for c, t in zip(scols, stypes)}
    dtags = {c: type_tag(t) for c, t in zip(dcols, dtypes)}
    if stags != dtags:
        diff = {c: (stags[c], dtags[c]) for c in stags if stags[c] != dtags[c]}
        return f"type tags differ {diff}"
    if len(srows) != len(drows):
        return f"row count {len(srows)} != {len(drows)}"
    sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
    if sn != dn:
        first = next((a, b) for a, b in zip(sn, dn) if a != b)
        return f"values differ, first: {first}"
    return None


class Oracle:
    """DuckDB over the run's generated tables."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def run(self, sql: str) -> tuple:
        rel = self.con.sql(sql)
        return list(rel.columns), [str(t) for t in rel.types], rel.fetchall()

    def close(self) -> None:
        self.con.close()


def spark_side(df) -> tuple:
    return (
        df.columns,
        [f.dataType.simpleString() for f in df.schema.fields],
        [tuple(r) for r in df.collect()],
    )


def extract_oracle_sql(seed: int, n: int, sample_key_sql) -> str:
    """Expected ``(filename, md5(body))`` of an extract/documents job:
    a seeded exact-n sample numbered in sample order, frontmatter of
    the metadata columns, then the title and the text."""
    meta = ["doc_id", "lang", "source", "n_chars"]
    fm = ", ".join(
        f"CASE WHEN {c} IS NOT NULL AND length(CAST({c} AS VARCHAR)) < 1000 "
        f"THEN '{c}: ' || CAST({c} AS VARCHAR) END"
        for c in meta
    )
    return f"""
WITH sampled AS (
    SELECT *, {sample_key_sql("doc_id", seed)} AS _sk
    FROM documents ORDER BY _sk, doc_id LIMIT {n}
), numbered AS (
    SELECT *, row_number() OVER (ORDER BY _sk, doc_id) AS rn FROM sampled
)
SELECT lpad(CAST(rn AS VARCHAR), 4, '0') || '_document_'
           || CAST(doc_id AS VARCHAR) || '.md' AS filename,
       md5(concat_ws(chr(10), '---', {fm}, '---') || chr(10) || chr(10)
           || '# document_' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
           || text) AS body_md5
FROM numbered
"""


def _md5_files(out_dir: str) -> dict[str, str]:
    out = {}
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name), "rb") as fh:
            out[name] = hashlib.md5(fh.read()).hexdigest()
    return out


def _listing(out_dir: str) -> list[str]:
    return sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []


def check_markdown(out_dir: str, result: dict, expected: dict[str, str]) -> str | None:
    files = _listing(out_dir)
    if len(files) != result.get("written"):
        return f"{len(files)} files on disk, job reported {result.get('written')}"
    got = _md5_files(out_dir)
    if got != expected:
        bad = sorted(set(got.items()) ^ set(expected.items()))[:2]
        return f"markdown differs from the extract oracle: {bad}"
    return None


def check_pdfs(out_dir: str, result: dict, expected_names: list[str]) -> str | None:
    files = _listing(out_dir)
    if len(files) != result.get("written"):
        return f"{len(files)} files on disk, job reported {result.get('written')}"
    if files != sorted(expected_names):
        return f"pdf names differ: {sorted(set(files) ^ set(expected_names))[:3]}"
    for name in files:
        with open(os.path.join(out_dir, name), "rb") as fh:
            data = fh.read()
        if not data.startswith(b"%PDF-") or b"%%EOF" not in data[-64:]:
            return f"{name} is not a complete PDF"
    return None


def job_cell(v) -> str:
    """A value as the job API reports it (non-JSON types stringified),
    then normalized."""
    if not isinstance(v, (int, float, bool, str, type(None))):
        v = str(v)
    return norm_cell(v)


def check_rows(result_rows: list[dict], oracle_side: tuple, limit: int) -> str | None:
    """Rows a query job returned must be ``min(limit, n)`` rows drawn
    from the oracle's result (a multiset subset: the job applies an
    unordered limit)."""
    cols, _, rows = oracle_side
    want = Counter(tuple(job_cell(r[i]) for i in range(len(cols))) for r in rows)
    got = Counter(tuple(job_cell(r.get(c)) for c in cols) for r in result_rows)
    if sum(got.values()) != min(limit, len(rows)):
        return f"{sum(got.values())} rows, expected {min(limit, len(rows))}"
    extra = got - want
    if extra:
        return f"rows not in the oracle result: {list(extra)[:2]}"
    return None
