import html
import os

from pyspark.sql import functions as F

from parquet_extractor_spark.operators.extract import (
    SAMPLE_N,
    deterministic_sample,
    extract_any_parquet,
    extract_files,
    extract_plan,
)
from parquet_extractor_spark.plans.explain import formatted_plan
from parquet_extractor_spark.sinks.markdown import write_files
from parquet_extractor_spark.sinks.pdf import (
    _chunks,
    pdf_ready,
    render_pdf_bytes,
    write_pdfs,
)
from parquet_extractor_spark.constants import PDF_CONTENT_CAP, PDF_TITLE_CAP
from parquet_extractor_spark.functions.text import zero_pad
from parquet_extractor_spark.sources.tables import load_table, local_frame


def test_sample_is_deterministic_and_exact_n(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    s1 = [r.doc_id for r in deterministic_sample(docs, "doc_id", 50).collect()]
    s2 = [r.doc_id for r in deterministic_sample(docs, "doc_id", 50).collect()]
    assert s1 == s2
    assert len(s1) == 50
    # different seed -> different sample
    s3 = [
        r.doc_id
        for r in deterministic_sample(docs, "doc_id", 50, seed=7).collect()
    ]
    assert s1 != s3


def test_sample_caps_at_table_size(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    n = docs.count()
    got = deterministic_sample(docs, "doc_id", n + 1000).count()
    assert got == n


def test_extract_plan_shape(spark, sf_small):
    df = extract_plan(spark, sf_small, n=10)
    rows = df.collect()
    assert len(rows) == 10
    for r in rows:
        assert r.filename.endswith(".md")
        assert r.filename[:4].isdigit()
        assert r.frontmatter.startswith("---\n")
        assert r.frontmatter.endswith("\n---")
        assert f"doc_id: {r.doc_id}" in r.frontmatter


def test_markdown_sink_roundtrip(spark, sf_small, tmp_path):
    out = str(tmp_path / "md")
    res = write_files(extract_files(spark, sf_small, n=15), out)
    assert res == {"written": 15, "skipped": 0, "failed": 0}
    files = sorted(os.listdir(out))
    assert len(files) == 15
    body = open(os.path.join(out, files[0]), encoding="utf-8").read()
    assert body.startswith("---\n")
    assert "# document_" in body
    # idempotent re-run skips everything (J2 semantics, api.py:248-254)
    res2 = write_files(extract_files(spark, sf_small, n=15), out)
    assert res2 == {"written": 0, "skipped": 15, "failed": 0}


def test_markdown_sink_counts_row_errors(spark, tmp_path):
    out = str(tmp_path / "errs")
    df = spark.createDataFrame(
        [("ok.md", "fine"), ("bad/../../name/x.md", "boom")],
        ["filename", "body"],
    )
    res = write_files(df, out)
    assert res["written"] == 1
    assert res["failed"] == 1  # per-row tolerance (api.py:344-346)


def test_pdf_chunking_caps():
    # 50k cap and 1000-char chunks (api.py:327, api.py:793)
    title, content = pdf_ready("T" * 200 + "é", "x" * (PDF_CONTENT_CAP + 5000))
    assert len(title) == PDF_TITLE_CAP
    assert len(content) == PDF_CONTENT_CAP
    chunks = _chunks(content)
    assert all(len(c) <= 1000 for c in chunks)
    assert sum(len(c) for c in chunks) == PDF_CONTENT_CAP


def test_pdf_sink_writes_files(spark, tmp_path):
    out = str(tmp_path / "pdf")
    df = spark.createDataFrame(
        [("a.pdf", "Title A", 1, "content a"), ("b.pdf", "Tïtle B", 2, "content b")],
        ["filename", "title", "doc_id", "content"],
    )
    res = write_pdfs(df, out)
    assert res["written"] == 2
    data = open(os.path.join(out, "a.pdf"), "rb").read()
    assert data.startswith(b"%PDF-1.4")
    # byte-determinism (executors must render identically on retry)
    assert render_pdf_bytes("t", "1", "c") == render_pdf_bytes("t", "1", "c")


def test_pdf_structure_parses(spark):
    """The PDF 1.4 output is structurally valid: every xref offset
    points at its 'N 0 obj' header, the trailer references the
    catalog, page count matches /Count, and the file ends in %%EOF
    (reference smoke shape test_wikir_extraction.py:28-34)."""
    import re

    data = render_pdf_bytes("My Title", "42", "hello world\n" * 400)
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")

    xref_at = int(data.rstrip().rsplit(b"startxref", 1)[1].split(b"%%EOF")[0])
    assert data[xref_at : xref_at + 4] == b"xref"
    header = data[xref_at:].split(b"\n", 2)
    n_objs = int(header[1].split()[1])
    entries = data[xref_at:].split(b"\n")[2 : 2 + n_objs]
    assert entries[0].startswith(b"0000000000 65535 f")
    for i, entry in enumerate(entries[1:], start=1):
        off = int(entry.split()[0])
        assert data[off:].startswith(f"{i} 0 obj".encode())

    assert b"/Type /Catalog" in data and b"/Root 1 0 R" in data
    kids = re.search(rb"/Kids \[([^\]]*)\]", data).group(1)
    count = int(re.search(rb"/Count (\d+)", data).group(1))
    assert count == kids.count(b"0 R") and count >= 2  # long doc paginates
    # every content stream declares its exact length
    for m in re.finditer(rb"<< /Length (\d+) >>\nstream\n", data):
        ln = int(m.group(1))
        assert data[m.end() + ln : m.end() + ln + 10] == b"\nendstream"
    # escaping: specials in text stay inside balanced string literals
    esc = render_pdf_bytes("a(b)c\\d", "7", "x(y)z")
    assert rb"(a\(b\)c\\d)" in esc


def test_dataset_sink_roundtrip_partitioned(spark, sf_small, tmp_path):
    """write_dataset: partition pruning works on read-back, files are
    rolled per maxRecordsPerFile, partition dirs are lang=..."""
    import glob

    from parquet_extractor_spark.sinks.dataset import (
        read_dataset,
        write_dataset,
    )
    from parquet_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "ds")
    write_dataset(
        docs,
        out,
        partition_by=["lang"],
        sort_by=["doc_id"],
        max_records_per_file=40,
        output_tasks=2,
    )
    dirs = sorted(
        p.split("=")[-1] for p in glob.glob(f"{out}/lang=*")
    )
    assert dirs == sorted(
        r.lang for r in docs.select("lang").distinct().collect()
    )
    back = read_dataset(spark, out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter reads only that directory
    from parquet_extractor_spark.plans.explain import formatted_plan

    plan = formatted_plan(back.filter(back.lang == dirs[0]))
    assert "PartitionFilters" in plan
    # file rolling: each lang dir has >1 file (100 docs per lang, 40/file)
    for d in glob.glob(f"{out}/lang=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) >= 2


def test_compact_dataset_reduces_files(spark, sf_small, tmp_path):
    from parquet_extractor_spark.sinks.dataset import compact_dataset
    from parquet_extractor_spark.sources.tables import load_table

    out = str(tmp_path / "fragmented")
    docs = load_table(spark, sf_small, "documents")
    docs.repartition(24).write.parquet(out)  # deliberately fragmented
    result = compact_dataset(spark, out, target_file_mb=256)
    assert result["files_before"] == 24
    assert result["files_after"] <= 2
    back = spark.read.parquet(out)
    assert back.count() == result["rows"] == docs.count()


def test_markdown_sink_rejects_path_escaping_filenames(spark, tmp_path):
    """ADVICE r01: a filename carrying separators or an absolute path
    (possible via uploaded-parquet extract jobs) must fail that row,
    not write outside out_dir."""
    out = tmp_path / "out"
    df = spark.createDataFrame(
        [
            ("ok.md", "fine"),
            ("../escape.md", "bad"),
            ("/tmp/abs.md", "bad"),
            ("a/b.md", "bad"),
        ],
        "filename string, body string",
    )
    result = write_files(df, str(out))
    assert result["written"] == 1
    assert result["failed"] == 3
    assert sorted(os.listdir(out)) == ["ok.md"]
    assert not (tmp_path / "escape.md").exists()


def test_pdf_sink_rejects_path_escaping_filenames(spark, tmp_path):
    """Same guard as the markdown sink: a separator or absolute path
    in a PDF filename (wiki titles, uploaded frames) fails that row
    and writes nothing outside out_dir."""
    out = tmp_path / "out"
    df = spark.createDataFrame(
        [
            ("ok.pdf", "T", 1, "c"),
            ("../escape.pdf", "T", 2, "c"),
            (str(tmp_path / "abs.pdf"), "T", 3, "c"),
            ("a/b.pdf", "T", 4, "c"),
        ],
        "filename string, title string, doc_id int, content string",
    )
    result = write_pdfs(df, str(out))
    assert result == {"written": 1, "failed": 3}
    assert sorted(os.listdir(out)) == ["ok.pdf"]
    assert sorted(os.listdir(tmp_path)) == ["out"]


def test_markdown_sink_is_one_pass(spark, sf_small, tmp_path, jobs_in_group):
    """A Markdown extract job submits exactly 1 Spark job, the writer
    pass: the sampled head is numbered inside it (no exchange, no
    join), and skip-existing costs no count, listing or anti-join
    job."""
    write_files(extract_files(spark, sf_small, n=15), str(tmp_path / "warm"))
    out = str(tmp_path / "md")
    result = {}

    def _job():
        result.update(write_files(extract_files(spark, sf_small, n=15), out))

    jobs = jobs_in_group(_job, "markdown-sink-jobs")
    assert result == {"written": 15, "skipped": 0, "failed": 0}
    assert len(jobs) == 1
    for df in (extract_files(spark, sf_small), extract_plan(spark, sf_small)):
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan and "Join" not in plan


def test_uploaded_parquet_markdown_sink_is_two_jobs(
    spark, sf_small, tmp_path, jobs_in_group
):
    """An uploaded-parquet Markdown extract submits exactly 2 Spark
    jobs: the parquet footer read that infers the unknown schema, and
    the writer pass."""
    upload = str(tmp_path / "upload.parquet")
    load_table(spark, sf_small, "documents").write.parquet(upload)
    write_files(extract_any_parquet(spark, upload, n=15), str(tmp_path / "warm"))
    out = str(tmp_path / "md")
    result = {}

    def _job():
        result.update(write_files(extract_any_parquet(spark, upload, n=15), out))

    jobs = jobs_in_group(_job, "parquet-markdown-sink-jobs")
    assert result == {"written": 15, "skipped": 0, "failed": 0}
    assert len(jobs) == 2


def _pdf_work(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(20)
    return docs.select(
        F.concat(zero_pad(F.col("doc_id")), F.lit(".pdf")).alias("filename"),
        F.concat(F.lit("Document "), F.col("doc_id").cast("string")).alias(
            "title"
        ),
        "doc_id",
        F.col("text").alias("content"),
    )


def test_pdf_sink_is_one_pass(spark, sf_small, tmp_path, jobs_in_group):
    """A PDF extract job over the service's ``orderBy.limit`` frame
    submits one Spark job: the cleanup runs in the render pass."""
    work = _pdf_work(spark, sf_small)
    write_pdfs(work, str(tmp_path / "warm"))
    result = {}

    def _job():
        result.update(write_pdfs(work, str(tmp_path / "pdf")))

    jobs = jobs_in_group(_job, "pdf-sink-jobs")
    assert result == {"written": 20, "failed": 0}
    assert len(jobs) == 1


def test_file_sinks_start_no_python_worker(
    spark, sf_small, tmp_path, jobs_in_group, stage_rdd_names
):
    """The Markdown and PDF sinks write on the driver: no stage of
    their Spark jobs reads a Python RDD, so no Python worker starts."""
    sinks = {
        "md": lambda out: write_files(extract_files(spark, sf_small, n=15), out),
        "pdf": lambda out: write_pdfs(_pdf_work(spark, sf_small), out),
    }
    for kind, sink in sinks.items():
        group = f"no-python-sink-{kind}"
        out = str(tmp_path / kind)
        assert jobs_in_group(lambda: sink(out), group)
        assert len(os.listdir(out)) == {"md": 15, "pdf": 20}[kind]
        assert "PythonRDD" not in stage_rdd_names(group)


def test_markdown_sink_counts_exactly_across_partitions(spark, sf_small, tmp_path):
    """A 3-partition input writes the same files, byte for byte, as
    the 1-partition write, and each row is counted exactly once:
    written, then skipped on a re-run, and an unsafe name failed."""
    work = extract_files(spark, sf_small, n=15)
    bad = local_frame(
        spark, [("../escape.md", "bad")], "filename string, body string"
    )
    split = work.select("filename", "body").unionByName(bad).repartition(3)
    assert split.rdd.getNumPartitions() == 3
    one, three = tmp_path / "one", tmp_path / "three"
    assert write_files(work, str(one)) == {"written": 15, "skipped": 0, "failed": 0}
    assert write_files(split, str(three)) == {
        "written": 15, "skipped": 0, "failed": 1
    }
    assert write_files(split, str(three)) == {
        "written": 0, "skipped": 15, "failed": 1
    }
    names = sorted(os.listdir(one))
    assert sorted(os.listdir(three)) == names
    for name in names:
        assert (three / name).read_bytes() == (one / name).read_bytes()


def test_markdown_sink_skips_only_existing_files(spark, sf_small, tmp_path):
    """Partial skip: pre-created targets are counted as skipped and
    left byte-for-byte alone; the rest are written."""
    n, k = 10, 4
    work = extract_files(spark, sf_small, n=n)
    names = sorted(r.filename for r in work.select("filename").collect())
    out = tmp_path / "md"
    out.mkdir()
    sentinel = b"sentinel \x00 bytes"
    for name in names[:k]:
        (out / name).write_bytes(sentinel)

    result = write_files(work, str(out))
    assert result == {"written": n - k, "skipped": k, "failed": 0}
    assert sorted(os.listdir(out)) == names
    for name in names[:k]:
        assert (out / name).read_bytes() == sentinel
    for name in names[k:]:
        assert (out / name).read_text(encoding="utf-8").startswith("---\n")


def ref_pdf_ready(title, content):
    """The reference's pre-render cleanup, transcribed: content is
    HTML-unescaped (api.py:312), non-ASCII → space (api.py:324),
    control chars other than tab/newline/CR → space (api.py:802),
    capped at 50k AFTER the unescape (api.py:327); the title is
    non-ASCII → underscore (api.py:277), capped at 80 (api.py:271)."""
    text = html.unescape(content or "")
    text = "".join(c if ord(c) < 128 else " " for c in text)
    text = "".join(
        " " if ord(c) < 32 and c not in "\t\n\r" else c for c in text
    )
    head = "".join(c if ord(c) < 128 else "_" for c in (title or ""))
    return head[:PDF_TITLE_CAP], text[:PDF_CONTENT_CAP]


PDF_CLEANUP_CORPUS = [
    ("plain", "plain words"),
    ("Tom &amp; Jerry", "Tom &amp; Jerry &lt;3"),
    ("caf&eacute;", "caf&eacute; and &#128512; and AT&T & co"),
    ("Tïtle 漢字 \U0001f600", "naïve 漢字 \U0001f600 résumé"),
    ("ctl\x01title", "a\x00b\x01c\x08d\te\nf\x0bg\x0ch\ri\x1fj\x7fk"),
    ("entity control", "&#1;&#x1F;&#0;x"),
    ("T" * 200 + "é", "x" * (PDF_CONTENT_CAP + 5000)),
    # over the cap only before the unescape: the cap applies after it
    ("cap", "x" * (PDF_CONTENT_CAP - 10) + "&amp;" * 5),
    ("cap2", "&eacute;" * (PDF_CONTENT_CAP // 4)),
    (None, "no title"),
    ("no content", None),
    (None, None),
    ("", ""),
]


def test_pdf_ready_matches_reference_cleanup():
    for title, content in PDF_CLEANUP_CORPUS:
        assert pdf_ready(title, content) == ref_pdf_ready(title, content)
    # the cap-crossing row keeps its unescaped tail
    _, capped = pdf_ready("cap", "x" * (PDF_CONTENT_CAP - 10) + "&amp;" * 5)
    assert capped.endswith("&&&&&") and len(capped) == PDF_CONTENT_CAP - 5
    assert pdf_ready(None, None) == ("", "")


def test_pdf_ready_unescapes_html():
    got = [
        pdf_ready(None, t)[1] for t in ["Tom &amp; Jerry &lt;3", None]
    ]
    # a NULL content renders as an empty body
    assert got == ["Tom & Jerry <3", ""]


def test_sample_key_large_ids_match_duckdb(spark, duck):
    """ADVICE r01: the naive (id+seed)*KNUTH overflows int64 above
    id~3.5e9 (Spark wraps, DuckDB promotes to HUGEINT). The split-
    multiply form must agree cross-engine at large-corpus id scale."""
    from parquet_extractor_spark.operators.extract import sample_key, sample_key_sql

    ids = [0, 1, 12345, 3_500_000_000, 2**40, 2**62 - 1]
    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: r.sk
        for r in sdf.select(
            "doc_id", sample_key(F.col("doc_id")).alias("sk")
        ).collect()
    }
    expr = sample_key_sql("doc_id")
    want = dict(
        duck.execute(
            "SELECT doc_id, "
            + expr
            + " FROM (SELECT unnest(?::BIGINT[]) AS doc_id)",
            [ids],
        ).fetchall()
    )
    assert got == want


def test_jsonl_sink_roundtrip_and_line_format(spark, sf_small, tmp_path):
    """write_jsonl: one JSON object per line, gzip'd, partition dirs,
    lossless round-trip with an explicit schema."""
    import glob
    import gzip
    import json

    from parquet_extractor_spark.sinks.dataset import (
        read_jsonl_dataset,
        write_jsonl,
    )
    from parquet_extractor_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "jsonl")
    write_jsonl(docs, out, partition_by=["lang"], max_records_per_file=40)

    files = glob.glob(f"{out}/lang=*/*.json.gz")
    assert files  # partitioned, compressed
    with gzip.open(files[0], "rt") as f:
        first = f.readline()
    obj = json.loads(first)  # every line parses standalone
    assert {"doc_id", "text", "source"} <= set(obj)
    assert "lang" not in obj  # partition column lives in the path

    back = read_jsonl_dataset(
        spark, out, schema="doc_id BIGINT, text STRING, source STRING, lang STRING"
    )
    assert back.count() == docs.count()
    want = {(r.doc_id, r.text, r.lang, r.source) for r in docs.collect()}
    got = {(r.doc_id, r.text, r.lang, r.source) for r in back.collect()}
    assert got == want


def test_compact_dataset_preserves_content_exactly(spark, sf_small, tmp_path):
    """Compaction is a layout change only: row multiset identical."""
    from parquet_extractor_spark.sinks.dataset import compact_dataset
    from parquet_extractor_spark.sources.tables import load_table

    frag = str(tmp_path / "fragmented2")
    docs = load_table(spark, sf_small, "documents")
    docs.repartition(80).write.parquet(frag)
    report = compact_dataset(spark, frag, target_file_mb=256)
    assert report["files_after"] < report["files_before"]
    assert report["rows"] == docs.count()
    back = spark.read.parquet(frag)
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def test_pdf_source_roundtrips_pdf_sink(spark, sf_small, tmp_path):
    """The PDF source reads back what the PDF sink wrote: same text
    modulo line wrapping (the writer wraps at WRAP_COLS; whitespace-
    collapse both sides), one row per file, page counts >= 1, and a
    corrupt file keeps its row with error set instead of failing the
    job (the PERMISSIVE contract)."""
    import re

    from parquet_extractor_spark.sources.pdf import read_pdf_docs
    from parquet_extractor_spark.sources.tables import load_table

    out = str(tmp_path / "pdfs")
    docs = (
        load_table(spark, sf_small, "documents")
        .where(F.col("doc_id") < 5)
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("title"),
            F.col("doc_id"),
            F.col("text").alias("content"),
            F.concat(F.lit("d"), F.col("doc_id"), F.lit(".pdf")).alias(
                "filename"
            ),
        )
    )
    res = write_pdfs(docs, out)
    assert res == {"written": 5, "failed": 0}
    # plant one corrupt file among the real ones
    with open(os.path.join(out, "broken.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\nthis is not really a pdf")

    got = {r.file_name: r for r in read_pdf_docs(spark, out).collect()}
    assert len(got) == 6
    assert got["broken.pdf"].error is not None
    assert got["broken.pdf"].text is None

    ws = lambda s: re.sub(r"\s+", " ", s).strip()
    for row in docs.collect():
        r = got[f"d{row.doc_id}.pdf"]
        assert r.error is None and r.n_pages >= 1
        expected = ws(
            f"{row.title} Document ID: {row.doc_id} {row.content}"
        )
        assert ws(r.text) == expected


def test_pdf_extractor_flate_and_page_order():
    """Hand-built PDF: FlateDecode stream decodes, TJ arrays and
    escape forms show, and pages come back in Kids order even when
    object numbers are shuffled."""
    import zlib

    from parquet_extractor_spark.sources.pdf import extract_pdf_text

    s1 = zlib.compress(b"BT (page one) Tj T* [(a) -120 (b)] TJ ET")
    s2 = b"BT (second \\(escaped\\) page) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        # Kids order (7 then 3) must win over object-number order
        2: b"<< /Type /Pages /Kids [7 0 R 3 0 R] /Count 2 >>",
        7: b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>",
        8: b"<< /Length "
        + str(len(s1)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + s1
        + b"\nendstream",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length "
        + str(len(s2)).encode()
        + b" >>\nstream\n"
        + s2
        + b"\nendstream",
    }
    buf = bytearray(b"%PDF-1.4\n")
    for k in objs:
        buf += f"{k} 0 obj\n".encode() + objs[k] + b"\nendobj\n"
    buf += b"trailer << /Root 1 0 R >>\n%%EOF"
    n_pages, text = extract_pdf_text(bytes(buf))
    assert n_pages == 2
    assert text == "page one\nab\nsecond (escaped) page"


def test_markdown_source_roundtrips_markdown_sink(spark, sf_small, tmp_path):
    """The markdown source reads back what the S8 sink wrote —
    frontmatter to a typed map, heading to title, content EXACTLY
    byte-equal to the original document text — with zero Python in
    the per-row path (pure codegen regexp/array expressions). A file
    without frontmatter still yields a row (empty meta)."""
    from parquet_extractor_spark.operators.extract import extract_files
    from parquet_extractor_spark.sources.markdown import read_markdown_docs
    from parquet_extractor_spark.sources.tables import load_table

    out = str(tmp_path / "md")
    res = write_files(extract_files(spark, sf_small, n=10), out)
    assert res["written"] == 10
    with open(os.path.join(out, "plain.md"), "w") as fh:
        fh.write("no frontmatter here")

    rows = {r.file_name: r for r in read_markdown_docs(spark, out).collect()}
    assert len(rows) == 11
    assert dict(rows["plain.md"].meta) == {}
    assert rows["plain.md"].title == ""

    originals = {
        r.doc_id: r for r in load_table(spark, sf_small, "documents").collect()
    }
    checked = 0
    for name, r in rows.items():
        if name == "plain.md":
            continue
        doc_id = int(r.meta["doc_id"])
        orig = originals[doc_id]
        assert r.title == f"document_{doc_id}"
        assert r.content == orig.text  # byte-exact round trip
        assert r.meta["lang"] == orig.lang
        assert r.meta["source"] == orig.source
        checked += 1
    assert checked == 10


def test_pdf_extractor_incremental_update_last_wins():
    """An incremental update (same object number appended later) must
    shadow the original — the xref-less approximation of PDF update
    semantics."""
    from parquet_extractor_spark.sources.pdf import extract_pdf_text

    def obj(num, body):
        return f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    s_old = b"BT (old text) Tj ET"
    s_new = b"BT (new text) Tj ET"
    buf = bytearray(b"%PDF-1.4\n")
    buf += obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    buf += obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    buf += obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    buf += obj(
        4,
        b"<< /Length "
        + str(len(s_old)).encode()
        + b" >>\nstream\n"
        + s_old
        + b"\nendstream",
    )
    # incremental update: object 4 redefined at the end of the file
    buf += obj(
        4,
        b"<< /Length "
        + str(len(s_new)).encode()
        + b" >>\nstream\n"
        + s_new
        + b"\nendstream",
    )
    n_pages, text = extract_pdf_text(bytes(buf))
    assert (n_pages, text) == (1, "new text")
