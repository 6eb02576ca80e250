"""The persistent store (store.py): shared tiers and the artifact memo.

Contract under test: a tier/artifact is derived at most once per
(session, data dir, name); reuse returns value-identical results; the
kill switch restores the inline cold path; clearing forgets
everything. Plus the end-to-end guarantee the layers exist for — a
warm dedup consumer returns byte-identical rows to a cold one."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parquet_extractor_spark import store


@pytest.fixture(autouse=True)
def _fresh_registry(tmp_path, monkeypatch):
    """Each test starts and ends with empty tier/memo registries AND
    a private disk store, so cross-test order never matters and the
    store.clear() purges here cannot wipe the SHARED persistent store
    other test modules (and a later bench) rely on."""
    monkeypatch.setenv(
        "SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "tier-store")
    )
    store.clear()
    yield
    store.clear()


def test_ensure_tier_builds_once(spark, sf_small):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).select(F.col("id").alias("n"))

    a = store.ensure_tier(spark, sf_small, "t_unit", build)
    b = store.ensure_tier(spark, sf_small, "t_unit", build)
    assert len(calls) == 1
    assert sorted(r.n for r in a.collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.n for r in b.collect()) == [0, 1, 2, 3, 4]


def test_tier_key_isolates_name_and_dir(spark, sf_small, tmp_path):
    # same name, different dir -> distinct tiers; same dir, different
    # name -> distinct tiers
    d2 = str(tmp_path)
    store.ensure_tier(
        spark, sf_small, "t_k", lambda: spark.range(1).select("id")
    )
    calls = []

    def build2():
        calls.append(1)
        return spark.range(2).select("id")

    store.ensure_tier(spark, d2, "t_k", build2)
    store.ensure_tier(spark, sf_small, "t_k2", build2)
    assert len(calls) == 2


def test_rewritten_fixture_invalidates_tier(spark, sf_small, tmp_path):
    """An in-place fixture rewrite mid-session must serve FRESH tier
    results, not the cached ones: the key's per-table scan stats
    (bytes/files/mtime of each parquet table) change with the
    rewrite even though applicationId and realpath do not."""
    import shutil

    d = str(tmp_path / "fixture")
    os.makedirs(d)
    shutil.copy(
        os.path.join(sf_small, "region.parquet"),
        os.path.join(d, "docs.parquet"),
    )

    def build():
        # derive from the CURRENT file so staleness is observable
        return (
            spark.read.parquet(os.path.join(d, "docs.parquet"))
            .groupBy()
            .count()
        )

    n0 = store.ensure_tier(spark, d, "t_fresh", build).collect()[0][0]

    # rewrite the fixture in place with a different table
    shutil.copy(
        os.path.join(sf_small, "nation.parquet"),
        os.path.join(d, "docs.parquet"),
    )
    # mtime_ns granularity is fine, but size also differs here; bump
    # mtime explicitly so the test never depends on copy timing
    os.utime(os.path.join(d, "docs.parquet"))

    n1 = store.ensure_tier(spark, d, "t_fresh", build).collect()[0][0]
    assert n0 != n1, "stale tier served after in-place fixture rewrite"


def test_rewritten_directory_table_invalidates_tier(spark, sf_small, tmp_path):
    """The same guarantee for a table stored as a directory
    (``docs.parquet/part-0.parquet``, a layout load_table reads):
    rewriting the part file in place leaves the directory's own stat
    unchanged, so the key must cover the files inside it."""
    import shutil

    d = str(tmp_path / "fixture")
    table = os.path.join(d, "docs.parquet")
    part = os.path.join(table, "part-0.parquet")
    os.makedirs(table)
    shutil.copy(os.path.join(sf_small, "region.parquet"), part)

    def build():
        return spark.read.parquet(table).groupBy().count()

    n0 = store.ensure_tier(spark, d, "t_fresh_dir", build).collect()[0][0]
    shutil.copy(os.path.join(sf_small, "nation.parquet"), part)
    os.utime(part)
    n1 = store.ensure_tier(spark, d, "t_fresh_dir", build).collect()[0][0]
    assert n0 != n1, "stale tier served after a part file was rewritten"


def test_kill_switch_disables_both_layers(spark, sf_small, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_TIER_CACHE", "1")
    calls = []

    def build():
        calls.append(1)
        return spark.range(1).select("id")

    store.ensure_tier(spark, sf_small, "t_off", build)
    store.ensure_tier(spark, sf_small, "t_off", build)
    assert len(calls) == 2
    vals = []
    store.memo_artifact(spark, sf_small, ("a_off",), lambda: vals.append(1))
    store.memo_artifact(spark, sf_small, ("a_off",), lambda: vals.append(1))
    assert len(vals) == 2


def test_clear_tiers_forgets(spark, sf_small):
    calls = []

    def build():
        calls.append(1)
        return spark.range(1).select("id")

    store.ensure_tier(spark, sf_small, "t_clear", build)
    store.clear()
    store.ensure_tier(spark, sf_small, "t_clear", build)
    assert len(calls) == 2


def test_warm_tier_read_submits_no_spark_job(spark, sf_small, jobs_in_group):
    """A warm tier read reuses the fingerprint-keyed schema, so it
    plans without spark.read.parquet's schema-inference job."""
    from parquet_extractor_spark.operators.dedup import _exact_keep_tier

    _exact_keep_tier(spark, sf_small).collect()  # build, first read
    jobs = jobs_in_group(
        lambda: _exact_keep_tier(spark, sf_small), "warm-tier-read"
    )
    assert jobs == []


def test_rewritten_tier_reads_its_new_schema(spark, sf_small):
    """The tier path is stable across a rebuild, so the cached read
    schema must follow the files, not the path."""
    a = store.ensure_tier(
        spark, sf_small, "t_schema", lambda: spark.range(2).select("id")
    )
    assert a.columns == ["id"]
    store.clear()  # isolated store: drops the tier on disk too
    b = store.ensure_tier(
        spark,
        sf_small,
        "t_schema",
        lambda: spark.range(2).select(F.col("id").alias("n")),
    )
    assert b.columns == ["n"]
    assert sorted(r.n for r in b.collect()) == [0, 1]


def test_memo_artifact_builds_once_and_isolates_keys(spark, sf_small):
    calls = []

    def build():
        calls.append(1)
        return [1, 2, 3]

    assert store.memo_artifact(spark, sf_small, ("m", 1), build) == [1, 2, 3]
    assert store.memo_artifact(spark, sf_small, ("m", 1), build) == [1, 2, 3]
    assert len(calls) == 1
    store.memo_artifact(spark, sf_small, ("m", 2), build)
    assert len(calls) == 2


def test_tier_survives_process_restart_simulated(spark, sf_small):
    """r11: tiers persist across PROCESSES (keyed by dataset + code
    fingerprint, not applicationId). Simulate a fresh JVM by clearing
    only the in-memory registry: the disk layer must serve without a
    rebuild."""
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).select(F.col("id").alias("n"))

    store.ensure_tier(spark, sf_small, "t_persist", build)
    store._MEMO.clear()  # what a new process starts with
    out = store.ensure_tier(spark, sf_small, "t_persist", build)
    assert len(calls) == 1
    assert sorted(r.n for r in out.collect()) == [0, 1, 2]


def test_cold_ann_build_trains_each_artifact_once(
    spark, sf_small, jobs_in_group
):
    """From an empty store, building the IVF, IVF-PQ, SQ8 and BQ
    queries trains two artifacts: the head vectors (IVF centroids, PQ
    seeds and query set are prefixes of one ordering) and the
    per-dimension ranges (SQ8 uses them, BQ their midpoints). One
    collect job for the first, the aggregate's two for the second."""
    from parquet_extractor_spark.operators import similarity
    from parquet_extractor_spark.sources.tables import load_table

    load_table(spark, sf_small, "embeddings")  # schema read outside
    names = ("ann_ivf", "ann_ivf_pq", "sq8_codes", "binary_hamming_recall")
    jobs = jobs_in_group(
        lambda: [getattr(similarity, n)(spark, sf_small) for n in names],
        "cold-ann-build",
    )
    files = os.listdir(os.path.join(store.store_root(), "artifacts"))
    assert sorted(f.split("-")[0] for f in files) == [
        "head_vectors", "sq8_minmax",
    ]
    assert len(jobs) == 3


def test_artifact_survives_process_restart_simulated(spark, sf_small):
    calls = []

    def build():
        calls.append(1)
        return [[1.5, -2.25], [0.0, 3.0]]

    a = store.memo_artifact(spark, sf_small, ("m_persist",), build)
    store._MEMO.clear()  # what a new process starts with
    b = store.memo_artifact(spark, sf_small, ("m_persist",), build)
    assert len(calls) == 1
    assert a == b == [[1.5, -2.25], [0.0, 3.0]]


def test_artifact_codec_roundtrips_tuples_and_rows(spark, sf_small):
    """The disk layer must reproduce the builder's value EXACTLY —
    tuples stay tuples, pyspark Rows keep field access, floats
    round-trip bit-exact (similarity.py memoizes Row lists and
    (mins, maxs) tuples)."""
    from pyspark.sql import Row

    val = (
        [Row(vec_id=7, embedding=[0.1, -2.5e-17]), Row(vec_id=9, embedding=[])],
        (1, 2, 3),
        [0.3333333333333333],
    )
    store.memo_artifact(spark, sf_small, ("m_codec",), lambda: val)
    store._MEMO.clear()
    got = store.memo_artifact(
        spark, sf_small, ("m_codec",), lambda: (_ for _ in ()).throw(
            AssertionError("disk layer missed")
        )
    )
    rows, tup, fl = got
    assert isinstance(tup, tuple) and tup == (1, 2, 3)
    assert fl == [0.3333333333333333]
    assert rows[0].vec_id == 7 and rows[0].embedding == [0.1, -2.5e-17]
    assert rows[1].embedding == []


def test_code_change_invalidates_persisted_layers(spark, sf_small, monkeypatch):
    """Any package source change must bust disk-persisted tiers and
    artifacts: a stored value must never outlive the code that built
    it."""
    calls = []

    def build():
        calls.append(1)
        return [1]

    store.memo_artifact(spark, sf_small, ("m_code",), build)
    store._MEMO.clear()
    monkeypatch.setattr(store, "_CODE_FP", "deadbeefdeadbeefdead")
    store.memo_artifact(spark, sf_small, ("m_code",), build)
    assert len(calls) == 2


def test_warm_dedup_consumer_equals_cold(spark, sf_small, monkeypatch):
    """dedup_canonical cold (no tier layer) vs warm (tiers built by a
    prior consumer) — row-identical output, the guarantee that reuse
    changes cost, never answers."""
    from parquet_extractor_spark.operators import dedup
    from parquet_extractor_spark.operators.training import dedup_canonical

    monkeypatch.setenv("SPARK_GRAFT_NO_TIER_CACHE", "1")
    cold = [tuple(r) for r in dedup_canonical(spark, sf_small).collect()]
    monkeypatch.delenv("SPARK_GRAFT_NO_TIER_CACHE")

    # prime the tiers through a DIFFERENT consumer first
    dedup.dedup_graph_pagerank(spark, sf_small).collect()
    warm = [tuple(r) for r in dedup_canonical(spark, sf_small).collect()]
    assert warm == cold


def test_tier_survives_release_cached(spark, sf_small):
    """release_cached drops cached blocks; the parquet tier store
    must keep serving (that is why it is files, not persist())."""
    from parquet_extractor_spark.operators import dedup
    from parquet_extractor_spark.session import release_cached

    first = dedup._lsh_pairs_tier(spark, sf_small).count()
    release_cached(spark)
    calls = []

    def poisoned_build():  # must NOT be called — tier already built
        calls.append(1)
        raise AssertionError("tier rebuilt after release_cached")

    df = store.ensure_tier(spark, sf_small, "lsh_pairs", poisoned_build)
    assert df.count() == first
    assert not calls


def test_corrupted_artifact_file_rebuilds_silently(spark, sf_small):
    """A torn/corrupted on-disk artifact must be treated as a miss
    (rebuild), never crash or serve garbage."""
    calls = []

    def build():
        calls.append(1)
        return [7, 8]

    store.memo_artifact(spark, sf_small, ("m_corrupt",), build)
    k = store._key(sf_small, ("m_corrupt",))
    path = store._entry_path("artifacts", k)
    with open(path, "w") as fh:
        fh.write('{"__tuple__": [1,')  # torn write
    store._MEMO.clear()
    got = store.memo_artifact(spark, sf_small, ("m_corrupt",), build)
    assert got == [7, 8] and len(calls) == 2


def test_orphaned_tier_tmp_dir_is_ignored(spark, sf_small):
    """A crashed process's .tmp tier directory must not be read as a
    tier and must not block a fresh build + rename."""
    calls = []

    def build():
        calls.append(1)
        return spark.range(2).select(F.col("id").alias("n"))

    k = store._key(sf_small, "t_orphan")
    path = store._entry_path("tiers", k)
    os.makedirs(f"{path}.tmp.99999")  # orphan from a dead pid
    out = store.ensure_tier(spark, sf_small, "t_orphan", build)
    assert sorted(r.n for r in out.collect()) == [0, 1]
    assert len(calls) == 1 and os.path.isdir(path)


# ── r12 hardening: private-root verification, GC, scoped clears ─────


def test_verify_private_rejects_symlink_foreign_and_loose(tmp_path):
    """The store root must be a real directory owned by this uid with
    mode 0700 — a pre-planted symlink or group/other-accessible dir
    in shared tmp is attacker-substitutable (its JSON/parquet become
    plan literals)."""
    uid = os.getuid()
    real = tmp_path / "real"
    real.mkdir(mode=0o700)
    assert store._verify_private(str(real), uid)
    link = tmp_path / "link"
    link.symlink_to(real)
    assert not store._verify_private(str(link), uid)
    assert not store._verify_private(str(tmp_path / "absent"), uid)
    f = tmp_path / "file"
    f.write_text("x")
    assert not store._verify_private(str(f), uid)
    # a loose pre-existing dir gets tightened in place
    loose = tmp_path / "loose"
    loose.mkdir(mode=0o755)
    assert store._verify_private(str(loose), uid)
    assert (os.lstat(loose).st_mode & 0o777) == 0o700
    assert not store._verify_private(str(real), uid + 1)


def test_store_gc_sweeps_orphans_and_expired_entries(tmp_path):
    """GC removes .tmp build debris older than an hour and entries
    past the age ceiling, but keeps fresh entries and fresh tmps."""
    root = tmp_path / "gcroot"
    for sub in ("artifacts", "tiers"):
        (root / sub).mkdir(parents=True)
    old = store.time.time() - store._ENTRY_MAX_AGE_S - 10
    tmp_old = store.time.time() - store._TMP_MAX_AGE_S - 10
    a = root / "artifacts"
    (a / "keep-fresh.json").write_text("{}")
    (a / "evict-old.json").write_text("{}")
    os.utime(a / "evict-old.json", (old, old))
    (a / "orphan.json.tmp.1234").write_text("{")
    os.utime(a / "orphan.json.tmp.1234", (tmp_old, tmp_old))
    (a / "fresh.json.tmp.5678").write_text("{")
    t = root / "tiers"
    (t / "tier-old").mkdir()
    os.utime(t / "tier-old", (old, old))
    (t / "tier-fresh").mkdir()
    (t / "tier-x.tmp.999").mkdir()
    os.utime(t / "tier-x.tmp.999", (tmp_old, tmp_old))
    store._GC_DONE = False
    try:
        store._gc_store(str(root))
    finally:
        store._GC_DONE = False
    assert sorted(os.listdir(a)) == [
        "fresh.json.tmp.5678", "keep-fresh.json",
    ]
    assert sorted(os.listdir(t)) == ["tier-fresh"]


def test_clear_without_isolated_dir_keeps_disk(
    spark, sf_small, monkeypatch, tmp_path
):
    """store.clear() without an isolated
    $SPARK_GRAFT_ARTIFACT_DIR must forget in-process state ONLY —
    the shared on-disk store (which other live processes scan) stays
    intact, and a re-request rereads it without rebuilding."""
    shared = tmp_path / "shared-store"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(shared))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).select(F.col("id").alias("n"))

    store.ensure_tier(spark, sf_small, "t_keepdisk", build)
    store.memo_artifact(
        spark, sf_small, ("a_keepdisk",), lambda: [1, 2]
    )
    n_tiers = len(os.listdir(shared / "tiers"))
    n_arts = len(os.listdir(shared / "artifacts"))
    assert n_tiers == 1 and n_arts == 1
    # simulate the shared-default-root situation: same store on disk,
    # but no isolating env var -> disk must survive the clear
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR")
    monkeypatch.setattr(store, "_STORE_ROOT", str(shared))
    store.clear()
    assert len(os.listdir(shared / "tiers")) == n_tiers
    assert len(os.listdir(shared / "artifacts")) == n_arts
    assert not store._MEMO
    # and with the isolated dir back, the clear IS destructive
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(shared))
    store.clear()
    assert not os.listdir(shared / "tiers")
    assert not os.listdir(shared / "artifacts")


def test_vanished_tier_path_rebuilds(spark, sf_small):
    """A tier whose directory was removed behind our back
    (another process's clear, GC eviction) must rebuild, not hand
    Spark a dead scan path."""
    import shutil as _sh

    calls = []

    def build():
        calls.append(1)
        return spark.range(2).select(F.col("id").alias("n"))

    store.ensure_tier(spark, sf_small, "t_vanish", build)
    k = store._key(sf_small, "t_vanish")
    _sh.rmtree(store._entry_path("tiers", k))
    out = store.ensure_tier(spark, sf_small, "t_vanish", build)
    assert sorted(r.n for r in out.collect()) == [0, 1]
    assert len(calls) == 2


def test_artifact_store_cross_process_race(tmp_path):
    """The docstring's benign-race claim, exercised for real: many
    processes racing the same artifact key must each observe the
    deterministic value, the store must end with exactly one
    uncorrupted file for the key, and no .tmp debris may survive.
    (No Spark needed — memo_artifact's spark arg is unused by the
    disk layers and the builder here is pure.)"""
    import json
    import subprocess
    import sys as _sys

    store = tmp_path / "race-store"
    script = r"""
import os, sys
sys.path.insert(0, %(repo)r)
os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = %(store)r
from parquet_extractor_spark.store import memo_artifact
v = memo_artifact(None, %(sf)r, ("race_probe", 7), lambda: [7, (1, 2.5), "x"])
assert v == [7, (1, 2.5), "x"], v
print("ok")
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    body = script % {
        "repo": repo,
        "store": str(store),
        "sf": str(tmp_path),
    }
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", body],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(6)
    ]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        assert out.strip() == "ok"
    files = os.listdir(store / "artifacts")
    assert len(files) == 1 and ".tmp." not in files[0]
    with open(store / "artifacts" / files[0]) as fh:
        json.load(fh)  # parses: never torn
