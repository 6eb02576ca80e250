"""Unit tests for bench.py's harness logic that must not depend on a
SparkSession: the compact payload, the payload-path rule, the bench
order and the environment values the harness reads."""

from __future__ import annotations

import ast
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__
import bench

# A caller that keeps only a 2000-char stdout tail must still parse the
# whole compact line, with room for the summary line's end.
TAIL_LIMIT = 1900
# The compact line's fixed query window.
WINDOW = bench.HEADLINE[:32]


def _payload(queries: dict, **extra) -> dict:
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "mode": "inprocess",
        "store": "warm",
        "cpus": 32,
        "queries": queries,
        "sf": 0.1,
        **extra,
    }


def test_compact_payload_fits_limit_and_records_trim():
    queries = {n: 1.234 for n in bench.HEADLINE}
    queries.update({f"q{i:03d}": 1.234 for i in range(400 - len(queries))})
    out = bench._compact(_payload(queries), "BENCH_c32_warm.json")
    assert len(json.dumps(out)) <= TAIL_LIMIT
    assert out["n"] == 400
    # the window is carried whole, in bench order; `omitted` counts
    # the rest, which stays in the full payload
    assert list(out["queries"]) == WINDOW
    assert out["omitted"] == 400 - len(WINDOW)
    assert out["mode"] == "inprocess"
    assert out["full"] == "BENCH_c32_warm.json"


def test_compact_payload_carries_heavy_tail():
    """The ten most expensive queries reach the caller even when they
    are outside the window (r10 verdict item 7)."""
    queries = {f"q{i:03d}": 0.5 for i in range(400)}
    queries["q399"] = 99.9  # dead last in bench order
    queries["q250"] = 42.0
    out = bench._compact(_payload(queries), "BENCH_c32_warm.json")
    assert len(json.dumps(out)) <= TAIL_LIMIT
    assert list(out["slowest"])[:2] == ["q399", "q250"]
    assert len(out["slowest"]) == 10
    assert out["slowest"]["q399"] == 99.9


def test_compact_worst_case_fits_tail_and_keeps_whole_window():
    """Widest envelope the registry can produce: every query at
    999.999 s, a cold store, 3-digit error and skip counts, a suspect
    flag, the ten longest registry names in `slowest` and the longest
    file name. The line must still fit the tail and carry all 32
    window names, duplicate_spans (the 32nd) included."""
    registry = __spark_entry__.queries()
    longest = sorted(registry, key=len)[-10:]
    order = bench._bench_set(registry, [])
    queries = {n: 999.999 for n in order}
    for n in longest:
        queries[n] = 1000.0  # strictly slowest
    payload = _payload(
        queries,
        store="cold",
        errors={f"e{i}": "x" for i in range(999)},
        skipped=[f"s{i}" for i in range(999)],
        timings_suspect=True,
    )
    full = os.path.basename(bench._payload_path(32, "cold", ["x"]))
    line = json.dumps(bench._compact(payload, full))
    assert len(line) <= TAIL_LIMIT, len(line)
    out = json.loads(line)
    assert list(out["queries"]) == WINDOW
    assert WINDOW[-1] == "duplicate_spans"
    assert set(out["slowest"]) == set(longest)
    assert out["store"] == "cold" and out["errors"] == 999


def test_payload_path_one_file_per_cpus_and_store():
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    paths = {
        bench._payload_path(cpus, store, [])
        for cpus in (8, 32)
        for store in ("warm", "cold")
    }
    assert len(paths) == 4
    assert bench._payload_path(8, "cold", []) == os.path.join(
        repo, "BENCH_c8_cold.json"
    )
    # an isolated re-measure never writes into the repository
    only = bench._payload_path(32, "warm", ["corpus_stats"])
    assert os.path.dirname(only) != repo
    assert not only.startswith(repo + os.sep)


def test_cold_store_mode_routes_and_tags(monkeypatch, tmp_path):
    """SPARK_GRAFT_BENCH_COLD_STORE=1 gives a cold run on a fresh,
    empty, private store root, and each timed sample of a cold run
    starts from a cleared store (a warm run never clears);
    SPARK_GRAFT_BENCH_ONLY is split on commas with blanks dropped."""
    from parquet_extractor_spark import store

    # registered so teardown restores what _env sets
    shared = str(tmp_path / "shared-store")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", shared)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONLY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_COLD_STORE", raising=False)
    assert bench._env() == ([], False)
    assert os.environ["SPARK_GRAFT_ARTIFACT_DIR"] == shared

    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLD_STORE", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", " a, ,b")
    assert bench._env() == (["a", "b"], True)
    root = os.environ["SPARK_GRAFT_ARTIFACT_DIR"]
    try:
        assert root != shared and not root.startswith(bench.REPO + os.sep)
        assert os.path.isdir(root) and not os.listdir(root)
        assert os.stat(root).st_mode & 0o077 == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)

    events: list[str] = []
    monkeypatch.setattr(store, "clear", lambda: events.append("clear"))
    monkeypatch.setattr(
        bench, "_attempt", lambda *a: events.append("run") or {"ok": True}
    )
    for cold in (True, True, False, False):
        res, secs = bench._timed_attempt(None, "q", None, cold)
        assert res == {"ok": True} and secs >= 0
    assert events == ["clear", "run", "clear", "run", "run", "run"]

    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLD_STORE", "0")
    assert bench._env() == (["a", "b"], False)


def test_bench_order_headline_then_sorted_registry():
    registry = __spark_entry__.queries()
    order = bench._bench_set(registry, [])
    assert order[: len(bench.HEADLINE)] == bench.HEADLINE
    rest = order[len(bench.HEADLINE) :]
    assert rest == sorted(set(registry) - set(bench.HEADLINE))
    assert set(order) == set(registry)
    # ONLY keeps bench order, not the order it was given in
    only = ["zipf_token_stats", "duplicate_spans", "corpus_stats"]
    assert bench._bench_set(registry, only) == [
        "corpus_stats",
        "duplicate_spans",
        "zipf_token_stats",
    ]


def test_bench_reads_only_three_env_values():
    """Every environment value bench.py reads is one of the three its
    header documents; the harness has no other knob."""
    src = open(bench.__file__).read()
    read: set[str] = set()
    for node in ast.walk(ast.parse(src)):
        key = None
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("get", "getenv", "pop")
                and ast.unparse(f.value) in ("os.environ", "os")
            ):
                key = node.args[0]
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and ast.unparse(node.value) == "os.environ"
        ):
            key = node.slice
        if key is not None:
            assert isinstance(key, ast.Constant), ast.unparse(node)
            read.add(key.value)
    assert read == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_BENCH_ONLY",
        "SPARK_GRAFT_BENCH_COLD_STORE",
    }


def test_ab_bench_gain_rule():
    """tools/ab_bench.compare: pair wins respect the metric's
    direction, and the gain rule needs 9 wins in 10 AND a median gap
    wider than the parent's interquartile range."""
    sys.path.insert(0, os.path.join(os.path.dirname(bench.__file__), "tools"))
    from ab_bench import compare

    parent = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]
    faster = [p + 1.0 for p in parent]
    c = compare(parent, faster, "higher", bound=0.25)
    assert c["wins"] == 10 and c["gain"] and not c["regressed"]
    c = compare(parent, faster, "lower", bound=0.25)
    assert c["wins"] == 0 and not c["gain"] and c["regressed"]
    # every pair won, but by less than the parent's spread
    c = compare(parent, [p + 0.01 for p in parent], "higher")
    assert c["wins"] == 10 and not c["gain"]
    # a wide gap with only 8 of 10 pairs won
    mixed = faster[:8] + [p - 0.1 for p in parent[8:]]
    assert not compare(parent, mixed, "higher")["gain"]
