"""Unit tests for bench.py's harness logic that must not depend on a
SparkSession: the compact-payload trimmer and the chunked
orchestrator's merge/accounting (children mocked — no JVMs)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_compact_payload_fits_limit_and_records_trim():
    queries = {f"q{i:03d}": 1.234 for i in range(400)}
    payload = {
        "metric": "headline_queries_total",
        "value": 493.6,
        "unit": "sec",
        "mode": "inprocess",
        "queries": queries,
        "sf": 0.1,
    }
    out = bench._compact(payload)
    assert len(json.dumps(out)) <= bench._COMPACT_LIMIT
    assert out["n"] == 400
    assert out["omitted"] == 400 - len(out["queries"])
    assert out["omitted"] > 0
    assert out["mode"] == "inprocess"
    # bench order preserved: the surviving entries are the head
    assert list(out["queries"]) == list(queries)[: len(out["queries"])]


def test_compact_payload_carries_heavy_tail():
    """The ten most expensive queries must reach the driver even when
    the bench-order trim would drop them (r10 verdict item 7)."""
    queries = {f"q{i:03d}": 0.5 for i in range(400)}
    queries["q399"] = 99.9  # dead last in bench order
    queries["q250"] = 42.0
    payload = {
        "metric": "headline_queries_total",
        "value": 341.4,
        "unit": "sec",
        "mode": "inprocess",
        "queries": queries,
        "sf": 0.1,
    }
    out = bench._compact(payload)
    assert len(json.dumps(out)) <= bench._COMPACT_LIMIT
    assert list(out["slowest"])[:2] == ["q399", "q250"]
    assert len(out["slowest"]) == 10
    assert out["slowest"]["q399"] == 99.9


def test_orchestrator_merges_chunk_payloads(monkeypatch, tmp_path, capsys):
    """Each mocked child writes its chunk's payload to the TEMP path
    the orchestrator hands it (SPARK_GRAFT_BENCH_PAYLOAD — never the
    git-tracked BENCH_LOCAL.json, r10 advice); the orchestrator must
    merge timings in bench order, propagate errors/skips, flag chunk
    members missing from a child payload instead of silently dropping
    them, and label the merged payload mode=chunked."""
    local = tmp_path / "BENCH_LOCAL.json"
    monkeypatch.setattr(bench, "_local_json_path", lambda: str(local))

    bench_set = [f"q{i}" for i in range(6)]
    calls = []
    child_paths = []

    class FakeProc:
        returncode = 0
        stderr = ""

    def fake_run(cmd, env=None, capture_output=True, text=True, timeout=0):
        chunk = env["SPARK_GRAFT_BENCH_ONLY"].split(",")
        calls.append(chunk)
        child_paths.append(env["SPARK_GRAFT_BENCH_PAYLOAD"])
        # the committed artifact must not exist mid-run (children
        # never touch it; the orchestrator writes it once at the end)
        assert not local.exists()
        part = {
            "queries": {n: 1.0 for n in chunk if n != "q4"},
            "sf": 0.1,
            "mode": "inprocess",
        }
        if "q4" in chunk:
            part["errors"] = {"q4": "boom"}
        with open(env["SPARK_GRAFT_BENCH_PAYLOAD"], "w") as fh:
            json.dump(part, fh)
        return FakeProc()

    import subprocess

    monkeypatch.setattr(subprocess, "run", fake_run)

    bench._orchestrate(bench_set, chunk_size=3)
    captured = capsys.readouterr()
    payload = json.loads(open(local).read())
    assert calls == [bench_set[:3], bench_set[3:]]
    assert all(p != str(local) for p in child_paths)
    assert list(payload["queries"]) == ["q0", "q1", "q2", "q3", "q5"]
    assert payload["errors"] == {"q4": "boom"}
    assert payload["mode"] == "chunked"
    assert "skipped" not in payload
    # the child temp payload is cleaned up after the merge
    assert not os.path.exists(child_paths[0])
    last = captured.out.strip().splitlines()[-1]
    compact = json.loads(last)
    assert compact["n"] == 5 and compact["errors"] == 1
    assert compact["mode"] == "chunked"


def test_orchestrator_flags_missing_and_stale_payload(
    monkeypatch, tmp_path, capsys
):
    """A child that crashes before writing a payload must surface
    every chunk member as an error (the pre-launch payload delete
    prevents a stale read) — and a PRE-EXISTING committed
    BENCH_LOCAL.json survives untouched until the final merge write
    (r10 advice: a dead orchestrator must not leave it deleted)."""
    local = tmp_path / "BENCH_LOCAL.json"
    monkeypatch.setattr(bench, "_local_json_path", lambda: str(local))
    # committed artifact from some previous run
    with open(local, "w") as fh:
        json.dump({"queries": {"zz": 9.9}}, fh)

    class FakeProc:
        returncode = 1
        stderr = ""

    def fake_run(cmd, env=None, capture_output=True, text=True, timeout=0):
        # mid-run, the previous committed artifact is still intact
        assert json.loads(open(local).read())["queries"] == {"zz": 9.9}
        return FakeProc()  # writes nothing

    import subprocess

    monkeypatch.setattr(subprocess, "run", fake_run)
    bench._orchestrate(["a", "b"], chunk_size=2)
    capsys.readouterr()
    payload = json.loads(open(local).read())
    assert payload["queries"] == {}
    assert set(payload["errors"]) == {"a", "b"}
    assert "stale" not in json.dumps(payload)


def test_child_payload_path_env_routing(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PAYLOAD", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONLY", raising=False)
    assert bench._child_payload_path() == bench._local_json_path()
    # BENCH_ONLY adjudication runs must not clobber the committed
    # artifact: payload goes to a temp sidecar
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "corpus_stats")
    assert bench._child_payload_path() != bench._local_json_path()
    # an explicit payload path (chunk children) wins over both
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PAYLOAD", "/tmp/x.json")
    assert bench._child_payload_path() == "/tmp/x.json"


def test_cold_store_mode_routes_and_tags(monkeypatch):
    """SPARK_GRAFT_BENCH_COLD_STORE=1 (r13): payloads go to
    BENCH_COLD.json, carry "store": "cold", and the compact line
    preserves the tag; default runs stay "warm" in BENCH_DRIVER.json."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_CANONICAL", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_COLD_STORE", raising=False)
    assert bench._local_json_path().endswith("BENCH_DRIVER.json")
    assert not bench._cold_store()

    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLD_STORE", "1")
    assert bench._cold_store()
    assert bench._local_json_path().endswith("BENCH_COLD.json")
    # cold beats canonical when both are set
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CANONICAL", "1")
    assert bench._local_json_path().endswith("BENCH_COLD.json")

    payload = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "mode": "inprocess",
        "store": "cold",
        "queries": {"q": 1.0},
        "sf": 0.1,
    }
    out = bench._compact(payload)
    assert out["store"] == "cold"


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
