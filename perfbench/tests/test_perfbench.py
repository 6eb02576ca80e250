"""Self-tests of the benchmark: no Spark session, no JVM.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, tail  # noqa: E402


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_same_seed_same_requests():
    for names in workloads.QUERY_WORKLOADS.values():
        assert workloads.query_order(names, 7, 3) == workloads.query_order(names, 7, 3)
        assert sorted(workloads.query_order(names, 7, 3)) == sorted(names)
    a = workloads.service_round(7, 2, "d")
    b = workloads.service_round(7, 2, "d")
    assert a == b
    assert a != workloads.service_round(8, 2, "d")
    assert len(a) == workloads.SERVICE_CLIENTS
    for client in a:
        kinds = sorted(r.kind for r in client)
        assert kinds == sorted(k for k, _ in workloads.SERVICE_KINDS)
    subdirs = [r.body["subdir"] for c in a for r in c if "subdir" in r.body]
    assert len(subdirs) == len(set(subdirs))


class _Ctx:
    def setJobGroup(self, *a, **k):
        pass

    def cancelJobGroup(self, *a):
        pass


class _Spark:
    sparkContext = _Ctx()


class _Frame:
    """Stands in for a DataFrame: ``write.format(..).mode(..).save()``."""

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


class _Entry:
    @staticmethod
    def queries():
        def ok(spark, sf_dir):
            return _Frame()

        def boom(spark, sf_dir):
            raise RuntimeError("broken operator")

        return {"ok": ok, "boom": boom}


class _Bench:
    seed = 1
    data_dir = "unused"
    run_span = None
    spark = _Spark()
    entry = _Entry()
    tracer = Tracer(False)

    def __init__(self):
        self.tally = run.Tally()

    def store_files(self):
        return {}

    @staticmethod
    def release_cached(spark):
        pass


def test_a_raising_query_counts_as_failed():
    bench = _Bench()
    runner = run.QueryRunner(bench, ["ok", "boom"])
    rec = runner.run_pass(2, traced=False, kind="timed")
    assert bench.tally.attempted == 2
    assert bench.tally.failed == 1
    assert bench.tally.failed_frac == 0.5
    assert "broken operator" in bench.tally.errors[0]
    assert {q["name"]: q["ok"] for q in rec["queries"]} == {"ok": True, "boom": False}
    assert runner.samples["boom"] == [] and len(runner.samples["ok"]) == 1


def test_tampered_query_result_fails():
    duck = (["k", "v"], ["BIGINT", "DOUBLE"], [(1, 0.5), (2, 1.25)])
    spark = (["v", "k"], ["double", "bigint"], [(1.25, 2), (0.5, 1)])
    assert checks.compare(spark, duck) is None
    tampered = (["v", "k"], ["double", "bigint"], [(1.25, 2), (0.75, 1)])
    assert "values differ" in checks.compare(tampered, duck)
    short = (["v", "k"], ["double", "bigint"], [(1.25, 2)])
    assert "row count" in checks.compare(short, duck)


def test_tampered_markdown_fails(tmp_path):
    bodies = {"0001_document_3.md": "a", "0002_document_1.md": "b"}
    for name, body in bodies.items():
        (tmp_path / name).write_text(body)
    expected = {n: hashlib.md5(b.encode()).hexdigest() for n, b in bodies.items()}
    assert checks.check_markdown(str(tmp_path), {"written": 2}, expected) is None
    assert "job reported" in checks.check_markdown(str(tmp_path), {"written": 3}, expected)
    (tmp_path / "0002_document_1.md").write_text("tampered")
    assert "differs" in checks.check_markdown(str(tmp_path), {"written": 2}, expected)


def test_tampered_job_rows_fail():
    oracle = (["term", "score"], ["VARCHAR", "DOUBLE"], [("a", 1.0), ("b", 2.0), ("c", 3.0)])
    rows = [{"term": "b", "score": 2.0}, {"term": "a", "score": 1.0}]
    assert checks.check_rows(rows, oracle, 2) is None
    assert "expected 3" in checks.check_rows(rows, oracle, 20)
    rows[0]["score"] = 2.5
    assert "not in the oracle" in checks.check_rows(rows, oracle, 2)


def test_self_time_and_tail():
    t = Tracer(True)
    t.add(0, "pass", 0.0, 10.0, None, "p")
    t.add(1, "query", 1.0, 5.0, 0, "q")
    t.add(2, "build", 1.0, 2.0, 1, "q")
    t.add(3, "execute", 1.5, 4.0, 1, "q")
    self_s = t.self_times({0})
    assert self_s == {"pass": 6.0, "query": 1.0, "build": 1.0, "execute": 2.5}
    assert tail([float(i) for i in range(30)]) == (66.7, 19.0)
    assert tail([1.0, 2.0, 3.0]) == (50.0, 2.0)
