"""Per-change benchmark of the engine: three workloads, end-to-end
metrics with tracing off, per-layer metrics with tracing on.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The benchmark generates its tables,
pins every piece of mutable state (artifact store, warehouse, Spark
local dirs, temp dirs, service output root) under a fresh directory of
its own, starts one session, sets up, measures for ``--seconds``,
checks the outputs against DuckDB outside the timed region, stops the
JVM and removes its directory. The last stdout line is the result
object; the line before it is a detail record (host, seed, per-query
medians, tail percentile, checks). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)
NEEDED = ("__spark_entry__.py", "parquet_extractor_spark", "tools/check_oracle.py")
if __name__ == "__main__":
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
                 "run it from the root of a checkout of the engine")

import datagen  # noqa: E402
import workloads  # noqa: E402
from checks import (  # noqa: E402
    Oracle, check_markdown, check_pdfs, check_rows, compare, extract_oracle_sql,
    spark_side,
)
from probes import EXEC_KEYS, SparkProbe, descendants, scan_files, vmhwm_mb, wait_gone  # noqa: E402
from spans import Tracer, geomean, median, tail  # noqa: E402

OP_TIMEOUT_S = 60.0  # a query or job still running after this is failed
# Untimed warm passes after the cold one. The JVM's JIT keeps speeding
# passes up for about a minute; a fixed count of warm passes puts every
# run's timed window at the same point of that curve, whatever the
# host's speed.
WARM_PASSES = {"relational": 2, "curation": 3, "service_etl": 1}
POLL_S = 0.025
RUN_DIR = ".perfbench-run"
TRACE_DIR = ".perfbench-traces"

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    # session
    "session_start_s": "s", "release_s": "s", "cached_blocks": "count",
    "cache_entries": "count",
    # operators + pipelines (driver-side build)
    "build_s": "s", "build_jobs": "count",
    # sources
    "input_bytes": "bytes",
    # plans: Catalyst + codegen
    "plan_s": "s", "codegen_compiles": "count", "codegen_ms": "ms",
    # executor
    "exec_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "task_run_ms": "ms", "gc_ms": "ms",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "task_skew": "ratio",
    # artifacts + tiers (store)
    "store_writes": "count", "store_writes_setup": "count", "store_bytes": "bytes",
    # sinks
    "files_written": "count", "bytes_written": "bytes",
    # jobs (service)
    "submit_ms": "ms", "spark_active_s": "s", "job_overhead_s": "s",
    "blocks_at_job_end": "count",
    # self time per span, per pass
    "self_pass_s": "s", "self_query_s": "s", "self_build_s": "s",
    "self_plan_s": "s", "self_execute_s": "s", "self_release_s": "s",
    "self_job_s": "s", "self_submit_s": "s", "self_poll_s": "s",
    # cost of tracing: traced pass_s minus untraced pass_s
    "trace_overhead_pass_s": "s",
}


# per-op span -> summed per-layer metric
SPAN_METRICS = {"build": "build_s", "plan": "plan_s", "execute": "exec_s",
                "release": "release_s"}


class Tally:
    """Operations attempted and failed, with the reason of each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, ok: bool, what: str = "", err: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"{what}: {err}"[:300])
                print(f"perfbench: {what} failed: {err}"[:300], file=sys.stderr)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def run_attempt(spark, group: str, body, timeout_s: float) -> str | None:
    """Run ``body()`` on a thread under Spark job group ``group``;
    return None on success, else the error. A body that outlives
    ``timeout_s`` has its job group cancelled and counts as failed."""
    from pyspark import InheritableThread

    err: list[str] = []

    def target() -> None:
        try:
            spark.sparkContext.setJobGroup(group, group, interruptOnCancel=True)
            body()
        except Exception as exc:  # the failure is the measurement
            err.append(f"{type(exc).__name__}: {exc}"[:300])

    th = InheritableThread(target=target, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        th.join(30)
        return f"timeout after {timeout_s:.0f}s"
    return err[0] if err else None


class QueryRunner:
    """Serial closed loop over a registry query list: build the frame,
    write it to the noop sink, release cached blocks."""

    def __init__(self, bench: "Bench", names: list[str]):
        self.b = bench
        self.names = names
        self.queries = bench.entry.queries()
        self.samples: dict[str, list[float]] = {n: [] for n in names}
        self.passes: list[dict] = []

    def run_pass(self, pass_idx: int, traced: bool, kind: str) -> dict:
        """One pass in seeded order. ``kind`` is ``cold`` (the first,
        untimed pass: it collects each result for the oracle check
        instead of writing to noop), ``warm`` (untimed) or ``timed``."""
        b = self.b
        order = workloads.query_order(self.names, b.seed, pass_idx)
        tracer = b.tracer if traced else Tracer(False)
        store_before = b.store_files()
        rec = {"idx": pass_idx, "traced": traced, "queries": []}
        t0 = time.perf_counter()
        psid = tracer.new_id() if traced else None
        for name in order:
            rec["queries"].append(self._query(name, pass_idx, psid, tracer, kind))
        t1 = time.perf_counter()
        tracer.add(psid, "pass", t0, t1, b.run_span, f"pass{pass_idx}")
        rec["wall_s"] = t1 - t0
        rec["store_writes"] = len(set(b.store_files()) - set(store_before))
        if traced:
            b.probe.settle()
            for q in rec["queries"]:
                q["exec"] = b.probe.group_stats(q["group"], q.get("build_end_ms"))
        self.passes.append(rec)
        return rec

    def _query(self, name, pass_idx, psid, tracer, kind) -> dict:
        b = self.b
        fn = self.queries[name]
        group = f"perfbench-p{pass_idx}-{name}"
        q: dict = {"name": name, "group": group}
        marks: dict[str, tuple[float, float]] = {}
        if tracer.enabled:
            cg0 = b.probe.codegen()

        def body() -> None:
            t = time.perf_counter()
            df = fn(b.spark, b.data_dir)
            marks["build"] = (t, time.perf_counter())
            q["build_end_ms"] = time.time() * 1000.0
            if tracer.enabled:
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                marks["plan"] = (t, time.perf_counter())
            t = time.perf_counter()
            if kind == "cold":
                q["result"] = spark_side(df)
            else:
                df.write.format("noop").mode("overwrite").save()
            marks["execute"] = (t, time.perf_counter())

        t0 = time.perf_counter()
        err = run_attempt(b.spark, group, body, OP_TIMEOUT_S)
        t_done = time.perf_counter()
        if tracer.enabled:
            cg1 = b.probe.codegen()
            q["codegen_compiles"] = cg1[0] - cg0[0]
            q["codegen_ms"] = cg1[1] - cg0[1]
            q["cached_blocks"], q["cache_entries"] = b.probe.cached_blocks()
        t_r = time.perf_counter()
        b.release_cached(b.spark)
        marks["release"] = (t_r, time.perf_counter())
        t1 = time.perf_counter()
        b.tally.record(err is None, f"{name} (pass {pass_idx})", err or "")
        q["ok"] = err is None
        if err is None:
            q["latency_s"] = t_done - t0
            if kind == "timed":
                self.samples[name].append(t_done - t0)
        if tracer.enabled:
            qsid = tracer.new_id()
            tid = f"p{pass_idx}:{name}"
            tracer.add(qsid, "query", t0, t1, psid, tid)
            for span_name, (s, e) in marks.items():
                tracer.add(tracer.new_id(), span_name, s, e, qsid, tid)
        q["spans"] = {k: e - s for k, (s, e) in marks.items()}
        return q

    def verify(self) -> dict[str, str]:
        """Oracle check of every query's cold-pass result."""
        oracles = self.b.entry.oracle_sql()
        bad = {}
        for q in self.passes[0]["queries"]:
            if not q["ok"]:
                bad[q["name"]] = "failed in the cold pass"
                continue
            why = compare(q.pop("result"), self.b.oracle.run(oracles[q["name"]]))
            if why:
                bad[q["name"]] = why
        return bad


class ServiceRunner:
    """Two closed-loop clients of one job-service app on one session:
    submit, poll until terminal, submit the next. A round is one
    seeded batch of the job mix; it ends when both clients are done."""

    def __init__(self, bench: "Bench"):
        from parquet_extractor_spark.jobs.service import create_app

        self.b = bench
        self.app = create_app(bench.spark, bench.out_root)
        self.passes: list[dict] = []
        self.samples: dict[str, list[float]] = {k: [] for k, _ in workloads.SERVICE_KINDS}
        self.jobs: list[dict] = []

    def run_pass(self, pass_idx: int, traced: bool, kind: str) -> dict:
        b = self.b
        tracer = b.tracer if traced else Tracer(False)
        plans = workloads.service_round(b.seed, pass_idx, b.data_dir)
        rec = {"idx": pass_idx, "traced": traced, "jobs": []}
        psid = tracer.new_id() if traced else None
        lock = threading.Lock()
        store_before = b.store_files()

        def client(reqs) -> None:
            http = self.app.test_client()
            for req in reqs:
                job = self._job(http, req, psid, tracer)
                with lock:
                    rec["jobs"].append(job)

        threads = [threading.Thread(target=client, args=(p,)) for p in plans]
        t0 = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        t1 = time.perf_counter()
        tracer.add(psid, "pass", t0, t1, b.run_span, f"pass{pass_idx}")
        rec["wall_s"] = t1 - t0
        rec["store_writes"] = len(set(b.store_files()) - set(store_before))
        for job in rec["jobs"]:
            if kind == "timed" and job["ok"]:
                self.samples[job["kind"]].append(job["latency_s"])
            out = job["body"].get("subdir")
            if out:
                job["files"] = b.sink_files(out)
        if traced:
            b.probe.settle()
            for job in rec["jobs"]:
                if job.get("id"):
                    job["exec"] = b.probe.group_stats(job["id"])
        self.jobs.extend(rec["jobs"])
        self.passes.append(rec)
        return rec

    def _job(self, http, req, psid, tracer) -> dict:
        b = self.b
        job = {"kind": req.kind, "body": req.body, "ok": False}
        t0 = time.perf_counter()
        resp = http.post(req.path, json=req.body)
        t_sub = time.perf_counter()
        job["submit_ms"] = (t_sub - t0) * 1000.0
        if resp.status_code != 202:
            job["error"] = f"submit returned {resp.status_code}"
        else:
            job["id"] = resp.get_json()["job_id"]
            while True:
                state = http.get(f"/api/jobs/{job['id']}").get_json()
                if state["status"] != "running":
                    job.update(status=state["status"], result=state["result"],
                               error=state["error"])
                    break
                if time.perf_counter() - t0 > OP_TIMEOUT_S:
                    http.post(f"/api/jobs/{job['id']}/cancel")
                    job["error"] = f"timeout after {OP_TIMEOUT_S:.0f}s"
                    break
                time.sleep(POLL_S)
        t1 = time.perf_counter()
        job["ok"] = job.get("status") == "completed"
        job["latency_s"] = t1 - t0
        if tracer.enabled:
            job["blocks_at_job_end"] = b.probe.cached_blocks()[0]
            jsid = tracer.new_id()
            tid = job.get("id", "")
            tracer.add(jsid, "job", t0, t1, psid, tid)
            tracer.add(tracer.new_id(), "submit", t0, t_sub, jsid, tid)
            tracer.add(tracer.new_id(), "poll", t_sub, t1, jsid, tid)
        b.tally.record(job["ok"], f"{req.kind} job", job.get("error") or "not completed")
        return job

    def verify(self) -> dict[str, str]:
        """Check every job of the run (set-up and timed)."""
        from parquet_extractor_spark.operators.extract import sample_key_sql

        oracle = self.b.oracle
        registry_sql = self.b.entry.oracle_sql()
        cache: dict[str, tuple] = {}

        def side(key: str, sql: str) -> tuple:
            if key not in cache:
                cache[key] = oracle.run(sql)
            return cache[key]

        pdf_ids = side(
            "pdf", f"SELECT doc_id FROM documents ORDER BY doc_id "
            f"LIMIT {workloads.PDF_DOCS}"
        )[2]
        pdf_names = [f"{d:04d}.pdf" for (d,) in pdf_ids]
        bad = {}
        for i, job in enumerate(self.jobs):
            label = f"{job['kind']}#{i}"
            if not job["ok"]:
                bad[label] = f"status {job.get('status')}: {job.get('error')}"
                continue
            body, res = job["body"], job["result"]
            out = os.path.join(self.b.out_root, body.get("subdir", ""))
            if job["kind"] == "extract_documents":
                rows = side(
                    f"md{body['seed']}",
                    extract_oracle_sql(body["seed"], body["num_docs"], sample_key_sql),
                )[2]
                why = check_markdown(out, res, dict(rows))
            elif job["kind"] == "extract_pdf":
                why = check_pdfs(out, res, pdf_names)
            elif job["kind"] == "analyze_corpus":
                why = check_rows(
                    [res], side("corpus", registry_sql["corpus_stats"]), 1
                )
            else:
                name = dict(workloads.SERVICE_KINDS)[job["kind"]].rsplit("/", 1)[1]
                why = check_rows(
                    res["rows"], side(name, registry_sql[name]), body["limit"]
                )
            if why:
                bad[label] = why
        return bad


class Bench:
    """One benchmark run: pinned state, one session, set-up, timed
    passes, checks, teardown."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tally = Tally()
        self.tracer = Tracer(trace)
        self.run_span = self.tracer.new_id() if trace else None
        self.t_run0 = time.perf_counter()
        self.env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        self.nproc = len(os.sched_getaffinity(0))
        self.dir = os.path.join(ROOT, RUN_DIR, f"{workload}-{seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.dir, "data")
        self.store_root = os.path.join(self.dir, "store")
        self.out_root = os.path.join(self.dir, "outputs")
        self.spark = None
        self.oracle = None
        self._pin()

    def _pin(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("data", "store", "outputs", "warehouse", "spark-local", "tmp"):
            os.makedirs(os.path.join(self.dir, sub), mode=0o700)
        os.environ.update(
            SPARK_GRAFT_ARTIFACT_DIR=self.store_root,
            SPARK_GRAFT_WAREHOUSE=os.path.join(self.dir, "warehouse"),
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "spark-local"),
            TMPDIR=os.path.join(self.dir, "tmp"),
            SPARK_GRAFT_CPUS=str(self.nproc),
            SPARK_GRAFT_DRIVER_MEM="2g",
        )
        os.environ.pop("SPARK_GRAFT_NO_TIER_CACHE", None)

    def store_files(self) -> dict[str, int]:
        return scan_files(self.store_root)

    def sink_files(self, subdir: str) -> tuple[int, int]:
        files = scan_files(os.path.join(self.out_root, subdir))
        return len(files), sum(files.values())

    def start(self) -> None:
        datagen.write_tables(self.data_dir)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        import __spark_entry__ as entry
        from parquet_extractor_spark.session import get_spark, release_cached

        tmp = os.path.join(self.dir, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
        )
        self.session_start_s = time.perf_counter() - t0
        self.entry = entry
        self.release_cached = release_cached
        self.probe = SparkProbe(self.spark)

    def execute(self) -> tuple[dict, dict]:
        self.start()
        if self.workload == "service_etl":
            runner = ServiceRunner(self)
        else:
            runner = QueryRunner(self, workloads.QUERY_WORKLOADS[self.workload])
        cold = runner.run_pass(0, traced=False, kind="cold")
        warm = [runner.run_pass(1 + i, traced=False, kind="warm")
                for i in range(WARM_PASSES[self.workload])]
        self.setup_s = (self.session_start_s + cold["wall_s"]
                        + sum(p["wall_s"] for p in warm))

        # A traced run orders its passes untraced, traced, traced,
        # untraced, ... so the warm-up trend cancels out of the tracing
        # overhead; it runs at least one such block of four.
        t0 = time.perf_counter()
        timed: list[dict] = []
        while True:
            traced = self.trace and len(timed) % 4 in (1, 2)
            timed.append(runner.run_pass(len(runner.passes), traced=traced, kind="timed"))
            done = time.perf_counter() - t0 >= self.seconds
            if done and (not self.trace or len(timed) >= 4):
                break

        t_v = time.perf_counter()
        self.oracle = Oracle(self.data_dir)
        bad = runner.verify()
        self.verify_s = time.perf_counter() - t_v
        e2e = self._end_to_end(runner, timed)
        detail = self._detail(runner, bad, timed)
        metrics = e2e
        if self.trace:
            detail["end_to_end"] = e2e
            metrics = self._per_layer(runner, cold, timed)
            self.tracer.add(self.run_span, "run", self.t_run0, time.perf_counter(),
                            None, "run")
            self._dump_trace(detail)
        result = {
            "correct": not bad,
            "attempted": self.tally.attempted,
            "failed": self.tally.failed,
            "metrics": metrics,
        }
        return detail, result

    def _end_to_end(self, runner, timed) -> dict:
        per_kind = {k: median(v) for k, v in runner.samples.items() if v}
        n_ops = sum(len(v) for v in runner.samples.values())
        values = {
            "setup_s": self.setup_s,
            "op_geomean_s": geomean(per_kind.values()),
            "ops_per_s": n_ops / sum(p["wall_s"] for p in timed),
            "peak_rss_mb": (
                vmhwm_mb(os.getpid())
                + vmhwm_mb(self.spark.sparkContext._gateway.proc.pid)
            ),
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    def _per_layer(self, runner, cold, timed) -> dict:
        traced = [p for p in timed if p["traced"]]
        plain = [p for p in timed if not p["traced"]]
        ops_key = "jobs" if isinstance(runner, ServiceRunner) else "queries"
        per_pass: dict[str, list[float]] = {}
        for p in traced:
            sums: dict[str, float] = {}

            def add(key: str, v: float) -> None:
                sums[key] = sums.get(key, 0.0) + v

            for op in p[ops_key]:
                ex = op.get("exec", {})
                for k in EXEC_KEYS + ("build_jobs",):
                    add(k, ex.get(k, 0))
                sums["task_skew"] = max(sums.get("task_skew", 0.0), ex.get("task_skew", 0.0))
                for span_name, key in SPAN_METRICS.items():
                    add(key, op.get("spans", {}).get(span_name, 0.0))
                for k in ("codegen_compiles", "codegen_ms", "cached_blocks", "cache_entries"):
                    add(k, op.get(k, 0))
                files, size = op.get("files", (0, 0))
                add("files_written", files)
                add("bytes_written", size)
            roots = {s.sid for s in self.tracer.spans if s.name == "pass"
                     and s.trace_id == f"pass{p['idx']}"}
            for name, v in self.tracer.self_times(roots).items():
                sums[f"self_{name}_s"] = v
            for k, v in sums.items():
                per_pass.setdefault(k, []).append(v)
        values = {k: median(v) for k, v in per_pass.items() if k in PER_LAYER}
        jobs = [j for p in traced for j in p.get("jobs", []) if j["ok"]]
        if jobs:
            values["submit_ms"] = median(j["submit_ms"] for j in jobs)
            active = [j.get("exec", {}).get("spark_active_s", 0.0) for j in jobs]
            values["spark_active_s"] = median(active)
            values["job_overhead_s"] = median(
                j["latency_s"] - a for j, a in zip(jobs, active)
            )
            values["blocks_at_job_end"] = median(j["blocks_at_job_end"] for j in jobs)
        values["session_start_s"] = self.session_start_s
        values["store_writes"] = sum(p["store_writes"] for p in timed)
        values["store_writes_setup"] = cold["store_writes"]
        values["store_bytes"] = sum(self.store_files().values())
        values["trace_overhead_pass_s"] = (
            median(p["wall_s"] for p in traced) - median(p["wall_s"] for p in plain)
        )
        return {
            k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in PER_LAYER.items()
        }

    def _detail(self, runner, bad, timed) -> dict:
        lat = [s for v in runner.samples.values() for s in v]
        pct, tail_v = tail(lat)
        cold, warm = runner.passes[0], runner.passes[1:1 + WARM_PASSES[self.workload]]
        ops_key = "jobs" if isinstance(runner, ServiceRunner) else "queries"
        detail = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "host": self._host(),
            "setup": {
                "session_start_s": round(self.session_start_s, 3),
                "cold_pass_s": round(cold["wall_s"], 3),
                "warm_passes_s": [round(p["wall_s"], 3) for p in warm],
                "cold_op_s": {
                    op.get("name", op.get("kind")): round(op.get("latency_s", 0.0), 3)
                    for op in cold[ops_key]
                },
            },
            "verify_s": round(self.verify_s, 3),
            "run_s": round(time.perf_counter() - self.t_run0, 3),
            "passes": [round(p["wall_s"], 3) for p in timed],
            "pass_s": median(p["wall_s"] for p in timed if not p["traced"]),
            "per_op": {k: {"median_s": round(median(v), 4), "n": len(v)}
                       for k, v in runner.samples.items()},
            "tail": {"percentile": pct, "value_s": round(tail_v, 4), "n": len(lat)},
            "failed_frac": self.tally.failed_frac,
            "errors": self.tally.errors[:10],
            "check_failures": bad,
        }
        if isinstance(runner, ServiceRunner):
            wall = sum(p["wall_s"] for p in timed)
            files = sum(j.get("files", (0, 0))[0] for p in timed for j in p["jobs"])
            detail["jobs_per_s"] = round(
                sum(len(p["jobs"]) for p in timed) / wall, 4)
            detail["docs_written_per_s"] = round(files / wall, 2)
        return detail

    def _dump_trace(self, detail: dict) -> None:
        os.makedirs(os.path.join(ROOT, TRACE_DIR), exist_ok=True)
        path = os.path.join(ROOT, TRACE_DIR, f"{self.workload}-{self.seed}.json")
        self.tracer.dump(path)
        detail["trace_file"] = os.path.relpath(path, ROOT)

    def _host(self) -> dict:
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": self.nproc,
            "SPARK_GRAFT_CPUS": self.env_cpus,
            "ram_gib": round(mem_kb / 1024**2, 1),
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def close(self) -> None:
        """Stop the session and the JVM, wait for every process this
        run started, and remove the run directory."""
        if self.oracle is not None:
            self.oracle.close()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            kids = descendants(os.getpid())
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            for pid in wait_gone(kids, 15):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            wait_gone(kids, 5)
        shutil.rmtree(self.dir, ignore_errors=True)
        print(f"perfbench: run ended after {time.perf_counter() - self.t_run0:.1f}s",
              file=sys.stderr)
        try:
            os.rmdir(os.path.join(ROOT, RUN_DIR))
        except OSError:  # another run still owns a directory there
            pass


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        detail, result = bench.execute()
    finally:
        bench.close()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
