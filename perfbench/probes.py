"""Read the program's state from outside: Spark's own counters over
py4j, the pinned store and output directories, and ``/proc``.

Nothing here changes what the program does; every read is a public or
JVM-visible accessor of the running session.
"""

from __future__ import annotations

import os
import time

EXEC_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_run_ms", "gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkProbe:
    """Counters of one SparkSession, read through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._cache = spark._jsparkSession.sharedState().cacheManager()
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def codegen(self) -> tuple[int, float]:
        """(classes compiled so far, compile milliseconds so far)."""
        return (
            int(self._codegen_hist.getCount()),
            self._codegen.compileTime() / 1e6,
        )

    def cached_blocks(self) -> tuple[int, int]:
        """(persistent RDDs, CacheManager entries) alive right now."""
        return (
            int(self._sc._jsc.getPersistentRDDs().size()),
            int(self._cache.cachedData().size()),
        )

    def settle(self, timeout_ms: int = 10_000) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final numbers of finished jobs."""
        self._bus.waitUntilEmpty(timeout_ms)

    def group_stats(self, group: str, build_end_ms: float | None = None) -> dict:
        """Executor totals of one job group, read from the session's
        AppStatusStore. ``build_jobs`` counts jobs submitted before
        ``build_end_ms`` (epoch ms); ``spark_active_s`` spans the
        group's first job submission to its last completion."""
        out = dict.fromkeys(EXEC_KEYS, 0)
        out.update(build_jobs=0, task_skew=0.0, spark_active_s=0.0)
        first, last = None, None
        seen: set[int] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub = _opt_ms(job.submissionTime())
            end = _opt_ms(job.completionTime())
            if sub is not None:
                first = sub if first is None else min(first, sub)
                if build_end_ms is not None and sub < build_end_ms:
                    out["build_jobs"] += 1
            if end is not None:
                last = end if last is None else max(last, end)
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid not in seen:
                    seen.add(sid)
                    self._add_stage(out, sid)
        if first is not None and last is not None:
            out["spark_active_s"] = max(0.0, (last - first) / 1000.0)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # py4j: a stage the store never saw
            return
        if st.status().toString() in ("PENDING", "SKIPPED"):
            return
        tasks = int(st.numTasks())
        out["stages"] += 1
        out["tasks"] += tasks
        out["failed_tasks"] += int(st.numFailedTasks())
        out["task_run_ms"] += int(st.executorRunTime())
        out["gc_ms"] += int(st.jvmGcTime())
        out["input_bytes"] += int(st.inputBytes())
        out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        if tasks < 2:
            return
        summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = float(run.apply(0)), float(run.apply(1))
            if med > 0:
                out["task_skew"] = max(out["task_skew"], top / med)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def scan_files(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out: dict[str, int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:  # a temp file renamed away mid-walk
                pass
    return out


def vmhwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from ``/proc``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces; the ppid is the 2nd field after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.time() + timeout_s
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive
