"""The job service's status table is bounded at ``MAX_JOBS``: the oldest
terminal jobs go first and a running job is never dropped. Filled with
fake entries; no real job or thread is started."""

import pytest

from parquet_extractor_spark.constants import MAX_JOBS
from parquet_extractor_spark.jobs import service


@pytest.fixture()
def empty_table(monkeypatch):
    monkeypatch.setattr(service, "jobs", {})
    return service


def _fake(svc, job_id: str, status: str) -> None:
    svc.jobs[job_id] = {"id": job_id, "status": status, "log": []}


def test_oldest_terminal_jobs_are_evicted_past_the_cap(empty_table):
    svc = empty_table
    _fake(svc, "running-0", "running")
    for i in range(MAX_JOBS - 1):
        _fake(svc, f"done-{i}", ("completed", "failed", "cancelled")[i % 3])
    assert len(svc.jobs) == MAX_JOBS

    new = svc._register_job("probe", {})
    assert len(svc.jobs) == MAX_JOBS
    # the oldest entry is running and stays; the oldest terminal goes
    assert "running-0" in svc.jobs and "done-0" not in svc.jobs
    assert "done-1" in svc.jobs and new in svc.jobs

    svc._register_job("probe", {})
    assert "done-1" not in svc.jobs and len(svc.jobs) == MAX_JOBS


def test_running_jobs_are_never_evicted(empty_table):
    svc = empty_table
    for i in range(MAX_JOBS):
        _fake(svc, f"run-{i}", "running")
    new = svc._register_job("probe", {})
    assert len(svc.jobs) == MAX_JOBS + 1
    assert all(j["status"] == "running" for j in svc.jobs.values())
    assert new in svc.jobs


def test_log_of_an_evicted_job_is_dropped(empty_table):
    svc = empty_table
    svc.job_log("gone", "late message")  # no KeyError
    assert svc.jobs == {}


def test_concurrent_registration_keeps_every_running_job(empty_table, monkeypatch):
    """Threads register jobs and finish half of them while others
    register: no running job is lost, and once running jobs alone pass
    the cap every finished job has been dropped."""
    import sys
    import threading

    svc = empty_table
    cap = 50
    monkeypatch.setattr(svc, "MAX_JOBS", cap)
    running: list[str] = []

    def worker() -> None:
        for i in range(200):
            job_id = svc._register_job("stress", {})
            if i % 2:
                with svc._jobs_lock:
                    svc.jobs[job_id]["status"] = "completed"
            else:
                running.append(job_id)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(running) == 800
    assert all(job_id in svc.jobs for job_id in running)
    svc._register_job("last", {})
    assert len(svc.jobs) == len(running) + 1
