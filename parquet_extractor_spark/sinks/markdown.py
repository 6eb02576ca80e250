"""File-per-row sinks (SURVEY §2.1 S8-S10).

Spark's writers emit ``part-*`` files; the reference needs NAMED
per-row files (main.py:100-103). So a sink streams its rows to the
driver with ``toLocalIterator`` and renders and writes each file
there, with the reference's behaviors kept per row:

- **on the driver, with no Python worker**: ``toLocalIterator`` runs
  one JVM-only Spark job per input partition and holds at most one
  partition in driver memory. An executor-side ``foreachPartition``
  writer would start a PySpark worker for every task, a fixed
  0.15-0.33 s per job on a 4-vCPU host against 0.03-0.04 s for a
  JVM-only job, several times what rendering 200 PDFs costs. The
  driver is also where the files belong: the job service lists,
  serves and deletes them from its driver-local output root. Every
  caller in the package feeds one partition (a sampled
  ``TakeOrderedAndProject`` head, an ``orderBy.limit``, a coalesced
  crawl, one ``wholetext`` file), so each sink stays one Spark job and
  loses no executor parallelism.
- **skip-existing** (api.py:248-254): the writer checks
  ``os.path.exists`` just before it opens the target, the reference's
  own rule. A plan-level alternative (count the input, list the sink
  with ``binaryFile``, left-anti join) costs three extra Spark jobs
  and re-executes the whole sample plan only to derive ``skipped``.
- **per-row error tolerance** (api.py:344-346): an unsafe filename or
  a failed render/write counts the row as failed instead of aborting
  the job;
- **exact counts**: written, skipped and failed are counted in the
  one loop that writes, so a retried or speculative task cannot count
  a row twice.

Cancelling the job group interrupts the Spark job that is fetching a
partition; rows already on the driver, at most one partition, are
still written.

The PDF sink (``sinks/pdf.py``) runs through the same loop.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Row


def _write_rows(
    work: DataFrame,
    out_dir: str,
    render: Callable[[Row], bytes],
    skip_existing: bool,
) -> dict:
    """Write ``render(row)`` to ``out_dir/<row.filename>`` for every
    row of ``work``, on the driver. Returns {"written", "skipped",
    "failed"} counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {"written": 0, "skipped": 0, "failed": 0}
    for row in work.toLocalIterator():
        try:
            name = row["filename"]
            # sinks are also fed by uploaded-parquet and crawl jobs: a
            # filename carrying a separator or absolute path must not
            # escape out_dir
            if (
                not name
                or os.path.basename(name) != name
                or name in (os.curdir, os.pardir)
            ):
                raise ValueError(f"unsafe filename: {name!r}")
            path = os.path.join(out_dir, name)
            if skip_existing and os.path.exists(path):
                counts["skipped"] += 1
                continue
            data = render(row)
            with open(path, "wb") as fh:
                fh.write(data)
            counts["written"] += 1
        except Exception:
            counts["failed"] += 1
    return counts


def _utf8_body(row: Row) -> bytes:
    return (row["body"] or "").encode("utf-8")


def write_files(df: DataFrame, out_dir: str) -> dict:
    """Write the ``body`` of each row to ``out_dir/<filename>`` as
    UTF-8, skipping files that already exist. Returns {"written": n,
    "skipped": n, "failed": n}, the counts of the reference's job
    result dict (api.py:87-88, api.py:369-372)."""
    work = df.select("filename", "body")
    return _write_rows(work, out_dir, _utf8_body, skip_existing=True)
