"""File-per-row sinks (SURVEY §2.1 S8-S10).

Spark's writers emit ``part-*`` files; the reference needs NAMED
per-row files (main.py:100-103). So a sink job is ONE Spark pass: a
``foreachPartition`` writer whose Python loop renders and writes each
row on the executors, with the reference's behaviors kept per row:

- **skip-existing** (api.py:248-254): the writer checks
  ``os.path.exists`` just before it opens the target, the reference's
  own rule. A plan-level alternative (count the input, list the sink
  with ``binaryFile``, left-anti join) costs three extra Spark jobs
  and re-executes the whole sample plan only to derive ``skipped``.
- **per-row error tolerance** (api.py:344-346): an unsafe filename or
  a failed render/write counts the row as failed instead of aborting
  the job;
- **counts by accumulator**: written, skipped and failed are summed
  across tasks, so the result needs no second job. Totals are
  at-least-once under task retries or speculation.

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
    row of ``work`` in one ``foreachPartition`` pass. Returns
    {"written", "skipped", "failed"} counts."""
    os.makedirs(out_dir, exist_ok=True)
    sc = work.sparkSession.sparkContext
    written_acc = sc.accumulator(0)
    skipped_acc = sc.accumulator(0)
    failed_acc = sc.accumulator(0)

    def _write_partition(rows):
        for row in rows:
            try:
                name = row["filename"]
                # sinks are also fed by uploaded-parquet and crawl
                # jobs: a filename carrying a separator or absolute
                # path must not escape out_dir
                if (
                    not name
                    or os.path.basename(name) != name
                    or name in (os.curdir, os.pardir)
                ):
                    raise ValueError(f"unsafe filename: {name!r}")
                path = os.path.join(out_dir, name)
                if skip_existing and os.path.exists(path):
                    skipped_acc.add(1)
                    continue
                data = render(row)
                with open(path, "wb") as fh:
                    fh.write(data)
                written_acc.add(1)
            except Exception:
                failed_acc.add(1)

    work.foreachPartition(_write_partition)
    return {
        "written": written_acc.value,
        "skipped": skipped_acc.value,
        "failed": failed_acc.value,
    }


def _utf8_body(row: Row) -> bytes:
    return (row["body"] or "").encode("utf-8")


def write_files(df: DataFrame, out_dir: str) -> dict:
    """Write the ``body`` of each row to ``out_dir/<filename>`` as
    UTF-8, skipping files that already exist. Returns {"written": n,
    "skipped": n, "failed": n}, the counts of the reference's job
    result dict (api.py:87-88, api.py:369-372)."""
    work = df.select("filename", "body")
    return _write_rows(work, out_dir, _utf8_body, skip_existing=True)
