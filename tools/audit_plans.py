"""Generate PLANS.md: a physical-plan audit of every declared query.

For each `queries()` entry, builds the DataFrame lazily at
$SPARK_GRAFT_SF_DIR (default sf0.01) and records the plan properties
that matter at cluster scale: scan count, pruned column counts, filter
pushdown, join strategies, partial aggregation, whole-stage codegen
span count, and the cached and checkpointed leaves the plan reads
instead of a scan. Run after adding operators; commit the regenerated
file so plan regressions show up in diffs.

    python tools/audit_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

JOIN_KINDS = [
    ("BroadcastHashJoin", "BHJ"),
    ("SortMergeJoin", "SMJ"),
    ("BroadcastNestedLoopJoin", "BNLJ"),
    ("ShuffledHashJoin", "SHJ"),
]


def main() -> None:
    import __spark_entry__ as entrymod
    from parquet_extractor_spark.plans.explain import (
        formatted_plan,
        pushed_filters,
        read_schema_columns,
        whole_stage_codegen_ids,
    )
    from parquet_extractor_spark.session import get_spark

    # AQE off for the audit only: adaptive plans defer join selection
    # and codegen fusing to runtime, so the static plan wouldn't show
    # them. Production (and all tests) keep AQE on.
    spark = get_spark(
        "audit-plans",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    rows = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as exc:
            rows.append((name, f"ERROR: {type(exc).__name__}", "", "", "", "", ""))
            continue
        scans = read_schema_columns(df)
        scan_desc = "+".join(str(len(s)) for s in scans) or "0"
        joins = " ".join(
            f"{abbr}x{plan.count(kind)}"
            for kind, abbr in JOIN_KINDS
            if plan.count(kind)
        )
        n_agg = len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan))
        pushed = "yes" if pushed_filters(df) else "-"
        # leaves a materialize()d frame leaves in the plan: a lazily
        # persisted one is read by InMemoryTableScan (its parquet scan
        # prints once however often it is read), a checkpoint by
        # Scan ExistingRDD (no parquet scan left at all)
        held = " ".join(
            f"{abbr} {n}"
            for abbr, n in (
                ("mem", len(re.findall(r"^\(\d+\) InMemoryTableScan", plan, re.M))),
                ("ckpt", len(re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M))),
            )
            if n
        )
        rows.append(
            (
                name,
                f"{len(scans)} ({scan_desc} cols)",
                pushed,
                joins or "-",
                str(n_agg),
                str(whole_stage_codegen_ids(df)),
                held or "-",
            )
        )

    out = [
        "# PLANS — physical-plan audit (auto-generated by tools/audit_plans.py)",
        "",
        f"Plan properties of every `queries()` entry at `{SF_DIR}`.",
        "scans = parquet scans (columns read per scan); pushdown = any",
        "PushedFilters present; joins = strategy x count; aggs =",
        "aggregate operators (2 per logical agg ⇒ partial+final); wsc =",
        "whole-stage codegen spans; cached = leaves read from a",
        "materialized frame instead of a scan (mem = InMemoryTableScan of",
        "a persisted frame, ckpt = Scan ExistingRDD of a checkpoint). The",
        "scans column counts only the parquet scans left in the plan.",
        "",
        "| query | scans | pushdown | joins | aggs | wsc | cached |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(r) + " |")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
