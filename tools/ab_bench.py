"""A/B the per-change benchmark: a parent revision against ``HEAD``.

Usage: python tools/ab_bench.py --parent <rev> --workload <w> --pairs N
           [--first-seed K] [--log runs.jsonl]

Exports the committed files of ``<rev>`` and of ``HEAD`` into a
temporary directory (``git archive``, so nothing is registered in this
repository, an interrupted run leaves no worktree behind, and
uncommitted edits in this checkout never reach either side; commit
first), reads ``BENCHMARK.json`` from the parent's export, then runs
``perfbench/run.py --workload <w> --seed <s> --trace 0`` for the
``run_seconds`` of ``BENCHMARK.json``, once on each side per pair,
seeds K..K+N-1, alternating which side goes first. Each pair's end-to-end metrics and check status are
printed as it finishes. The summary gives, per end-to-end metric of
``BENCHMARK.json`` and per operation, the median and quartiles of each
side, the pairs the change wins, and whether the gain rule holds: the
change wins at least 9 pairs in 10 and its median beats the parent's
by more than the parent's interquartile range. It also flags a metric
whose median is worse than the parent's by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev: str, dest: str) -> None:
    """Write the committed tree of ``rev`` into ``dest``."""
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in checkout ``root``: its detail and result
    records, or an ``error`` entry when it printed no result."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        return {"error": f"exit {proc.returncode}: {proc.stderr[-300:]}"}
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def compare(parent: list[float], change: list[float], better: str,
            bound: float | None = None) -> dict:
    """Pairwise comparison of one metric; ``parent[i]`` and
    ``change[i]`` come from the same seed."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (cm - pm)
    out = {
        "parent": (pm, p1, p3), "change": (cm, c1, c3),
        "rel": (cm - pm) / pm if pm else float("nan"),
        "wins": wins, "pairs": len(parent),
        "gain": wins >= 0.9 * len(parent) and gap > p3 - p1,
    }
    if bound is not None:
        out["regressed"] = -sign * out["rel"] > bound
    return out


def _metric(rec: dict, name: str) -> float:
    return rec["result"]["metrics"][name]["value"]


def _row(name: str, c: dict) -> str:
    pm, p1, p3 = c["parent"]
    cm, c1, c3 = c["change"]
    line = (f"{name:<24} {pm:10.4g} [{p1:.4g}, {p3:.4g}] -> {cm:10.4g} "
            f"[{c1:.4g}, {c3:.4g}] {c['rel']:+7.1%}  wins {c['wins']}/"
            f"{c['pairs']}  gain {'yes' if c['gain'] else 'no'}")
    if c.get("regressed"):
        line += "  WORSE THAN BOUND"
    return line


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--log", help="append every run's records to this JSONL file")
    args = ap.parse_args(argv)

    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    tmp = tempfile.mkdtemp(prefix="ab_bench_")
    try:
        roots = {}
        for side, rev in (("parent", args.parent), ("change", "HEAD")):
            roots[side] = os.path.join(tmp, side)
            os.makedirs(roots[side])
            export_rev(rev, roots[side])
        with open(os.path.join(roots["parent"], "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        seconds = spec["run_seconds"]
        metrics = spec["end_to_end"]
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                rec = run_once(roots[side], args.workload, seed, seconds)
                rec.update(side=side, seed=seed, workload=args.workload)
                runs[side].append(rec)
                if args.log:
                    with open(args.log, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
            print(f"pair {i + 1} seed {seed} first={order[0]}", flush=True)
            for side in ("parent", "change"):
                rec = runs[side][-1]
                if "error" in rec:
                    print(f"  {side:<6} ERROR {rec['error']}", flush=True)
                    continue
                res = rec["result"]
                vals = " ".join(f"{m['name']}={_metric(rec, m['name']):.4g}"
                                for m in metrics)
                print(f"  {side:<6} correct={res['correct']} failed={res['failed']}"
                      f"/{res['attempted']} {vals}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ok = [i for i in range(args.pairs)
          if "error" not in runs["parent"][i] and "error" not in runs["change"][i]]
    if not ok:
        print("no pair completed on both sides")
        return 1
    print(f"\n{args.workload}: {len(ok)} complete pairs, parent {args.parent}")
    for m in metrics:
        name = m["name"]
        vals = {s: [_metric(runs[s][i], name) for i in ok] for s in runs}
        print(_row(name, compare(vals["parent"], vals["change"], m["better"],
                                 m.get("bound"))))
    ops = set.intersection(*(set(runs[s][i]["detail"].get("per_op", {}))
                             for s in runs for i in ok))
    for op in sorted(ops):
        vals = {s: [runs[s][i]["detail"]["per_op"][op]["median_s"] for i in ok]
                for s in runs}
        print(_row(f"  {op}", compare(vals["parent"], vals["change"], "lower")))
    bad = [r for s in runs for r in runs[s]
           if "error" in r or not r["result"]["correct"] or r["result"]["failed"]]
    print(f"runs not correct or with failed ops: {len(bad)}")
    return 0 if not bad else 1


if __name__ == "__main__":
    raise SystemExit(main())
