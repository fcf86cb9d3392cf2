"""Rank per-layer metrics by how much they moved between two traced runs.

    python3 perfbench/layer_diff.py BEFORE AFTER

BEFORE and AFTER are files (or directories of files) holding the
standard output of `perfbench/run.py ... --trace 1`. Several runs of a
workload on one side are averaged. For each workload the per-layer
metrics are all listed by the size of their relative change, so a change
can show which layer its saving sits in. Records from different hosts
are refused: their numbers are not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict


def load_records(path: str) -> list[dict]:
    """Every traced perfbench record in a file or a directory of files."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    out = []
    for name in files:
        with open(name) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("record") == "perfbench" and rec.get("trace") == 1:
                    out.append(rec)
    return out


def mean_metrics(records: list[dict]) -> dict[str, dict[str, float]]:
    """{workload: {metric: mean over that workload's records}}."""
    sums: dict = defaultdict(lambda: defaultdict(float))
    counts: dict = defaultdict(int)
    for r in records:
        counts[r["workload"]] += 1
        for k, v in r["metrics"].items():
            sums[r["workload"]][k] += v
    return {w: {k: v / counts[w] for k, v in m.items()} for w, m in sums.items()}


def rank(before: dict[str, float], after: dict[str, float]) -> list[tuple]:
    """[(metric, before, after, relative change)], largest change first;
    a metric that appears from zero ranks first (relative change inf)."""
    rows = []
    for k in sorted(set(before) | set(after)):
        a, b = before.get(k, 0.0), after.get(k, 0.0)
        if a == b:
            rel = 0.0
        elif a == 0.0:
            rel = float("inf")
        else:
            rel = (b - a) / abs(a)
        rows.append((k, a, b, rel))
    return sorted(rows, key=lambda r: -abs(r[3]))


def diff(before: list[dict], after: list[dict]) -> dict[str, list[tuple]]:
    hosts = {json.dumps(r["host"], sort_keys=True) for r in before + after}
    if len(hosts) > 1:
        raise ValueError(f"records come from different hosts: {sorted(hosts)}")
    a, b = mean_metrics(before), mean_metrics(after)
    return {w: rank(a[w], b[w]) for w in sorted(set(a) & set(b))}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    try:
        table = diff(load_records(args.before), load_records(args.after))
    except ValueError as e:
        print(f"layer_diff: {e}", file=sys.stderr)
        return 2
    if not table:
        print("layer_diff: no workload has traced records on both sides",
              file=sys.stderr)
        return 2
    for workload, rows in table.items():
        print(f"== {workload}")
        for name, a, b, rel in rows:
            print(f"  {name:36s} {a:14.6g} -> {b:14.6g}  {rel:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
