#!/usr/bin/env python3
"""Print a traced perfbench span file as a per-op tree.

    python3 scripts/span_tree.py perfbench/.out/vector_serving-seed930.spans.json
    python3 scripts/span_tree.py --diff BEFORE.spans.json AFTER.spans.json

A span file is what `perfbench/run.py --trace 1` writes: a JSON list of
spans with `id`, `parent`, `name`, `kind`, `start_us`, `end_us` and
`attrs`. Ops are the spans whose attrs carry `"op": true`. For each op the
tree shows every SQL execution under it (`spark.sql`: its call site, its
jobs, their summed seconds, planning ms and broadcasts) and the Spark jobs
that ran outside any SQL execution.

`--diff A B` groups ops by name and prints, per op name, the mean per op of
wall seconds, SQL executions, jobs, job seconds, planning ms and broadcasts
in A and in B, and B minus A.

The script only reads the files it is given.
"""
import argparse
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return json.load(f)


def secs(span):
    return (span["end_us"] - span["start_us"]) / 1e6


def children_of(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for v in kids.values():
        v.sort(key=lambda s: (s["start_us"], s["id"]))
    return kids


def op_stats(op, kids):
    """The SQL executions and the loose jobs anywhere under one op."""
    execs, loose = [], []
    stack = [op]
    while stack:
        s = stack.pop()
        for c in kids.get(s["id"], []):
            if c["kind"] == "spark.sql":
                jobs = [j for j in kids.get(c["id"], [])
                        if j["kind"] == "spark.job"]
                execs.append((c, jobs))
            elif c["kind"] == "spark.job":
                loose.append(c)
            else:
                stack.append(c)
    execs.sort(key=lambda e: e[0]["start_us"])
    loose.sort(key=lambda j: j["start_us"])
    return execs, loose


def summary(op, kids):
    execs, loose = op_stats(op, kids)
    jobs = [j for _, js in execs for j in js] + loose
    return {
        "wall_s": secs(op),
        "sql": len(execs),
        "jobs": len(jobs),
        "job_s": sum(secs(j) for j in jobs),
        "planning_ms": sum(e["attrs"].get("planning_ms", 0) for e, _ in execs),
        "broadcasts": sum(e["attrs"].get("broadcasts", 0) for e, _ in execs),
    }


def ops_of(spans):
    return [s for s in sorted(spans, key=lambda s: (s["start_us"], s["id"]))
            if s.get("attrs", {}).get("op")]


def tree(spans, out):
    kids = children_of(spans)
    for op in ops_of(spans):
        t = summary(op, kids)
        out.write(f"{op['name']} [{op['kind']}] {t['wall_s']:.3f}s: "
                  f"{t['sql']} sql, {t['jobs']} jobs {t['job_s']:.3f}s, "
                  f"planning {t['planning_ms']}ms, "
                  f"{t['broadcasts']} broadcasts\n")
        execs, loose = op_stats(op, kids)
        for e, jobs in execs:
            site = e["attrs"].get("description", "")
            out.write(f"  sql {site}: {len(jobs)} jobs "
                      f"{sum(secs(j) for j in jobs):.3f}s, planning "
                      f"{e['attrs'].get('planning_ms', 0)}ms, "
                      f"{e['attrs'].get('broadcasts', 0)} broadcasts\n")
        if loose:
            out.write(f"  outside any sql: {len(loose)} jobs "
                      f"{sum(secs(j) for j in loose):.3f}s\n")


FIELDS = ("wall_s", "sql", "jobs", "job_s", "planning_ms", "broadcasts")


def per_op_means(spans):
    kids = children_of(spans)
    groups = defaultdict(list)
    for op in ops_of(spans):
        groups[op["name"]].append(summary(op, kids))
    return {name: {f: sum(r[f] for r in rows) / len(rows) for f in FIELDS}
            | {"n": len(rows)} for name, rows in groups.items()}


def diff(a_spans, b_spans, out):
    a, b = per_op_means(a_spans), per_op_means(b_spans)
    out.write("op            " + "".join(f"{f:>26}" for f in FIELDS) + "\n")
    for name in sorted(set(a) | set(b)):
        cells = []
        for f in FIELDS:
            x, y = a.get(name, {}).get(f), b.get(name, {}).get(f)
            if x is None or y is None:
                cells.append(f"{'-' if x is None else f'{x:.3f}':>8} "
                             f"{'-' if y is None else f'{y:.3f}':>8} "
                             f"{'':>8}")
            else:
                cells.append(f"{x:8.3f} {y:8.3f} {y - x:+8.3f}")
        out.write(f"{name:<14}" + "".join(f"{c:>26}" for c in cells) + "\n")


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("spans", nargs="?", help="a *.spans.json file")
    p.add_argument("--diff", nargs=2, metavar=("A", "B"),
                   help="per-op deltas of two span files (B - A)")
    args = p.parse_args(argv)
    if args.diff:
        diff(load(args.diff[0]), load(args.diff[1]), sys.stdout)
    elif args.spans:
        tree(load(args.spans), sys.stdout)
    else:
        p.error("give a span file or --diff A B")
    return 0


if __name__ == "__main__":
    sys.exit(main())
