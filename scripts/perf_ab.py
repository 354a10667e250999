#!/usr/bin/env python3
"""A/B one benchmark workload between a parent commit and a change.

    python3 scripts/perf_ab.py --parent HEAD~1 --workload backup_cycle \\
        --seeds 301-310 [--seconds 20] [--change REV] [--workdir DIR]

The parent (and the change, when --change names a commit) is unpacked with
`git archive` into a fresh directory; without --change the change is this
checkout's working tree. Each side builds once and runs one untimed warm-up
(its build, and its first-run corpus generation). Then, for each seed, the
two sides run `perfbench/run.py --trace 0` one after the other, never
concurrently, and the side that runs first alternates from pair to pair.

For each end-to-end metric of BENCHMARK.json it prints both sides' medians
and quartiles, the pairs the change wins (ties count for neither), the
parent's interquartile range and the verdict of the A/B rule: a gain holds
when the change wins at least 9 of every 10 pairs and the median gap exceeds
the parent's IQR; otherwise the median may be worse than the parent's by at
most the metric's bound, and a parent spread wider than the bound leaves the
metric unresolved. A run that is not correct, or has failed ops, is reported
and makes the exit code 1.
The raw runs are written as JSON to --json when given.

With --traced SEED, each side then makes one traced run (`--trace 1`) on
SEED, parent first, and the per-op deltas of the two span files are printed
as `scripts/span_tree.py --diff PARENT CHANGE` prints them, so the command
that gives the A/B also shows which layer moved.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import span_tree  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200


def seeds_of(spec):
    """`301-310` or `301,305,307` -> a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def unpack(rev, into):
    os.makedirs(into)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)
    return into


def run_once(checkout, workload, seed, seconds, trace=0):
    """One run; its JSON line, or an error dict."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    try:
        r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return {"error": f"exit {r.returncode}: {r.stderr.strip()[-500:]}"}
    return json.loads(lines[-1])


def spans_file(checkout, workload, seed):
    """Where `perfbench/run.py --trace 1` leaves its span file."""
    return os.path.join(checkout, "perfbench", ".out",
                        f"{workload}-seed{seed}.spans.json")


def traced_diff(sides, workload, seed, seconds, out, run=run_once):
    """One traced run per side on `seed`, parent first, then the span
    diff (parent -> change) on `out`; an error string, or None.
    """
    for name in ("parent", "change"):
        r = run(sides[name], workload, seed, seconds, trace=1)
        if "error" in r:
            return f"{name} traced run: {r['error']}"
        if not r["correct"] or r["failed"]:
            return f"{name} traced run: failed ops"
    print(f"\nspan diff, seed {seed} (parent -> change):", file=out)
    span_tree.diff(span_tree.load(spans_file(sides["parent"], workload, seed)),
                   span_tree.load(spans_file(sides["change"], workload, seed)),
                   out)
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(metric, better, bound, parent, change):
    """One metric's line, with the A/B rule's verdict."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    n = len(parent)
    (p1, pm, p3), (c1, cm, c3) = quartiles(parent), quartiles(change)
    gap = sign * (pm - cm)
    iqr = p3 - p1
    rel = (cm - pm) / pm * 100.0 if pm else float("nan")
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if wins * 10 >= 9 * n and gap > iqr:
        verdict = "GAIN"
    elif -gap > bound * abs(pm):
        verdict = "WORSE THAN BOUND"
    elif iqr > bound * abs(pm) and not all_better:
        verdict = "unresolved: parent spread wider than the bound"
    else:
        verdict = "within bound, no claimable gain"
    print(f"{metric:>8}: parent median {pm:.3f} [{p1:.3f}, {p3:.3f}]  "
          f"change median {cm:.3f} [{c1:.3f}, {c3:.3f}]  "
          f"{rel:+.1f}%  change wins {wins}/{n}  gap {gap:.3f}  "
          f"parent IQR {iqr:.3f}  -> {verdict}")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git rev of the parent")
    ap.add_argument("--change", help="git rev of the change "
                    "(default: this working tree)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workdir", help="where to unpack (default: a temp dir)")
    ap.add_argument("--keep", action="store_true",
                    help="keep the unpacked checkouts")
    ap.add_argument("--json", help="write the raw runs here")
    ap.add_argument("--traced", type=int, metavar="SEED",
                    help="after the A/B, one traced run per side on SEED "
                    "and the per-op span diff")
    return ap.parse_args(argv)


def main():
    args = parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        e2e = json.load(fh)["end_to_end"]
    if args.workdir:
        os.makedirs(args.workdir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="perf_ab-", dir=args.workdir)
    try:
        sides = {"parent": unpack(args.parent, os.path.join(work, "parent")),
                 "change": (unpack(args.change, os.path.join(work, "change"))
                            if args.change else REPO)}
        for name, checkout in sides.items():
            warm = run_once(checkout, args.workload, seeds_of(args.seeds)[0],
                            1)
            if "error" in warm:
                sys.exit(f"perf_ab: {name} warm-up failed: {warm['error']}")
        runs = {"parent": [], "change": []}
        bad = []
        for i, seed in enumerate(seeds_of(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for name in order:
                r = run_once(sides[name], args.workload, seed, args.seconds)
                r["seed"] = seed
                runs[name].append(r)
                if "error" in r or not r["correct"] or r["failed"]:
                    bad.append(f"{name} seed {seed}: "
                               f"{r.get('error') or 'failed ops'}")
                vals = r.get("metrics", {})
                print(f"seed {seed} {name}: " + "  ".join(
                    f"{k}={v['value']:.3f}" for k, v in vals.items()),
                    flush=True)
        if args.json:
            with open(args.json, "w") as fh:
                json.dump(runs, fh, indent=1)
        ok = [i for i in range(len(runs["parent"]))
              if "metrics" in runs["parent"][i] and
              "metrics" in runs["change"][i]]
        print(f"\n{args.workload}, {len(ok)} pairs, seeds {args.seeds}, "
              f"--seconds {args.seconds:g}")
        if not ok:
            print("no pair has metrics on both sides")
        for m in e2e if ok else []:
            name = m["name"]
            report(name, m["better"], m["bound"],
                   [runs["parent"][i]["metrics"][name]["value"] for i in ok],
                   [runs["change"][i]["metrics"][name]["value"] for i in ok])
        if args.traced is not None:
            err = traced_diff(sides, args.workload, args.traced,
                              args.seconds, sys.stdout)
            if err:
                bad.append(err)
        for b in bad:
            print(f"NOT CORRECT: {b}")
        sys.exit(1 if bad else 0)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
