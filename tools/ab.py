#!/usr/bin/env python3
"""A/B the benchmark on two git revisions, in alternating pairs.

    python3 tools/ab.py PARENT CHANGE --seeds 31-40 \
        [--workload pair-census ...] [--seconds S] [--out runs.jsonl]

Extracts each revision (`git archive`) into its own temporary directory
outside the checkout, builds it there once, then for every seed runs
`perfbench/run.py --trace 0` once on each side, alternating which side
goes first. For each workload and end-to-end metric of BENCHMARK.json it
prints the median and quartiles per side, the pairs each side won (ties
count for neither) and two verdicts:

  claim  `gain` when CHANGE wins at least 9/10 of the pairs and its
         median beats PARENT's by more than PARENT's interquartile
         range; else `-`;
  bound  `worse` when CHANGE's median is worse than PARENT's by more
         than the metric's relative bound, `unresolved` when PARENT's
         own interquartile range is wider than the bound (unless every
         CHANGE run reads better than every PARENT run), else `ok`.

A revision is anything `git rev-parse` takes; uncommitted work can be
measured as `$(git add -A && git stash create)`. `--seconds` defaults to
BENCHMARK.json's run_seconds, workloads to all of its workloads, and
every run's summary and metrics go to `--out` as JSON lines. The
temporary directories are removed at the end.
"""
import argparse
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def checkout(rev, parent):
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify",
                          rev + "^{commit}"], check=True,
                         capture_output=True, text=True).stdout.strip()
    tar = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", sha],
                         check=True, capture_output=True).stdout
    d = tempfile.mkdtemp(prefix=f"ab-{sha[:10]}-", dir=parent)
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(d, filter="data")
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=d, check=True,
                   stdout=subprocess.DEVNULL)
    return sha, d


def run(d, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=d, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        summary, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"[ab] run failed in {d} ({workload} seed {seed}, "
                         f"exit {p.returncode}):\n{p.stderr[-2000:]}\n")
        return None, None
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    return summary, metrics


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdicts(metric, pairs):
    """pairs: [(parent, change)] of one metric, both present."""
    lower = metric["better"] == "lower"
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    a = [p for p, _ in pairs]
    b = [c for _, c in pairs]
    ma, mb = statistics.median(a), statistics.median(b)
    qa, qb = quartiles(a), quartiles(b)
    wins_b = sum(better(c, p) for p, c in pairs)
    wins_a = sum(better(p, c) for p, c in pairs)
    iqr_a = qa[1] - qa[0]
    claim = ("gain" if 10 * wins_b >= 9 * len(pairs)
             and better(mb, ma) and abs(mb - ma) > iqr_a else "-")
    scale = abs(ma) or 1.0
    if better(ma, mb) and abs(mb - ma) > metric["bound"] * scale:
        bound = "worse"
    elif iqr_a > metric["bound"] * scale and not all(
            better(c, p) for c in b for p in a):
        bound = "unresolved"
    else:
        bound = "ok"
    return dict(a=(ma, *qa), b=(mb, *qb), wins=(wins_a, wins_b),
                claim=claim, bound=bound)


def report(bench, workload, runs):
    print(f"\n{workload}: {len(runs)} pairs (PARENT | CHANGE: median "
          "[q1, q3]; wins PARENT/CHANGE)")
    for m in bench["end_to_end"]:
        name = m["name"]
        pairs = [(a[name], b[name]) for a, b in runs
                 if a and b and not math.isnan(a[name])
                 and not math.isnan(b[name])]
        if not pairs:
            print(f"  {name:14s} no complete pair")
            continue
        v = verdicts(m, pairs)
        fmt = "{:.4g} [{:.4g}, {:.4g}]".format
        print(f"  {name:14s} {fmt(*v['a']):>28s} | {fmt(*v['b']):<28s} "
              f"{m['unit']:8s} wins {v['wins'][0]}/{v['wins'][1]}  "
              f"claim {v['claim']:4s}  bound {v['bound']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--seeds", required=True, help="e.g. 31-40 or 1,3,5")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    secs = a.seconds or bench["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="graft-ab-")
    out = open(a.out, "a") if a.out else None
    try:
        sides = [checkout(a.parent, tmp), checkout(a.change, tmp)]
        for w in workloads:
            runs = []
            for i, seed in enumerate(seeds(a.seeds)):
                order = (0, 1) if i % 2 == 0 else (1, 0)
                got = [None, None]
                for s in order:
                    sha, d = sides[s]
                    summary, metrics = run(d, w, seed, secs)
                    got[s] = metrics
                    if out:
                        out.write(json.dumps({
                            "workload": w, "seed": seed, "rev": sha,
                            "side": ("parent", "change")[s],
                            "metrics": metrics, "summary": summary}) + "\n")
                        out.flush()
                    print(f"[ab] {w} seed {seed} {('parent', 'change')[s]}: "
                          f"{metrics and metrics.get('pass_s')}",
                          file=sys.stderr, flush=True)
                runs.append(tuple(got))
            report(bench, w, runs)
    finally:
        if out:
            out.close()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
