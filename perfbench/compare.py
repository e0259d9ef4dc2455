#!/usr/bin/env python3
"""Collect and compare sets of benchmark results.

    # run every workload 10 times (seeds 1..10), one JSON line per run
    python3 perfbench/compare.py collect --out parent.jsonl --runs 10
    python3 perfbench/compare.py collect --out parent-trace.jsonl --runs 10 --trace 1

    # steadiness of one set: quartile spread of each metric against its bound
    python3 perfbench/compare.py spread parent.jsonl

    # parent vs change: median and quartiles per workload x metric, pairs
    # won, moves beyond a bound, and the per-layer metrics that moved
    python3 perfbench/compare.py diff parent.jsonl change.jsonl

A change "wins" a metric on a workload when it is better in at least 9/10 of
the paired runs (paired by seed, or by run order when the sets share no
seed; ties count for neither) and the medians differ by more than the
parent's quartile spread. It "regresses" when its median is worse
than the parent's by more than the metric's bound in BENCHMARK.json.
Per-layer metrics have no bound; one "moved" when the medians differ by more
than the parent's quartile spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_defs():
    s = spec()
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def load(path):
    """{(workload, trace): {seed: {metric: value}}} of one results file."""
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                vals = {k: v["value"] for k, v in r["result"]["metrics"].items()}
                out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = vals
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def paired(b, c, m):
    """(parent, change) values of metric m, paired by seed; by run order
    when the two sets share no seed."""
    seeds = sorted(set(b) & set(c))
    if seeds:
        return [(b[s][m], c[s][m]) for s in seeds if m in b[s] and m in c[s]]
    return [(b[x][m], c[y][m]) for x, y in zip(sorted(b), sorted(c)) if m in b[x] and m in c[y]]


def collect(a):
    s = spec()
    names = a.workloads or [w["name"] for w in s["workloads"]]
    with open(a.out, "a") as out:
        for i in range(a.runs):
            for w in names:
                seed = a.seed0 + i
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                       str(seed), "--seconds", str(s["run_seconds"]), "--trace", str(a.trace)]
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                   text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: run failed ({p.returncode})", file=sys.stderr)
                    continue
                r = json.loads(lines[-1])
                out.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace, "result": r}) + "\n")
                out.flush()
                brief = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                print(f"{w} seed {seed}: correct={r['correct']} {brief}", flush=True)


def spread(a):
    defs = metric_defs()
    bad = 0
    for (w, trace), runs in sorted(load(a.results).items()):
        print(f"{w} (trace {trace}, {len(runs)} runs)")
        for m in sorted(next(iter(runs.values()))):
            xs = [r[m] for r in runs.values() if m in r]
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / abs(med) if med else float("nan")
            bound = defs.get(m, {}).get("bound")
            flag = ""
            if bound is not None and m != "setup_s":
                flag = "ok" if rel <= bound / 3 else ("within bound" if rel <= bound else "TOO WIDE")
                bad += rel > bound
            print(f"  {m:28s} median {med:14.6g}  q1 {q1:14.6g}  q3 {q3:14.6g}  "
                  f"spread {rel:8.4f}  {'bound ' + str(bound) if bound is not None else ''} {flag}")
    sys.exit(1 if bad else 0)


def diff(a):
    defs = metric_defs()
    base, change = load(a.parent), load(a.change)
    regressions = 0
    for key in sorted(set(base) & set(change)):
        w, trace = key
        b, c = base[key], change[key]
        print(f"{w} (trace {trace}): parent {len(b)} runs, change {len(c)} runs")
        moved = []
        for m in sorted(next(iter(b.values()))):
            bx = [r[m] for r in b.values() if m in r]
            cx = [r[m] for r in c.values() if m in r]
            if not bx or not cx:
                continue
            bq1, bmed, bq3 = quartiles(bx)
            cq1, cmed, cq3 = quartiles(cx)
            d = defs.get(m, {})
            lower = d.get("better", "lower") == "lower"
            pairs = paired(b, c, m)
            wins = sum((cv < bv) if lower else (cv > bv) for bv, cv in pairs)
            apart = abs(cmed - bmed) > (bq3 - bq1)
            better = (cmed < bmed) if lower else (cmed > bmed)
            verdict = ""
            if pairs and wins >= 0.9 * len(pairs) and apart and better:
                verdict = "WIN"
            if "bound" in d and bmed:
                worse = (cmed - bmed) / abs(bmed) if lower else (bmed - cmed) / abs(bmed)
                if worse > d["bound"]:
                    verdict = f"REGRESSION ({worse:+.1%} > bound {d['bound']:.0%})"
                    regressions += 1
            elif "bound" not in d and apart:
                moved.append(m)
            print(f"  {m:28s} parent {bmed:12.6g} [{bq1:.6g}, {bq3:.6g}]  "
                  f"change {cmed:12.6g} [{cq1:.6g}, {cq3:.6g}]  wins {wins}/{len(pairs)}  {verdict}")
        if moved:
            print(f"  per-layer metrics that moved: {', '.join(moved)}")
    sys.exit(1 if regressions else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--runs", type=int, default=10)
    c.add_argument("--seed0", type=int, default=1)
    c.add_argument("--trace", type=int, choices=[0, 1], default=0)
    c.add_argument("--workloads", nargs="*")
    s = sub.add_parser("spread")
    s.add_argument("results")
    d = sub.add_parser("diff")
    d.add_argument("parent")
    d.add_argument("change")
    a = ap.parse_args()
    {"collect": collect, "spread": spread, "diff": diff}[a.cmd](a)


if __name__ == "__main__":
    main()
