#!/usr/bin/env python3
"""A/B one lakebench workload between two checkouts of graft.

    python3 tools/bench_ab.py <parent_dir> <change_dir> \
        --workload lake_ingest --pairs 10 --seed 1

Each pair runs `lakebench/run.py` once in each checkout, and the side that
runs first alternates from pair to pair. For every metric the script
prints each side's median and quartiles, how many pairs the change won
(ties count for neither side) and a verdict:

- `gain`: the change won at least nine tenths of the pairs, and the
  medians differ by more than the parent's interquartile range;
- `worse`: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- `-`: neither.

The run length (`run_seconds`) and each metric's direction and bound
come from the change checkout's BENCHMARK.json; runs are untraced. Every
run's result, with the report lines printed before it (wall times, the
calibration reference), is printed as one JSON line first, and a run
that fails its checks is reported; `--out` also saves them.

After the metric table, a second table gives each side's median of every
numeric report line the runs printed (`reference_ms`, `wall.*`,
`loop_ms`, `lookup_ms.p50`, `curate.*_ms`, ...), with no verdict: it
shows which part of a run a metric's move came from.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "lakebench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    # the report lines before the JSON: wall times, reference_ms, ...
    result["report"] = [l.strip() for l in lines[:-1]]
    result["exit"] = r.returncode
    result["wall_s"] = round(time.time() - t0, 1)
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load_benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return json.load(fh)


def spec_of(bench):
    """Each metric's BENCHMARK.json entry, by name."""
    return {m["name"]: m for m in bench.get("end_to_end", []) +
            bench.get("per_layer", [])}


def value(result, name):
    """A metric's value in a run's result JSON ({"value", "unit"} objects)."""
    v = result.get("metrics", {}).get(name)
    return v["value"] if isinstance(v, dict) else v


def summarize(workload, seed, runs, spec):
    """Print the per-metric table for `runs` ({"parent": [...], "change":
    [...]}, results in pair order); return the failed runs."""
    bad = [(s, i + 1) for s in runs for i, r in enumerate(runs[s])
           if not r.get("correct") or r.get("failed", 0) or r["exit"]]
    names = sorted(set().union(*(r["metrics"] for s in runs for r in runs[s])))
    print(f"\n{workload} seed {seed}: {len(runs['parent'])} pairs, "
          f"{len(bad)} failed run(s) {bad}")
    print(f"{'metric':34} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'wins':>6} {'delta':>8}  verdict")
    for name in names:
        pairs = [(value(p, name), value(c, name))
                 for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        pq = quartiles([p for p, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        m = spec.get(name, {})
        better = m.get("better")
        verdict, wins = "-", "?"
        if better in ("higher", "lower"):
            sign = 1 if better == "higher" else -1
            w = sum(1 for p, c in pairs if sign * (c - p) > 0)
            wins = f"{w}/{len(pairs)}"
            if w >= 0.9 * len(pairs) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "gain"
            bound = m.get("bound")
            if bound is not None and pq[1] and \
                    sign * (cq[1] - pq[1]) / abs(pq[1]) < -bound:
                verdict = "worse"
        delta = (cq[1] - pq[1]) / abs(pq[1]) * 100 if pq[1] else float("nan")
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:34} {fmt(pq):>30} {fmt(cq):>30} {wins:>6} "
              f"{delta:+7.1f}%  {verdict}")
    return bad


REPORT_LINE = re.compile(r"^(\S+)\s+(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)\s+(\S+)$")


def report_values(result):
    """A run's numeric `name value unit` report lines, by name."""
    found = (REPORT_LINE.match(l) for l in result.get("report", []))
    return {m.group(1): (float(m.group(2)), m.group(3)) for m in found if m}


def summarize_report(runs):
    """Print each side's median of every numeric report line in `runs`."""
    values = {s: [report_values(r) for r in runs[s]] for s in runs}
    names = sorted(set().union(*(v for s in values for v in values[s])))
    if not names:
        return
    print(f"\n{'report line (no verdict)':34} {'parent median':>16} "
          f"{'change median':>16} {'delta':>8}  unit")
    for name in names:
        med = {s: [v[name][0] for v in values[s] if name in v] for s in values}
        if not med["parent"] or not med["change"]:
            continue
        unit = next(v[name][1] for s in values for v in values[s] if name in v)
        p, c = statistics.median(med["parent"]), statistics.median(med["change"])
        delta = (c - p) / abs(p) * 100 if p else float("nan")
        print(f"{name:34} {p:16.4g} {c:16.4g} {delta:+7.1f}%  {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent_dir),
             "change": os.path.abspath(a.change_dir)}
    bench = load_benchmark(sides["change"])
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], a.workload, a.seed,
                           bench["run_seconds"])
            runs[side].append(res)
            print(json.dumps({"pair": i + 1, "side": side, **res}), flush=True)

    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "runs": runs},
                      fh, indent=1)
    bad = summarize(a.workload, a.seed, runs, spec_of(bench))
    summarize_report(runs)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
