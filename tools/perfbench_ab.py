"""Interleaved perfbench A/B between two checkouts (perfbench/README.md,
"A/B between two commits").

For each workload and each seed 1..N it runs

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

once from the parent checkout and once from the change checkout, one
run at a time, alternating which side goes first from pair to pair.
It prints every run as it ends, then per workload:

- per seed: both sides' correctness, failed jobs and whether their
  output digests are equal;
- per end-to-end metric of ``BENCHMARK.json``: median (Q1-Q3) on each
  side, the change in the median, the pairs the change wins (ties
  count for neither side), the parent's IQR, whether the README's
  gain rule holds (wins >= 9 of 10 pairs, scaled to N, and a median
  gain larger than the parent's IQR) and whether the change is worse
  than its bound;
- the job's peak RSS, which is not an end-to-end metric.

It reads only what perfbench prints (its last two stdout lines) and
the metric list of the ``BENCHMARK.json`` beside this script. Runs
that fail or print no result are reported and left out of the
medians.

Usage:
  python3 tools/perfbench_ab.py PARENT CHANGE --workload corpus_build \\
      --seeds 10 [--workload mars_etl --seeds 3] [--seconds 20]

``--seeds`` applies to the ``--workload`` before it (or to all
workloads when given once).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def end_to_end_metrics(path: str = os.path.join(HERE, "BENCHMARK.json")) -> list[dict]:
    with open(path) as f:
        return json.load(f)["end_to_end"]


def run_once(root: str, workload: str, seed: int, seconds: int) -> dict:
    """One perfbench run: {'ok', 'correct', 'failed', 'digests',
    'metrics', 'peak_rss_mb'}; 'ok' is False when it printed no
    result or failed a job."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        return {"ok": False, "correct": False, "failed": None, "digests": [],
                "metrics": {}, "peak_rss_mb": None,
                "error": (proc.stderr or proc.stdout)[-400:]}
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    jobs = detail.get("jobs", [])
    rss = [j["peak_rss_mb"] for j in jobs if j.get("peak_rss_mb") is not None]
    return {
        "ok": proc.returncode == 0 and result.get("correct", False),
        "correct": result.get("correct", False),
        "failed": result.get("failed"),
        "digests": sorted({str(j.get("digest")) for j in jobs}),
        "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
        "peak_rss_mb": statistics.median(rss) if rss else None,
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(median, Q1, Q3), inclusive method."""
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return statistics.median(xs), q1, q3


def summarize(name: str, better: str, bound: float | None,
              pairs: list[tuple[float, float]]) -> str:
    """One markdown row for a metric over (parent, change) pairs."""
    if not pairs:
        return f"| {name} | - | - | - | - | - | no pair |"
    parent, change = [p for p, _ in pairs], [c for _, c in pairs]
    (pm, p1, p3), (cm, c1, c3) = quartiles(parent), quartiles(change)
    sign = -1 if better == "lower" else 1
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    ties = sum(c == p for p, c in pairs)
    delta = (cm - pm) / pm * 100 if pm else 0.0
    iqr = p3 - p1
    gain = sign * (cm - pm)
    claim = wins >= math.ceil(0.9 * len(pairs)) and gain > iqr
    worse = -gain / abs(pm) if pm else (0.0 if gain >= 0 else math.inf)
    verdict = "gain rule holds" if claim else "no gain claimable"
    if bound is not None and worse > bound:
        verdict += f"; WORSE than its bound ({bound:.0%})"
    return (f"| {name} | {pm:.4g} ({p1:.4g}–{p3:.4g}) | {cm:.4g} ({c1:.4g}–{c3:.4g}) "
            f"| {delta:+.1f}% | {wins}/{len(pairs)}"
            f"{f' ({ties} ties)' if ties else ''} | {iqr:.4g} | {verdict} |")


def ab(parent: str, change: str, plan: list[tuple[str, int]], seconds: int) -> None:
    roots = {"parent": parent, "change": change}
    metrics = end_to_end_metrics()
    pair = 0
    for workload, n_seeds in plan:
        runs: dict[int, dict[str, dict]] = {}
        for seed in range(1, n_seeds + 1):
            order = SIDES if pair % 2 == 0 else SIDES[::-1]
            pair += 1
            runs[seed] = {}
            for side in order:
                r = runs[seed][side] = run_once(roots[side], workload, seed, seconds)
                shown = {k: round(v, 4) for k, v in r["metrics"].items()}
                print(f"{workload} s{seed} {side}: correct={r['correct']} "
                      f"failed={r['failed']} digest={','.join(r['digests'])} "
                      f"peak_rss_mb={r['peak_rss_mb']} {shown}"
                      + (f" error={r['error']!r}" if "error" in r else ""), flush=True)
        print(f"\n== {workload}: seeds 1-{n_seeds}, --seconds {seconds}, "
              f"pairs alternate which side runs first")
        for seed, r in runs.items():
            p, c = r["parent"], r["change"]
            print(f"  s{seed}: correct {p['correct']}/{c['correct']} "
                  f"failed {p['failed']}/{c['failed']} "
                  f"digests equal={p['digests'] == c['digests'] and bool(p['digests'])}")
        both = [r for r in runs.values() if r["parent"]["ok"] and r["change"]["ok"]]
        print("\n| metric | parent median (Q1–Q3) | change median (Q1–Q3) | Δ median "
              "| change wins | parent IQR | verdict |")
        print("|---|---|---|---|---|---|---|")
        for m in metrics:
            pairs = [(r["parent"]["metrics"][m["name"]], r["change"]["metrics"][m["name"]])
                     for r in both
                     if m["name"] in r["parent"]["metrics"]
                     and m["name"] in r["change"]["metrics"]]
            print(summarize(m["name"], m["better"], m.get("bound"), pairs))
        rss = [(r["parent"]["peak_rss_mb"], r["change"]["peak_rss_mb"]) for r in both
               if r["parent"]["peak_rss_mb"] is not None
               and r["change"]["peak_rss_mb"] is not None]
        print(summarize("peak_rss_mb (not end-to-end)", "lower", None, rss))
        print(flush=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", help="checkout of the parent commit")
    p.add_argument("change", help="checkout of the change")
    p.add_argument("--workload", action="append", required=True,
                   choices=("mars_etl", "corpus_build"))
    p.add_argument("--seeds", action="append", type=int, required=True,
                   help="pairs (seeds 1..N) for the workload before it")
    p.add_argument("--seconds", type=int, default=20)
    a = p.parse_args(argv)
    seeds = a.seeds * len(a.workload) if len(a.seeds) == 1 else a.seeds
    if len(seeds) != len(a.workload) or min(seeds) < 1:
        p.error("give one positive --seeds per --workload, or one for all")
    ab(os.path.abspath(a.parent), os.path.abspath(a.change),
       list(zip(a.workload, seeds)), a.seconds)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
