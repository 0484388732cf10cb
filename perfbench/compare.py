"""Summarize or compare sets of benchmark results.

    python3 perfbench/compare.py RESULTS_DIR              # one set: spreads
    python3 perfbench/compare.py BASE_DIR CHANGE_DIR      # two sets: verdicts

A results directory holds one file per run: the run's captured stdout
(``perfbench/sweep.py`` writes them). Runs are grouped by workload and by
traced/untraced, and paired across the two sets by seed.

For one set, each metric gets its median, quartiles and spread (quartile
distance over median) against the bound in ``BENCHMARK.json``.

For two sets, each end-to-end metric gets both medians and quartiles, the
change's pair wins, and a verdict by the rule the benchmark's claims use:

* ``gain`` — the change wins at least nine tenths of the pairs (ties count
  for neither side) and the medians differ by more than the base's own
  quartile distance;
* ``worse`` — the change's median is worse than the base's by more than the
  metric's bound;
* ``unresolved`` — the base's own spread is wider than the bound;
* ``flat`` — otherwise.

Per-layer metrics (traced runs) are listed with the end-to-end metric each
should move. Where one set holds traced and untraced runs of a workload,
the tracing overhead (traced ``trace.op_s.p50`` minus untraced
``op_s.p50``) is printed too.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
_HEAD = re.compile(r"^workload (\S+) seed (-?\d+) trace ([01])$")


def load(path: str) -> dict:
    """(workload, trace) -> {seed: result JSON} for every run file."""
    out: dict = {}
    for name in sorted(os.listdir(path)):
        try:
            with open(os.path.join(path, name), encoding="utf-8") as f:
                lines = [ln.strip() for ln in f if ln.strip()]
            head = next(m for m in map(_HEAD.match, lines) if m)
            res = json.loads(lines[-1])
        except (OSError, StopIteration, ValueError, IndexError):
            continue
        key = (head.group(1), int(head.group(3)))
        out.setdefault(key, {})[int(head.group(2))] = res
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def bounds() -> dict:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path, encoding="utf-8") as f:
        spec = json.load(f)
    out = {m["name"]: m for m in spec["end_to_end"]}
    out.update({m["name"]: dict(m, bound=None) for m in spec["per_layer"]})
    return out


def values(runs: dict, metric: str) -> dict[int, float]:
    return {seed: r["metrics"][metric]["value"] for seed, r in runs.items()
            if metric in r.get("metrics", {})}


def summarize(res: dict, spec: dict) -> None:
    for (wl, trace), runs in sorted(res.items()):
        fails = sum(r["failed"] for r in runs.values())
        print(f"\n== {wl} ({'traced' if trace else 'untraced'}), "
              f"{len(runs)} runs, {fails} failed ops")
        print(f"{'metric':42} {'q1':>11} {'median':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
        for metric in sorted({m for r in runs.values() for m in r["metrics"]}):
            xs = list(values(runs, metric).values())
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else 0.0
            b = spec.get(metric, {}).get("bound")
            flag = "" if b is None else ("ok" if spread <= b / 3 else "WIDE")
            print(f"{metric:42} {q1:11.5g} {med:11.5g} {q3:11.5g} {spread:7.3f} "
                  f"{'' if b is None else b:>6} {flag}")
        if trace and (wl, 0) in res:
            traced = statistics.median(values(runs, "trace.op_s.p50").values())
            plain = statistics.median(values(res[(wl, 0)], "op_s.p50").values())
            print(f"tracing overhead: trace.op_s.p50 - op_s.p50 = {traced - plain:+.4f} s")


def verdict(base: dict[int, float], change: dict[int, float], better: str,
            bound: float | None) -> tuple[str, int, int]:
    seeds = sorted(set(base) & set(change))
    sign = -1 if better == "lower" else 1
    wins = sum(1 for s in seeds if sign * (change[s] - base[s]) > 0)
    q1, bmed, q3 = quartiles(list(base.values()))
    cmed = statistics.median(change.values())
    if bound is None:
        return "-", wins, len(seeds)
    if sign * (bmed - cmed) > bound * bmed:
        return "worse", wins, len(seeds)
    if bmed and (q3 - q1) / bmed > bound:
        return "unresolved", wins, len(seeds)
    if seeds and wins >= 0.9 * len(seeds) and abs(cmed - bmed) > (q3 - q1):
        return "gain", wins, len(seeds)
    return "flat", wins, len(seeds)


def compare(a: dict, b: dict, spec: dict) -> None:
    from layers import PER_LAYER

    for key in sorted(set(a) & set(b)):
        wl, trace = key
        print(f"\n== {wl} ({'traced' if trace else 'untraced'})")
        print(f"{'metric':42} {'base [q1, q3]':>30} {'change [q1, q3]':>30} "
              f"{'delta':>7} {'wins':>6} verdict")
        for metric in sorted({m for r in a[key].values() for m in r["metrics"]}):
            va, vb = values(a[key], metric), values(b[key], metric)
            if not va or not vb:
                continue
            qa, qb = quartiles(list(va.values())), quartiles(list(vb.values()))
            m = spec.get(metric, {"better": "lower", "bound": None})
            v, wins, pairs = verdict(va, vb, m["better"], m.get("bound"))
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            note = f"  -> {PER_LAYER[metric][1]}" if trace and metric in PER_LAYER else ""
            print(f"{metric:42} {qa[1]:10.5g} [{qa[0]:8.4g}, {qa[2]:8.4g}] "
                  f"{qb[1]:10.5g} [{qb[0]:8.4g}, {qb[2]:8.4g}] {delta:+7.1%} "
                  f"{wins:>2}/{pairs:<3} {v}{note}")


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    spec = bounds()
    sets = [load(p) for p in argv]
    if len(sets) == 1:
        summarize(sets[0], spec)
    else:
        compare(sets[0], sets[1], spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
