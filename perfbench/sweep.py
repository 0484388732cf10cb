"""Run the benchmark over several seeds and keep each run's stdout.

    python3 perfbench/sweep.py OUT_DIR [--seeds 1-10] [--workloads a,b] [--trace 0]

Run from the repository root. Writes ``OUT_DIR/<workload>.s<seed>.t<trace>.txt``
per run, one run at a time, with ``run_seconds`` from ``BENCHMARK.json``;
feed the directory to ``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("out_dir")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(args.out_dir, exist_ok=True)
    for w in names:
        for s in seeds(args.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", args.trace]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True)
            path = os.path.join(args.out_dir, f"{w}.s{s}.t{args.trace}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(proc.stdout)
            last = proc.stdout.strip().splitlines()[-1:] or ["(no output)"]
            print(f"{w} seed {s}: exit {proc.returncode} in {time.perf_counter() - t0:.1f} s "
                  f"{last[0][:160]}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
