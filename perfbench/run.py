"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

Run from the repository root. A run generates its inputs from the seed
under ``.bench_work/``, then, in one process on ``local[min(4, nproc)]``
as one closed-loop client:

1. sets up ``SETUP_REPS`` times (``get_spark()`` and the workload's
   warm-up; the session is stopped between set-ups) — ``setup_s`` is the
   median;
2. runs every op once, cold — ``cold_pass_s`` is that first pass's wall
   time (for ``monthly_etl``, the full-mode backfill month);
3. runs the workload's untimed warm-up passes, if it has any;
4. runs warm passes until ``--seconds`` have elapsed (the pass that
   crosses the deadline completes) — ``op_s.p50`` and ``pass_s.p50``;
5. checks every op's output once, untimed.

stdout holds one short ``name value unit`` line per metric, plus
``error_rate`` (failed ÷ attempted ops) and ``gen_s`` (input generation,
not part of ``setup_s``), then the result as one JSON line (always the
last line). The per-op detail goes to stderr and to
``.bench_work/results/``.

``--trace 1`` is the separate traced run: the warm passes are traced
(spans around every call into each layer, py4j round-trips, Catalyst
phases, an event log by job group) and the per-layer metrics are reported
instead of the end-to-end ones. Its ``trace.op_s.p50`` minus the untraced
runs' ``op_s.p50`` is the tracing overhead (``compare.py`` prints it).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("monthly_etl", "query_mix")
SETUP_REPS = 3
RUN_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "cold_pass_s": "s",
    "pass_s.p50": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else None


class Runner:
    def __init__(self, args, work: str, spans_path: str):
        import workloads

        self.args, self.work, self.spans_path = args, work, spans_path
        cls = {"monthly_etl": workloads.MonthlyEtl, "query_mix": workloads.QueryMix}
        self.wl = cls[args.workload](work, args.seed)
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.tracer = None
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []           # one record per op execution

    # -- session --

    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap (-Xms = the -Xmx that spark.driver.memory
            # sets) keeps peak RSS from following the collector's sizing
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Dderby.system.home={self.work}/derby "
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"{self.work}/eventlog",
                         "spark.eventLog.compress": "false"})
        return conf

    def setup(self) -> list[float]:
        from building_permissions_etl_spark.session import get_spark

        cpus = min(4, os.cpu_count() or 1)
        times, spark_times = [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                                   shuffle_partitions=cpus, extra_conf=self._conf())
            spark_times.append(time.perf_counter() - t0)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.wl.warm_up(self.spark)
            times.append(time.perf_counter() - t0)
        self.get_spark_times = spark_times
        return times

    # -- ops --

    def run_op(self, name: str, phase: str, traced: bool = False):
        """Run one op; returns (latency or None, result)."""
        import probes

        idx = len(self.ops)
        rec = {"op": name, "phase": phase, "traced": traced, "idx": idx, "steps": {}}
        self.attempted += 1
        step = contextlib.nullcontext
        if traced:
            sc, tr = self.spark.sparkContext, self.tracer

            @contextlib.contextmanager
            def step(kind):
                sc.setJobGroup(f"op{idx}:{kind}", f"{name} {kind}")
                p0, t0 = tr.py4j_calls, time.perf_counter()
                with tr.span(kind):
                    yield
                rec["steps"][kind] = {"s": time.perf_counter() - t0,
                                      "py4j": tr.py4j_calls - p0}
            rdd0 = probes.persisted_rdds(self.spark)
            cat0 = dict(self.tracer.catalyst)
        t0 = time.perf_counter()
        try:
            with (self.tracer.span("bench.op") if traced else contextlib.nullcontext()):
                result = self.wl.run_op(self.spark, name, step)
            rec["t0"], rec["t1"] = t0, time.perf_counter()
            rec["s"] = rec["t1"] - t0
        except Exception as exc:
            self.failed += 1
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            self.errors.append(f"{name} ({phase}): {rec['error']}")
            traceback.print_exc(limit=3, file=sys.stderr)
            self.ops.append(rec)
            return None, None
        if traced:
            rec["persisted_rdds_net"] = probes.persisted_rdds(self.spark) - rdd0
            rec["catalyst"] = {k: v - cat0.get(k, 0.0) for k, v in self.tracer.catalyst.items()}
            rec["final_catalyst"] = self.wl.final_catalyst()
            rec["layer_extra"] = self.wl.layer_extra()
        self.ops.append(rec)
        return rec["s"], result

    def start_tracing(self) -> None:
        import probes

        self.tracer = probes.Tracer(f"{self.args.workload}-{self.args.seed}")
        probes.count_py4j(self.tracer)
        probes.trace_dataframe_actions(self.tracer)
        probes.wrap_package_functions(self.tracer)

    # -- the run --

    def run(self) -> dict:
        import probes

        t0 = time.perf_counter()
        info = self.wl.generate()
        gen_s = time.perf_counter() - t0
        setup_times = self.setup()

        phases = {"gen_s": gen_s, "setup_total_s": sum(setup_times)}
        t0 = time.perf_counter()
        results, cold_ok = {}, True
        for name in self.wl.cold_ops(self.rng):
            s, res = self.run_op(name, "cold")
            if s is None:
                cold_ok = False
            else:
                results[name] = res

        phases["cold_s"] = cold_pass = time.perf_counter() - t0
        t0 = time.perf_counter()
        # JIT warm-up before timing: passes that are run but not measured
        warm_passes = self.wl.warm_passes(self.rng)
        for _ in range(self.wl.UNTIMED_PASSES):
            for name in next(warm_passes):
                s, res = self.run_op(name, "untimed")
                if s is not None:
                    results.setdefault(name, res)

        phases["untimed_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm, passes, pass_ops = [], [], []
        if self.trace:
            self.start_tracing()
        deadline = time.perf_counter() + self.args.seconds
        for names in warm_passes:
            if pass_ops and time.perf_counter() >= deadline:
                break
            p0, ok = time.perf_counter(), True
            first = len(self.ops)
            for name in names:
                s, res = self.run_op(name, "warm", self.trace)
                if s is None:
                    ok = False
                    continue
                results.setdefault(name, res)
                warm.append(s)
            if ok:
                passes.append(time.perf_counter() - p0)
            pass_ops.append(self.ops[first:])

        phases["warm_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        # untimed: every op's output, once
        for name, res in results.items():
            try:
                self.wl.check(name, res)
            except Exception as exc:
                self.failed += 1
                self.errors.append(f"check {name}: {type(exc).__name__}: {str(exc)[:300]}")
        for name, msg in self.wl.check_end(self.spark):
            self.failed += 1
            self.errors.append(f"check {name}: {msg}")

        phases["check_s"] = time.perf_counter() - t0
        rss = probes.vm_hwm_mb() + probes.vm_hwm_mb(probes.jvm_pid(self.spark))
        layer_end = self.wl.layer_end() if self.trace else {}
        probes.stop_spark(self.spark)
        self.spark = None
        self.wl.close()

        detail = {"workload": self.args.workload, "seed": self.args.seed,
                  "inputs": info, "phases": phases, "setup_times_s": setup_times,
                  "ops": self.ops, "errors": self.errors}
        if self.trace:
            metrics = self.layer_metrics(pass_ops, warm, layer_end)
            self.tracer.dump(self.spans_path)
            detail["spans_file"] = os.path.basename(self.spans_path)
        else:
            metrics = {
                "setup_s": _median(setup_times),
                "op_s.p50": _median(warm),
                "cold_pass_s": cold_pass if cold_ok else None,
                "pass_s.p50": _median(passes),
                "peak_rss_mb": rss,
            }
        return {"metrics": metrics, "detail": detail}

    # -- traced run: per-layer metrics --

    def layer_metrics(self, pass_ops, traced_ops, layer_end) -> dict:
        import probes
        import layers

        events = probes.read_event_log(os.path.join(self.work, "eventlog"))
        per_pass = [layers.pass_metrics(ops, events, self.tracer)
                    for ops in pass_ops]
        out = {k: _median([p[k] for p in per_pass]) for k in per_pass[0]} if per_pass else {}
        out["session.get_spark_s"] = _median(self.get_spark_times)
        out["trace.op_s.p50"] = _median(traced_ops)
        out.update(layer_end)
        return {k: out.get(k, 0.0) for k in layers.PER_LAYER}


def _env(work: str, root: str) -> None:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def run_one(args) -> int:
    import layers

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "building_permissions_etl_spark")):
        print("perfbench: run from the repository root; "
              "building_permissions_etl_spark/ not found", file=sys.stderr)
        return 2
    base = os.path.join(root, ".bench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    _env(work, root)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    runner = Runner(args, work, os.path.join(results, f"{tag}-spans.json"))
    try:
        out = runner.run()
    finally:
        signal.alarm(0)
        if runner.spark is not None:
            import probes

            probes.stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
    units = layers.units() if args.trace else END_TO_END
    metrics = {k: {"value": v, "unit": units[k]} for k, v in out["metrics"].items()
               if v is not None}
    correct = runner.failed == 0
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {runner.failed / max(1, runner.attempted):.6g} ratio")
    print(f"gen_s {out['detail']['phases']['gen_s']:.6g} s")
    detail_path = os.path.join(results, f"{tag}.json")
    with open(detail_path, "w", encoding="utf-8") as f:
        json.dump(out["detail"], f, default=str)
    for e in runner.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(f"perfbench: per-op detail in {os.path.relpath(detail_path, root)}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {w} failed with exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, HERE)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
