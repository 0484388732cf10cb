"""Per-layer measurement taken from outside the package.

Nothing here edits ``building_permissions_etl_spark``. The traced run:

* wraps the package's public layer functions (``catalog.load_table``,
  ``sources.sinks.write_fact_partitioned`` and
  ``append_with_schema_evolution``) wherever a module bound them, so each
  call records a span (``session.get_spark`` is timed by the runner);
* counts py4j round-trips at the client (``GatewayClient.send_command``);
* wraps PySpark's DataFrame actions to read each acted-on plan's Catalyst
  phase times from ``queryExecution().tracker()``;
* labels Spark jobs with a job group per op step and reads task metrics
  per group from the event log after the session stops.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: (name, start, end, parent, run id) plus counters."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.catalyst = defaultdict(float)   # phase -> seconds

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Self time per layer: a span's duration minus its children's."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name, "run": t.run_id,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.perf_counter(), "end": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()
        return False


# --- py4j round-trips ---------------------------------------------------

def count_py4j(tracer: Tracer) -> None:
    """Count every command the Python side sends to the JVM (PySpark's
    ``JavaClient`` inherits ``send_command`` from ``GatewayClient``)."""
    from py4j.java_gateway import GatewayClient

    orig = GatewayClient.send_command

    def send_command(self, *a, **kw):
        tracer.py4j_calls += 1
        return orig(self, *a, **kw)
    GatewayClient.send_command = send_command


# --- Catalyst phases ----------------------------------------------------

# Map(planning -> PhaseSummary(<start ms>, <end ms>), ...)
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def catalyst_phases(jdf) -> dict[str, float]:
    """Phase durations (s) of one plan, parsed from its tracker's
    ``toString()`` (the ``PhaseSummary`` accessors are not reachable
    through py4j)."""
    try:
        text = jdf.queryExecution().tracker().phases().toString()
    except Exception:
        return {}
    return {phase: (int(end) - int(start)) / 1000.0
            for phase, start, end in _PHASE.findall(text)}


def trace_dataframe_actions(tracer: Tracer) -> None:
    """Add each acted-on plan's Catalyst phase times to the tracer.
    ``first``/``take`` reach the JVM through ``collect``; only the
    outermost action of a call chain is read."""
    from pyspark.sql.classic.dataframe import DataFrame

    depth = [0]
    for meth in ("collect", "count", "isEmpty", "toPandas"):
        orig = getattr(DataFrame, meth)

        @functools.wraps(orig)
        def action(self, *a, __orig=orig, **kw):
            depth[0] += 1
            try:
                return __orig(self, *a, **kw)
            finally:
                depth[0] -= 1
                if depth[0] == 0:
                    for k, v in catalyst_phases(self._jdf).items():
                        tracer.catalyst[k] += v
        setattr(DataFrame, meth, action)


# --- package layer functions ---------------------------------------------

def wrap_package_functions(tracer: Tracer) -> None:
    """Rebind the package's layer functions to traced wrappers in every
    loaded module that imported them by name."""
    from building_permissions_etl_spark import catalog
    from building_permissions_etl_spark.sources import sinks

    targets = {
        catalog.load_table: "catalog.load_table",
        sinks.write_fact_partitioned: "sources.write_fact_partitioned",
        sinks.append_with_schema_evolution: "sources.append_with_schema_evolution",
    }
    wrapped = {id(fn): tracer.wrap(name, fn) for fn, name in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("building_permissions_etl_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrapped:
                setattr(mod, attr, wrapped[id(val)])


# --- persisted RDDs -----------------------------------------------------

def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# --- memory -------------------------------------------------------------

def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in and every process the JVM
    started (Python workers), and wait until all of them have exited."""
    import signal

    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()               # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + timeout
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """Running, and not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# --- event log ----------------------------------------------------------

def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, the time covered by its jobs (``job_span_s``),
    tasks and task metrics, summed over every application log under
    ``log_dir``."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    spans: dict[str, list] = defaultdict(list)
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        for line in _app_lines(app):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                groups[g]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    g = job_group[jid]
                    spans[g].append((job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                acc = groups[g]
                acc["tasks"] += 1
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                inp = m.get("Input Metrics", {})
                out = m.get("Output Metrics", {})
                acc["input_bytes"] += inp.get("Bytes Read", 0)
                acc["input_records"] += inp.get("Records Read", 0)
                acc["output_bytes"] += out.get("Bytes Written", 0)
                acc["output_records"] += out.get("Records Written", 0)
    for g, iv in spans.items():
        groups[g]["job_span_s"] = _union_ms(iv) / 1000.0
    return {g: dict(v) for g, v in groups.items()}


def _app_lines(app: str):
    """Event lines of one application: a plain log file, or a rolling
    log directory of ``events_<n>_*`` files read in order."""
    if os.path.isdir(app):
        parts = glob.glob(os.path.join(app, "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [app]
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield line


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)
