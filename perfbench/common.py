"""Shared benchmark plumbing: host contention, resident memory, timing
summaries, and the span tracer with its Spark event-log aggregation.

Nothing here imports pyspark at module level, so ``run.py`` can validate
its arguments and environment before the JVM starts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


# ---------------------------------------------------------------- host


def alu_calibration(iters: int = 2_000_000) -> float:
    """Single-process pure-Python ALU throughput in M loop iterations per
    second (the work unit of scripts/scaling_bench.calibrate, shortened).
    A contended host reads low here and high in ``os.getloadavg``."""
    t0 = time.perf_counter()
    s = 0
    for i in range(iters):
        s += i * i
    return iters / (time.perf_counter() - t0) / 1e6


def host_snapshot() -> dict:
    load1, load5, _ = os.getloadavg()
    return {"loadavg_1m": load1, "loadavg_5m": load5,
            "alu_mips": alu_calibration()}


def _process_tree() -> List[int]:
    """This process and every descendant: the driver JVM and the Python
    workers."""
    children: Dict[int, List[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process exited between glob and open
        children.setdefault(ppid, []).append(int(path.split("/")[2]))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _start_time(pid: int) -> Optional[str]:
    """Kernel start time of ``pid`` (tells a process from a later one that
    reuses its pid), or None once it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def _descendants() -> Dict[int, Optional[str]]:
    return {pid: _start_time(pid) for pid in _process_tree() if pid != os.getpid()}


def _wait_gone(procs: Dict[int, Optional[str]], timeout: float) -> Dict[int, str]:
    """Poll until every process in ``procs`` has ended; return those left."""
    deadline = time.monotonic() + timeout
    while True:
        left = {p: st for p, st in procs.items() if st is not None and _start_time(p) == st}
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then end the driver JVM and every process started
    under this one (the Python daemon and workers), and wait for each to
    exit. PySpark's own ``stop`` leaves the JVM running until this process
    exits, and it then shuts down on its own time."""
    import signal
    import subprocess

    from pyspark import SparkContext

    procs = _descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass  # the JVM may already be gone
        if jvm is not None:
            try:
                jvm.stdin.close()  # the gateway exits on end of its stdin
            except OSError:
                pass
            try:
                jvm.wait(timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        procs.update(_descendants())
        for sig in (signal.SIGTERM, signal.SIGKILL):
            left = _wait_gone(procs, 5.0)
            if not left:
                return
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        left = _wait_gone(procs, 10.0)
        if left:
            raise RuntimeError(f"processes still running after stop: {sorted(left)}")


class MemorySampler:
    """Peak memory of the process tree, sampled from /proc on a background
    thread. Each process counts its proportional set size (Pss: resident
    pages, shared pages split among the processes sharing them), so forked
    workers are not counted twice."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in _process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(ln.split()[1]) * 1024 for ln in fh
                                  if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


# ---------------------------------------------------------------- stats


def p50_by_kind(kinds: List[str], secs: List[float]) -> Dict[str, float]:
    """Median in milliseconds of the durations of each operation kind."""
    by: Dict[str, List[float]] = {}
    for kind, t in zip(kinds, secs):
        by.setdefault(kind, []).append(t * 1000.0)
    return {k: statistics.median(v) for k, v in by.items()}


def kind_gmean_ms(kinds: List[str], secs: List[float]) -> float:
    """Geometric mean over operation kinds of each kind's median, in ms. A
    2x change in any one kind moves it by the same share, where a plain
    median of a mixed stream sits in the gap between fast and slow kinds."""
    return statistics.geometric_mean(max(v, 1e-6) for v in p50_by_kind(kinds, secs).values())


def summarize(samples_s: List[float]) -> dict:
    """Median, p90 (only when at least ten samples lie beyond it) and count
    of a list of durations in seconds, reported in milliseconds."""
    ms = sorted(x * 1000.0 for x in samples_s)
    out = {"n": len(ms), "p50_ms": statistics.median(ms) if ms else None}
    if len(ms) >= 100:
        out["p90_ms"] = statistics.quantiles(ms, n=10)[-1]
    return out


# ---------------------------------------------------------------- tracing


class Tracer:
    """Spans around calls into each layer: name, start, end and parent span.

    Each top-level span runs its Spark jobs under its own job group; after
    the session stops, :meth:`attach_event_log` reads the Spark event log
    and attributes every job (and its stages and tasks) to the innermost
    span open at its submission time, falling back to the job group for a
    job that no span's interval covers. Setting the group costs a JVM call,
    so nested spans (several per hot query) do not. Disabled tracers record
    nothing and cost one branch per span."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._kids: Dict[Optional[int], List[int]] = {}
        self._indexed = 0  # spans covered by _kids

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        top = not self._stack
        self._stack.append(sid)
        if top:  # nested spans inherit the group; attribution is by time
            self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if top:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call (instrumentation from
        outside the package; only installed on traced runs)."""
        fn = getattr(owner, attr, None)
        if fn is None or not self.enabled:
            return
        tracer = self

        def spanned(*a, **kw):
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                if on_result is not None and rec is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, spanned)

    # ------------------------------------------------ event-log aggregation

    def attach_event_log(self, log_dir: str) -> None:
        """Fold the (closed) Spark event log into per-span counters."""
        files = sorted(os.path.join(root, n) for root, _d, names in os.walk(log_dir)
                       for n in names)
        jobs: Dict[int, dict] = {}
        stage_job: Dict[int, int] = {}
        task_rows: List[dict] = []
        completed_stages: List[int] = []
        for path in files:
            with open(path) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                     "time": ev["Submission Time"] / 1000.0}
                        for st in ev.get("Stage IDs", []):
                            stage_job[st] = jid
                    elif kind == "SparkListenerStageCompleted":
                        completed_stages.append(ev["Stage Info"]["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        task_rows.append(ev)
        for s in self.spans:
            s["counters"] = dict.fromkeys(
                ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "shuffle_write_b", "spill_b", "python_in_b",
                 "python_out_b"), 0.0)
        job_span = {jid: self._owner(j) for jid, j in jobs.items()}
        for jid, sid in job_span.items():
            if sid is not None:
                self.spans[sid]["counters"]["jobs"] += 1
        for st in completed_stages:
            sid = job_span.get(stage_job.get(st))
            if sid is not None:
                self.spans[sid]["counters"]["stages"] += 1
        for ev in task_rows:
            sid = job_span.get(stage_job.get(ev.get("Stage ID")))
            if sid is None:
                continue
            c = self.spans[sid]["counters"]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == "data sent to Python workers":
                    c["python_in_b"] += int(acc.get("Update") or 0)
                elif name == "data returned from Python workers":
                    c["python_out_b"] += int(acc.get("Update") or 0)

    def _owner(self, job: dict) -> Optional[int]:
        best, t = None, job["time"]  # the event log keeps milliseconds
        for s in self.spans:  # innermost open span at submission time
            if s["start"] - 1e-3 <= t <= (s["end"] or float("inf")) + 1e-3:
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = s["id"]
        g = job.get("group")
        if best is None and g and g.startswith("pb") and g[2:].isdigit():
            return int(g[2:])
        return best

    def subtree(self, sid: int) -> List[dict]:
        """The span and all its descendants (call after recording ends)."""
        if self._indexed != len(self.spans):  # index the finished tree once
            self._kids = {}
            for s in self.spans:
                self._kids.setdefault(s["parent"], []).append(s["id"])
            self._indexed = len(self.spans)
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(self._kids.get(i, ()))
        return out

    def totals(self, name: str) -> dict:
        """Counters summed over every span called ``name`` and its
        descendants, plus their wall time and count."""
        tops = [s for s in self.spans if s["name"] == name]
        tot = {"count": len(tops), "wall_s": sum(s["end"] - s["start"] for s in tops)}
        for s in tops:
            for sub in self.subtree(s["id"]):
                for k, v in sub.get("counters", {}).items():
                    tot[k] = tot.get(k, 0.0) + v
        return tot
