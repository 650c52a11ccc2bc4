"""Shared machinery of the benchmark: run context, Spark session, host
calibration, the closed op loop, the process-tree memory sampler, the
span tracer and the Spark event-log roll-up.

Nothing here imports the engine at module level, so ``run.py`` can fail
cleanly (non-zero exit, no result line) when the engine is absent.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

# ------------------------------------------------------------ run context

@dataclass
class Ctx:
    """One benchmark invocation: its arguments, scratch dir and clocks."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str                 # checkout root (holds pushkind_crawlers_spark/)
    work: str                 # per-invocation scratch dir inside the checkout
    t_start: float            # wall clock when set-up starts
    cpus: int
    tracer: "Tracer | None" = None
    untimed_s: float = 0.0    # set-up wall spent on references and self-checks

    @contextmanager
    def untimed(self):
        """Set-up work only the benchmark does (references, input
        self-checks): its wall is left out of ``setup_s``."""
        t = time.time()
        try:
            yield
        finally:
            self.untimed_s += time.time() - t

    def setup_s(self) -> float:
        """Wall from the start of set-up to now, without untimed blocks."""
        return time.time() - self.t_start - self.untimed_s

    @property
    def master(self) -> str:
        return f"local[{self.cpus}]"

    def path(self, *parts: str) -> str:
        """A file path under the scratch dir (its parent is created)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the scratch dir (created)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def git_commit(root: str) -> str:
    """HEAD of the checkout, read from .git without a subprocess; the
    benchmark often runs from an exported tree that has no .git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def digest(*parts) -> str:
    """Stable digest of generated inputs (numpy arrays or JSON-able)."""
    h = hashlib.sha256()
    for p in parts:
        if hasattr(p, "tobytes"):
            h.update(p.tobytes())
        else:
            h.update(json.dumps(p, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]


def start_spark(ctx: Ctx, app: str):
    """The engine's own session builder at local[nproc]; the benchmark only
    adds where scratch goes and, when tracing, the event log."""
    from pushkind_crawlers_spark.session import get_spark

    tmp = ctx.dir("tmp")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": ctx.dir("spark-local"),
        "spark.sql.warehouse.dir": ctx.dir("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if ctx.trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.dir("eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app=app, master=ctx.master,
                     shuffle_partitions=max(8, ctx.cpus), extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process this one started to end; kill stragglers."""
    deadline = time.time() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.2)


# ------------------------------------------------------------ calibration

def _calibration_unit(seed: int) -> float:
    """A fixed CPU and memory task; returns its own compute wall."""
    import zlib

    import numpy as np

    rng = np.random.default_rng(seed)
    data = rng.integers(0, 64, size=1 << 20, dtype=np.uint8).tobytes()
    arr = rng.random(1 << 21)
    t = time.perf_counter()
    for _ in range(8):
        zlib.compress(data, 6)
        hashlib.blake2b(data).digest()
        np.sort(arr)
    return time.perf_counter() - t


def calibrate(workers: int) -> float:
    """Median wall of the calibration task run on every core at once, in
    fresh processes while none of the engine's processes are alive: the
    host's speed at that moment, which the engine cannot influence."""
    code = "import sys, harness; print(harness._calibration_unit(int(sys.argv[1])))"
    here = os.path.dirname(os.path.abspath(__file__))
    procs = [subprocess.Popen([sys.executable, "-c", code, str(i)], cwd=here,
                              stdout=subprocess.PIPE, text=True)
             for i in range(workers)]
    times = [float(p.communicate()[0]) for p in procs]
    if any(p.returncode for p in procs):
        raise RuntimeError("calibration task failed")
    return float(statistics.median(times))


# ---------------------------------------------------------------- op loop

def run_ops(ctx: Ctx, op) -> tuple[list, int]:
    """Closed loop: ops back to back until ``ctx.seconds`` have passed
    (an op in flight always completes; at least one op runs). ``op(i)``
    returns its record. Returns the records of the ops that did not
    raise, and the number that did."""
    out, raised = [], 0
    t0 = time.time()
    while not (out or raised) or time.time() - t0 < ctx.seconds:
        try:
            out.append(op(len(out) + raised))
        except Exception:
            traceback.print_exc()
            raised += 1
    if not out:
        raise RuntimeError(f"all {raised} ops raised")
    return out, raised


def run_workload(ctx: Ctx, spark, part_classes: list) -> dict:
    """Set up every part of a workload, then run ops until the time is
    up; one op runs each part's op in turn.

    A part's ``__init__`` is set-up (work only the benchmark needs goes
    inside ``ctx.untimed()``); ``op(i)`` returns a record with ``t0``,
    ``t1``, ``wall_s`` (timed), ``items`` (work done), ``steps`` (step
    walls) and ``ok`` (output equals the reference), checked outside
    ``t0``..``t1``; ``summary(ops)`` returns (detail, layers). Ops a part
    runs and checks during set-up go in its ``setup_ops`` and count as
    attempts. A one-part workload's steps are the part's; a composite
    op is one step."""
    parts = [cls(ctx, spark) for cls in part_classes]
    setup_s = ctx.setup_s()
    ops, raised = run_ops(ctx, lambda i: [p.op(i) for p in parts])
    wall = sum(r["wall_s"] for o in ops for r in o)
    items = sum(r["items"] for o in ops for r in o)
    steps = ([s for o in ops for s in o[0]["steps"]] if len(parts) == 1
             else [sum(r["wall_s"] for r in o) for o in ops])
    setup_ops = [r for p in parts for r in getattr(p, "setup_ops", [])]
    detail, layers = {}, {}
    for i, p in enumerate(parts):
        d, lay = p.summary([o[i] for o in ops])
        detail[p.name] = d
        layers.update(lay)
    return {
        "attempted": len(ops) + raised + len(setup_ops),
        "failed": (raised + sum(not all(r["ok"] for r in o) for o in ops)
                   + sum(not r["ok"] for r in setup_ops)),
        "work_per_s": items / wall,
        "step_s_p50": median(steps),
        "setup_s": setup_s,
        "steps": len(steps),
        "windows": [(r["t0"], r["t1"]) for o in ops for r in o],
        "detail": detail,
        "layers": layers,
    }


def median(xs) -> float:
    return float(statistics.median(xs))


# ------------------------------------------------------------ RSS sampler

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every live process we can read (zombies,
    which hold no memory and are reaped below, are left out)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        state, ppid = s[s.rindex(")") + 2:].split()[:2]
        if state != "Z":
            out[int(d)] = (int(ppid), s[s.index("(") + 1:s.rindex(")")])
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between processes (Python
    workers are forked from one daemon) count once across them, where
    summed RSS would count them once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def process_tree(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Samples the memory (PSS) of this process tree every ``period``
    seconds: the driver (this Python process), the JVM and the Python
    workers (every other descendant), each peak kept separately."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        mb = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        workers = 0
        for pid in process_tree(me, table):
            comm = table[pid][1] if pid in table else ""
            part = "driver" if pid == me else "jvm" if comm == "java" else "pyworkers"
            mb[part] += _pss_mb(pid)
            workers += part == "pyworkers" and comm.startswith("python")
        mb["total"] = sum(mb.values())
        for k, v in mb.items():
            self.peak[k] = max(self.peak[k], v)
        self.max_workers = max(self.max_workers, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the engine's public functions and rolled up when the run ends.
    Thread-safe: the crawl engine stages tables from a thread pool (a span
    opened on a pool thread has no parent)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.missing: list[str] = []   # wrap targets the engine no longer has
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                with tracer._lock:
                    self.id = tracer._next
                    tracer._next += 1
                stack = tracer._local.__dict__.setdefault("stack", [])
                self.parent = stack[-1] if stack else None
                stack.append(self.id)
                self.t0 = time.time()
                return self

            def __exit__(self, *exc):
                t1 = time.time()
                tracer._local.stack.pop()
                with tracer._lock:
                    tracer.spans.append({"id": self.id, "name": name,
                                         "parent": self.parent,
                                         "start": self.t0, "end": t1})

        return _Span()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr, None)
        if fn is None:
            self.missing.append(name)
            return

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def totals(self, t_min: float = 0.0) -> dict:
        """Per span name: calls, wall and self time (wall minus the part
        covered by its child spans), of the spans opened from ``t_min``
        on (the timed ops, not the warm-up)."""
        spans = [s for s in self.spans if s["start"] >= t_min]
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in spans:
            d = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            wall = s["end"] - s["start"]
            d["calls"] += 1
            d["wall_s"] += wall
            d["self_s"] += max(0.0, wall - child_s.get(s["id"], 0.0))
        return out


# ------------------------------------------------------- Spark event log

def eventlog_rollup(eventlog_dir: str, windows: list[tuple[float, float]],
                    steps: int) -> dict:
    """Roll Spark's event log up into per-step job-layer metrics for the
    jobs submitted inside the timed windows (epoch seconds)."""
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    # Spark 4 writes each application's log as a directory of event files
    for path in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    window = {j: iv for j, iv in jobs.items()
              if iv[1] is not None and any(t0 <= iv[0] <= t1 for t0, t1 in windows)}
    # driver-side latency: timed wall not covered by any running job
    covered = 0.0
    for t0, t1 in windows:
        cur = t0
        for s, e in sorted(window.values()):
            s, e = max(s, cur), min(e, t1)
            if e > s:
                covered += e - s
                cur = e
    timed = sum(t1 - t0 for t0, t1 in windows)
    run_s = cpu_s = gc_s = sw = sr = spill = 0.0
    per_stage: dict[int, list[float]] = {}
    for ev in tasks:
        if stage_job.get(ev["Stage ID"]) not in window:
            continue
        m = ev.get("Task Metrics") or {}
        run_s += m.get("Executor Run Time", 0) / 1e3
        cpu_s += m.get("Executor CPU Time", 0) / 1e9
        gc_s += m.get("JVM GC Time", 0) / 1e3
        w = m.get("Shuffle Write Metrics") or {}
        r = m.get("Shuffle Read Metrics") or {}
        sw += w.get("Shuffle Bytes Written", 0)
        sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        per_stage.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0) / 1e3)
    # skew of the stage with the largest summed task time
    skew = 1.0
    if per_stage:
        times = max(per_stage.values(), key=sum)
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else float(len(times))
    steps = max(steps, 1)
    return {
        "spark.jobs_per_step": len(window) / steps,
        "spark.job_gap_s": max(0.0, timed - covered) / steps,
        "spark.executor_run_s": run_s / steps,
        "spark.executor_cpu_s": cpu_s / steps,
        "spark.gc_s": gc_s / steps,
        "spark.shuffle_write_bytes": sw / steps,
        "spark.shuffle_read_bytes": sr / steps,
        "spark.spill_bytes": spill / steps,
        "spark.task_skew": skew,
    }
