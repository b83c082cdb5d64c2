"""Spans, Spark status-store readers, process-tree memory and host facts.

The benchmark observes the package only from outside: spans are recorded
here, around the calls the workloads make into each layer, and execution
numbers come from Spark's own AppStatusStore and executed-plan metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

_clock = time.perf_counter


class Tracer:
    """In-memory spans: (name, layer, start, end, parent, request id).
    Spans nest through a stack, so one must be closed before its parent."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent reading telemetry for the trace

    @contextlib.contextmanager
    def span(self, layer: str, name: str, rid: str | None = None):
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "start": _clock(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "rid": rid if rid is not None else (self.spans[self._stack[-1]]["rid"] if self._stack else None),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = _clock()
            self._stack.pop()

    @contextlib.contextmanager
    def bookkeeping(self):
        t0 = _clock()
        try:
            yield
        finally:
            self.overhead_s += _clock() - t0

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover, summed
        per layer. Children never overlap: the workloads are sequential."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s, "id": i, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


class NullTracer:
    """Tracing off: spans and bookkeeping cost nothing."""

    enabled = False
    overhead_s = 0.0

    def span(self, layer, name, rid=None):
        return contextlib.nullcontext()

    def bookkeeping(self):
        return contextlib.nullcontext()


# ------------------------------------------------------------ Spark stores


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_group_stats(spark, group: str) -> dict:
    """Jobs, stages and task metrics of every job run under ``group``,
    read from the AppStatusStore: job wall, task count, executor CPU and
    GC time, shuffle write and spill bytes, and the stages themselves."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "exec_s": 0.0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "stages": []}
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        sub, comp = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        out["jobs"] += 1
        if sub is not None and comp is not None:
            out["exec_s"] += comp - sub
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            if st.numCompleteTasks() == 0:
                continue
            s_sub, s_comp = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            out["tasks"] += st.numCompleteTasks()
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["stages"].append({
                "id": sid,
                "wall_s": (s_comp - s_sub) if s_sub is not None and s_comp is not None else 0.0,
                "tasks": st.numCompleteTasks(),
            })
    return out


def plan_metric(df, node_prefix: str, metric: str) -> int:
    """Sum of SQL metric ``metric`` over executed-plan nodes whose name
    starts with ``node_prefix``, read after the DataFrame's own action."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName().startswith(node_prefix):
            m = node.metrics().get(metric)
            if m.isDefined():
                total += m.get().value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total


# --------------------------------------------------------- process memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled on a background thread."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- host facts


def package_digest(pkg_dir: str) -> str:
    """sha256 over the package's Python sources (names and bytes): the
    program version, also where no git metadata exists."""
    import hashlib

    h = hashlib.sha256()
    for base, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, pkg_dir).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    import subprocess

    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def host_facts(root: str, cpus: int, driver_mem: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "driver_memory": driver_mem,
        "loadavg": list(os.getloadavg()),
        "git_sha": git_sha(root),
        "package_sha256": package_digest(os.path.join(root, "polars_readstat_rs_spark")),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
