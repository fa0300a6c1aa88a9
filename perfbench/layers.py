"""Tracing for the benchmark's traced run, all from the benchmark side.

Nothing here edits the package: spans come from wrappers installed around
the package's public calls, job/stage/task counts from the status tracker
with one job group per op, executor time from Spark's JSON event log parsed
offline, and the parse-layer split from a serial in-process replay of the
same corpus. Host noise (steal ticks, CPU-busy share) and peak resident
memory come from ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import steampipe_plugin_terraform_spark.engine as engine_mod
import steampipe_plugin_terraform_spark.hcl.parser as parser_mod
import steampipe_plugin_terraform_spark.streaming.watch as watch_mod
import steampipe_plugin_terraform_spark.tfcore.rows as rows_mod


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- host ---------------------------------------------------------------------


def read_cpu() -> tuple[int, int, int]:
    """(steal ticks, busy ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    total = sum(v[:8])
    return v[7], total - v[3] - v[4], total


def host_delta(a, b) -> dict[str, float]:
    total = max(b[2] - a[2], 1)
    return {"steal_ticks": b[0] - a[0], "cpu_busy_frac": (b[1] - a[1]) / total}


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and every descendant (driver, JVM,
    Python workers)."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        parent[pid] = int(s[s.rindex(")") + 2:].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


# -- spans ----------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: (name, start, end, parent index, op id).

    Wrappers installed by ``install`` record only while ``active`` is set, so
    the traced run can time the same ops with and without tracing."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: list[tuple[str, float, int]] = []
        self.op = -1
        self._stack: list[int] = []
        self.jobs: dict[int, tuple[int, int, int]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, op)

    def count(self, name: str, value: float, op: int) -> None:
        if self.active:
            self.counts.append((name, value, op))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)

        def wrapper(*a, **kw):
            with self.span(name):
                out = orig(*a, **kw)
            if on_result is not None:
                on_result(self, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Spans around the package's public calls on the driver."""
        files = lambda t, out: (t.count("discover.calls", 1, t.op), t.count("discover.files", len(out), t.op))
        self.wrap(engine_mod, "discover_files", "discover", files)
        self.wrap(watch_mod, "discover_files", "discover", files)
        E = engine_mod.TerraformEngine
        self.wrap(E, "__init__", "engine.construct")
        self.wrap(E, "wide", "engine.wide")
        self.wrap(E, "table", "engine.table")
        self.wrap(E, "register_views", "sql.register_views")
        self.wrap(E, "refresh", "engine.refresh")
        self.wrap(watch_mod.TerraformWatcher, "poll", "watch.poll",
                  lambda t, out: t.count("watch.changed_files", len(out), t.op))

    @contextmanager
    def op_scope(self, i: int):
        """One job group per op; its job, stage and task counts are read
        back from the status tracker when the op ends."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-op-{i}"
        self.op = i
        sc.setJobGroup(group, group)
        try:
            with self.span("op"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.op = -1
            st = sc.statusTracker()
            n_jobs = n_stages = n_tasks = 0
            for job in st.getJobIdsForGroup(group):
                info = st.getJobInfo(job)
                if info is None:
                    continue
                n_jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None and stage.numTasks:
                        n_stages += 1
                        n_tasks += stage.numTasks
            self.jobs[i] = (n_jobs, n_stages, n_tasks)

    def per_op(self, name: str) -> list[float]:
        """Total seconds under spans called ``name``, one value per traced op."""
        out: dict[int, float] = {}
        for n, t0, t1, _, op in self.spans:
            if n == name and op >= 0:
                out[op] = out.get(op, 0.0) + (t1 - t0)
        return [out.get(op, 0.0) for op in self.jobs]

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds (total minus
        the time its child spans cover)."""
        child = [0.0] * len(self.spans)
        for n, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, dict[str, float]] = {}
        for (n, t0, t1, _, _), c in zip(self.spans, child):
            s = out.setdefault(n, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            s["n"] += 1
            s["total_s"] += t1 - t0
            s["self_s"] += t1 - t0 - c
        return out

    def count_per_op(self, name: str) -> float:
        total = sum(v for n, v, op in self.counts if n == name and op >= 0)
        return total / max(len(self.jobs), 1)

    def setup_span(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _, op in self.spans if n == name and op < 0)


# -- serial replay of the parse layers ---------------------------------------


def replay(files: list[tuple[str, str]]) -> dict[str, float]:
    """Build rows for every (path, kind) file serially in this process with
    timers around ``parse_file``, ``tokenize`` and ``find_block_lines``."""
    acc = {"tokenize": 0.0, "parse": 0.0, "jsonpos": 0.0, "jsonpos_calls": 0, "jsonpos_lines": 0}
    build = {"config": 0.0, "state": 0.0, "plan": 0.0}
    n_rows = config_bytes = 0

    def timed(key, fn, on_call=None):
        def w(*a, **kw):
            if on_call is not None:
                on_call(*a)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                acc[key] += time.perf_counter() - t0
        return w

    def lines(text, *_):
        acc["jsonpos_calls"] += 1
        acc["jsonpos_lines"] += text.count("\n") + 1

    saved = (rows_mod.parse_file, parser_mod.tokenize, rows_mod.find_block_lines)
    rows_mod.parse_file = timed("parse", saved[0])
    parser_mod.tokenize = timed("tokenize", saved[1])
    rows_mod.find_block_lines = timed("jsonpos", saved[2], lines)
    try:
        for path, kind in files:
            with open(path, encoding="utf-8") as f:
                text = f.read()
            t0 = time.perf_counter()
            rows = rows_mod.build_rows_for_file(path, kind, text)
            eff = rows[0]["file_kind"] if rows else kind
            build[eff] += time.perf_counter() - t0
            n_rows += len(rows)
            if eff == "config":
                config_bytes += len(text.encode())
    finally:
        rows_mod.parse_file, parser_mod.tokenize, rows_mod.find_block_lines = saved
    calls = acc["jsonpos_calls"]
    return {
        "hcl.tokenize_s": acc["tokenize"],
        "hcl.parse_s": acc["parse"],
        "hcl.bytes_per_s": config_bytes / acc["parse"] if acc["parse"] else 0.0,
        "rows.build_config_s": build["config"],
        "rows.build_state_s": build["state"],
        "rows.build_plan_s": build["plan"],
        "rows.rows_built": n_rows,
        "jsonpos.calls": calls,
        "jsonpos.busy_s": acc["jsonpos"],
        "jsonpos.lines_per_call": acc["jsonpos_lines"] / calls if calls else 0.0,
    }


# -- Spark event log ------------------------------------------------------------


def parse_event_log(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Executor run/CPU/GC time, shuffle and spill bytes, summed per op over
    the tasks of the ops' job groups, and the longest such task."""
    stage_group: dict[int, str] = {}
    run_ms = cpu_ns = gc_ms = shuffle = spill = 0
    task_max_ms = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in groups:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    shuffle += sw.get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    task_max_ms = max(task_max_ms, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    n = max(len(groups), 1)
    return {
        "spark.exec_run_s": run_ms / 1e3 / n,
        "spark.exec_cpu_s": cpu_ns / 1e9 / n,
        "spark.gc_s": gc_ms / 1e3 / n,
        "spark.shuffle_bytes": shuffle / n,
        "spark.spill_bytes": spill / n,
        "spark.task_max_s": task_max_ms / 1e3,
    }
