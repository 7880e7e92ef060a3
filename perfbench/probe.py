"""Measurement from outside the program: process-tree CPU and peak RSS
read from ``/proc``, wall-clock spans around each layer call tagged
with a Spark job group, and a fold of Spark's event log into per-group
task totals."""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float, str] | None:
    """(ppid, cpu seconds incl. reaped children, comm) of one process."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return int(f[1]), sum(int(x) for x in f[11:15]) / _TICK, comm


def _tree(root: int) -> dict[int, tuple[float, str]]:
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (s := _stat(pid)):
            procs[int(pid)] = s
    children = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        children[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            todo.extend(children[pid])
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (the JVM and
    its Python workers), including descendants already reaped."""
    return sum(cpu for cpu, _ in _tree(os.getpid()).values())


def jvm_peak_rss_mb() -> float:
    """``VmHWM`` of the JVM this process started."""
    for pid, (_, comm) in _tree(os.getpid()).items():
        if comm == "java":
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    raise RuntimeError("no JVM among this process's descendants")


class Tracer:
    """Spans around layer calls; each span tags its Spark jobs with the
    span name as job group, so the event log can be folded per layer."""

    IDLE_GROUP = "harness"

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, float, float]] = []  # (name, wall_s, cpu_s)
        sc.setJobGroup(self.IDLE_GROUP, self.IDLE_GROUP)

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, time.perf_counter() - t0, tree_cpu_s() - c0))
            self.sc.setJobGroup(self.IDLE_GROUP, self.IDLE_GROUP)

    def take(self) -> list[tuple[str, float, float]]:
        out, self.spans = self.spans, []
        return out


def fold_event_log(path: Path, since_ms: int, layer_of) -> dict[str, dict[str, float]]:
    """Per-layer totals over the jobs submitted at or after ``since_ms``.

    ``layer_of(job_group)`` names the layer a job group belongs to (None
    drops it).  Returns layer → {tasks, gc_s, spill_mb, task_skew,
    shuffle_write_mb, py_worker_s, jobs}.  ``task_skew`` is the largest
    max/median executor run time over the layer's stages of >= 2 tasks.
    """
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stage_runs: dict[int, list[int]] = defaultdict(list)
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if ev["Submission Time"] < since_ms:
                    continue
                layer = layer_of(ev.get("Properties", {}).get("spark.jobGroup.id"))
                if layer is None:
                    continue
                jobs[layer] += 1
                for sid in ev["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_layer:
                layer = stage_layer[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                t = tot[layer]
                t["tasks"] += 1
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += (m.get("Disk Bytes Spilled", 0)) / 2**20
                sw = m.get("Shuffle Write Metrics", {})
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        t["py_worker_s"] += float(acc.get("Update", 0)) / 1e3
                stage_runs[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
    for sid, runs in stage_runs.items():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0:
            t = tot[stage_layer[sid]]
            t["task_skew"] = max(t.get("task_skew", 1.0), max(runs) / med)
    for layer, n in jobs.items():
        tot[layer]["jobs"] = n
        tot[layer].setdefault("task_skew", 1.0)
    return {k: dict(v) for k, v in tot.items()}
