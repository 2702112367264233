"""Per-layer tracing from outside the program.

A ``Tracer`` wraps public functions of the program's modules for the
length of one traced call sequence. Each wrapper:

- opens a span named after the layer (``blocking.keys``, ...), tags the
  Spark jobs it starts with a job group of the same name, and records
  its start and end;
- forces the function's DataFrame results (``localCheckpoint`` then
  ``count``), so the layer's jobs run inside its span and its output
  row count is known.

The stage sequence itself is the real entry point (``resolve_all``,
``resolve_all_checkpointed``, ``resolve``) -- the benchmark never
restates it, and ``run.py`` checks that the traced call returns the same
results as the untraced one.

Task-level numbers come from Spark's own event log, which the traced
run enables: ``fold_event_log`` folds ``SparkListenerTaskEnd`` metrics
per job group. Process CPU and peak RSS come from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame

SPANS = [
    "transcripts.values",
    "transcripts.records",
    "blocking.keys",
    "blocking.candidates",
    "pairs.verify",
    "pairs.gate",
    "clustering.cc",
    "scoring.score",
    "pipeline.closure",
    "storage.commit",
    "storage.resume",
    "resolve.request",
]
SPAN_METRICS = {
    "wall_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "jobs": ("count", "lower"),
    "driver_gap_s": ("s", "lower"),
    "task_skew": ("ratio", "lower"),
    "rows_out": ("count", "lower"),
}
EXTRA_METRICS = {
    "pairs.match_ratio": ("ratio", "higher"),
    "blocking.candidates_per_record": ("ratio", "lower"),
    "blocking.dropped_blocks": ("count", "lower"),
    "blocking.key_capped_records": ("count", "lower"),
    "scoring.python_cpu_s": ("s", "lower"),
    "storage.written_mb": ("MB", "lower"),
    "resolve.hops_per_request": ("count", "lower"),
    "spark.slot_util": ("ratio", "higher"),
    "spark.spill_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
GROUP_PREFIX = "perfbench:"
ROOT_SPAN = "op"

# (module, attribute, span, counters named for the trailing DataFrames
# of a tuple result). Patched in the CALLER's namespace, where the
# entry points look the names up at call time.
WRAPPED = [
    ("zentity_spark.pipeline", "build_values", "transcripts.values", ()),
    ("zentity_spark.resolve", "build_values", "transcripts.values", ()),
    ("zentity_spark.pipeline", "build_records", "transcripts.records", ()),
    ("zentity_spark.pipeline", "blocking_keys", "blocking.keys",
     ("blocking.key_capped_records",)),
    ("zentity_spark.pipeline", "candidate_pairs", "blocking.candidates",
     ("blocking.dropped_blocks",)),
    ("zentity_spark.pipeline", "verify_pairs", "pairs.verify", ()),
    ("zentity_spark.pipeline", "gate_edges", "pairs.gate", ()),
    ("zentity_spark.pipeline", "connected_components", "clustering.cc", ()),
    ("zentity_spark.scoring", "score_pairs", "scoring.score", ()),
]


# ---------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime+stime of the process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in f[11:15])


def _is_python(pid: int) -> bool:
    try:
        return "python" in os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False


def tree_cpu_s(root: int | None = None, python_only: bool = False) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    every live descendant: the JVM, the PySpark daemon and its workers."""
    pids = descendants(root or os.getpid())
    if python_only:
        pids = [p for p in pids if p != os.getpid() and _is_python(p)]
    return sum(_cpu_ticks(p) for p in pids) / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the process tree."""
    total_kb = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


# --------------------------------------------------------------- tracer

def span(tracer, name: str):
    """``tracer.span(name)``, or nothing when there is no tracer."""
    return tracer.span(name) if tracer is not None else nullcontext()


class Tracer:
    """Spans and counters of one traced call sequence."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: list[tuple[str, float, float]] = []
        self.rows: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[tuple[str, float]] = []
        self._saved: list[tuple[object, str, object]] = []

    # spans ------------------------------------------------------------
    def begin(self, span: str) -> None:
        self._stack.append((span, time.time()))
        self.sc.setJobGroup(GROUP_PREFIX + span, span)

    def end(self, span: str) -> None:
        name, t0 = self._stack.pop()
        if name != span:
            raise RuntimeError(f"span {span} closed while {name} is open")
        self.calls.append((span, t0, time.time()))
        parent = self._stack[-1][0] if self._stack else ROOT_SPAN
        self.sc.setJobGroup(GROUP_PREFIX + parent, parent)

    def is_open(self, span: str) -> bool:
        return any(name == span for name, _ in self._stack)

    @contextmanager
    def span(self, span: str):
        self.begin(span)
        try:
            yield
        finally:
            self.end(span)

    # wrappers ---------------------------------------------------------
    def _wrap(self, fn, span: str, extras: tuple[str, ...]):
        tracer = self

        def traced(*args, **kwargs):
            py0 = tree_cpu_s(python_only=True) if span == "scoring.score" else 0.0
            tracer.begin(span)
            try:
                out = fn(*args, **kwargs)
                parts = list(out) if isinstance(out, tuple) else [out]
                for i, part in enumerate(parts):
                    if isinstance(part, DataFrame):
                        part = part.localCheckpoint()
                        n = part.count()
                        if i == 0:
                            tracer.rows[span] += n
                        else:
                            tracer.counts[extras[i - 1]] += n
                    parts[i] = part
            finally:
                tracer.end(span)
            if span == "scoring.score":
                tracer.counts["scoring.python_cpu_s"] += tree_cpu_s(python_only=True) - py0
            return tuple(parts) if isinstance(out, tuple) else parts[0]

        return traced

    def _wrap_commit(self, commit):
        """storage.commit span around SnapshotStore.commit. The entity
        closure has no public function, so its window is read off the
        committed runner's manifests: it opens when the `clusters`
        stage's lineage row is committed and closes when the
        `clusters_closed` snapshot starts to commit."""
        tracer = self

        def traced(store, df, table, stage, *args, **kwargs):
            if table == "clusters_closed" and tracer.is_open("pipeline.closure"):
                tracer.end("pipeline.closure")
            tracer.begin("storage.commit")
            try:
                manifest = commit(store, df, table, stage, *args, **kwargs)
            finally:
                tracer.end("storage.commit")
            tracer.rows["storage.commit"] += manifest["rows"]
            tracer.counts["storage.written_mb"] += dir_mb(manifest["data_path"])
            if table == "metrics" and stage == "clusters":
                tracer.begin("pipeline.closure")
            return manifest

        return traced

    def __enter__(self):
        import importlib

        from zentity_spark.storage import SnapshotStore

        for mod_name, attr, span, extras in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span, extras))
        self._saved.append((SnapshotStore, "commit", SnapshotStore.commit))
        SnapshotStore.commit = self._wrap_commit(SnapshotStore.commit)
        self.begin(ROOT_SPAN)
        return self

    def __exit__(self, *exc):
        while self._stack:
            self.end(self._stack[-1][0])
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return False


# ------------------------------------------------------------ event log

def fold_event_log(path: str) -> dict:
    """Jobs and tasks of one application's event log.

    Returns {"jobs": {job_id: {"group", "t0", "t1"}},
             "tasks": [{"group", "stage", "run_s", "gc_s",
                        "shuffle_mb", "spill_mb"}]}.
    A stage's tasks belong to the first job that lists the stage (later
    jobs that list it skip it)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                jid = stage_job.get(sid)
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "group": jobs[jid]["group"] if jid in jobs else "",
                    "stage": sid,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                    "spill_mb": (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0)) / 2**20,
                })
    return {"jobs": jobs, "tasks": tasks}


def _merged(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(window: tuple[float, float], merged: list[tuple[float, float]]) -> float:
    a, b = window
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in merged)


def span_metrics(tracer: Tracer, log: dict) -> dict[str, float]:
    """The eight per-span metrics for every span in SPANS (0 for a
    layer the workload does not run)."""
    by_group = defaultdict(list)
    for t in log["tasks"]:
        by_group[t["group"]].append(t)
    jobs_by_group = defaultdict(int)
    for j in log["jobs"].values():
        jobs_by_group[j["group"]] += 1
    job_iv = _merged([(j["t0"], j["t1"]) for j in log["jobs"].values() if j["t1"]])

    out = {}
    for span in SPANS:
        windows = [(t0, t1) for s, t0, t1 in tracer.calls if s == span]
        wall = sum(t1 - t0 for t0, t1 in windows)
        tasks = by_group.get(GROUP_PREFIX + span, [])
        per_stage = defaultdict(list)
        for t in tasks:
            per_stage[t["stage"]].append(t["run_s"])
        skew = 0.0
        if per_stage:
            # skew of the span's heaviest stage: max / median task time
            heavy = max(per_stage.values(), key=sum)
            med = statistics.median(heavy)
            skew = max(heavy) / med if med > 0 else 1.0
        busy = sum(_covered(w, job_iv) for w in windows)
        out.update({
            f"{span}.wall_s": wall,
            f"{span}.task_s": sum(t["run_s"] for t in tasks),
            f"{span}.gc_s": sum(t["gc_s"] for t in tasks),
            f"{span}.shuffle_mb": sum(t["shuffle_mb"] for t in tasks),
            f"{span}.jobs": float(jobs_by_group.get(GROUP_PREFIX + span, 0)),
            f"{span}.driver_gap_s": max(0.0, wall - busy),
            f"{span}.task_skew": skew,
            f"{span}.rows_out": float(tracer.rows.get(span, 0)),
        })
    return out
