"""Layer spans, process-tree resource counters, the host-speed sampler and
the event-log fold.

Spans are recorded from the benchmark's side of each layer call: the layer
tracker names the layer that is running now (``Layers.enter``), tags every
Spark job it submits with ``setJobDescription(<layer>)`` and charges the
wall time and the process-tree CPU since the previous transition to the
previous layer.  Layers run one after another, so a layer's span self time
is the sum of the intervals in which it was the current layer.

The Spark event log (uncompressed JSON lines) gives what /proc cannot:
jobs, tasks, shuffle write, spill, task skew and idle slot time, folded per
layer by the job description of the job that ran each stage.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

LAYERS = {
    "osm_graph": [
        "sources.pbf", "operators.relations", "operators.graph_build",
        "operators.turn_expand", "operators.export", "plans.checkpoint",
    ],
    "image_caption": [
        "sources.codec", "cells", "operators.spatial_join.pip",
        "operators.spatial_join.tiles", "operators.knn",
        "operators.dedup.minhash", "operators.dedup.clusters",
    ],
}
FIELDS = [
    "wall_s", "cpu_s", "rows_out", "jobs", "tasks", "shuffle_write_mb",
    "spill_mb", "task_skew", "idle_slot_s",
]


# ---------------------------------------------------------------------------
# /proc: CPU seconds and resident memory of this process and its descendants
# ---------------------------------------------------------------------------

def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from #3 (state) on


EXCLUDED: set[str] = set()  # pids left out of the tree, with their children


def tree_pids() -> list[str]:
    root = str(os.getpid())
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat_fields(pid)
            if st is not None:
                children[st[1]].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in EXCLUDED:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _compiler_ticks(pid: str) -> int:
    """CPU ticks of the JVM's JIT compiler threads in ``pid`` (0 elsewhere)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1 : raw.rindex(")")]
        if "CompilerThre" in name:
            ticks += sum(int(v) for v in raw[raw.rindex(")") + 2 :].split()[11:13])
    return ticks


def tree_cpu_s(pids: list[str] | None = None) -> float:
    """utime + stime of every live process in the tree, plus what each has
    collected from its reaped children (cutime + cstime), minus the JIT
    compiler threads: compilation is JVM start-up work that shrinks over the
    first jobs of a run and says nothing about the job itself."""
    ticks = 0
    for pid in pids or tree_pids():
        st = _stat_fields(pid)
        if st is not None:
            ticks += sum(int(v) for v in st[11:15]) - _compiler_ticks(pid)
    return ticks / CLK_TCK


def tree_rss_mb(pids: list[str]) -> float:
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * PAGE / 1e6


# the sampler child: times a fixed pure-Python loop in CPU seconds every
# 0.1 s until its stdin closes, then prints every timing
_SPEED_LOOP = r"""
import select, sys, time
out = []
while not select.select([sys.stdin], [], [], 0.1)[0]:
    c0 = time.process_time()
    s = 0
    for i in range(50_000):
        s += i * i
    out.append(time.process_time() - c0)
print(" ".join(repr(v) for v in out))
"""


class SpeedSampler:
    """How fast the shared host runs an instruction while a span runs.

    A child process times a fixed pure-Python loop in CPU seconds ten times
    a second; ``loop_s`` is the median.  Co-tenants on the sibling
    hyperthreads and the memory bus slow every instruction, so the loop's
    CPU time grows with the job's.  It uses ~4% of one core, and its pid is
    left out of ``tree_pids`` so none of its CPU or memory counts.
    """

    def __enter__(self) -> SpeedSampler:
        self.proc = subprocess.Popen(
            [sys.executable, "-c", _SPEED_LOOP],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        EXCLUDED.add(str(self.proc.pid))
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self.proc.communicate("", timeout=60)
        EXCLUDED.discard(str(self.proc.pid))
        samples = [float(v) for v in out.split()]
        self.loop_s = statistics.median(samples) if samples else float("nan")


class RssSampler:
    """Peak summed RSS of the process tree, sampled every ``period`` s."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids: list[str] = []
        prev: set[str] = set()
        n = 0
        while not self._stop.is_set():
            if n % 20 == 0:  # re-discover forked python workers once a second
                pids = tree_pids()
            # a process counts from its second sighting on: a fork caught
            # before its exec would count its parent's whole RSS twice
            self.peak = max(self.peak, tree_rss_mb([p for p in pids if p in prev]))
            prev = set(pids)
            n += 1
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# layer spans
# ---------------------------------------------------------------------------

class Layers:
    """The current layer, its job description, and per-layer wall/CPU."""

    def __init__(self, sc):
        self.sc = sc
        self.current: str | None = None
        self.wall: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)
        self._t = time.perf_counter()
        self._cpu = tree_cpu_s()

    def enter(self, layer: str | None) -> None:
        t, cpu = time.perf_counter(), tree_cpu_s()
        if self.current is not None:
            self.wall[self.current] += t - self._t
            self.cpu[self.current] += cpu - self._cpu
        self.current, self._t, self._cpu = layer, t, cpu
        self.sc.setJobDescription(layer)

    def _wrap(self, owner, attr: str, enter: str | None, after: str | None, stack: list):
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            if enter is not None:
                self.enter(enter)
            out = orig(*args, **kwargs)
            if after is not None:
                self.enter(after)
            return out

        setattr(owner, attr, wrapped)
        stack.append((owner, attr, orig))

    @contextlib.contextmanager
    def probes_osm(self, restrictions_path: str):
        """Spans around the layer calls the CLI job makes.

        The CLI composes the layers itself, so the probes wrap the
        functions it calls (restored on exit): each call names its layer,
        every managed-table write hands over to ``plans.checkpoint`` for the
        runner's own count, fingerprint and lineage jobs, and the CSV sink
        after the pipeline is ``operators.export``.  The pivoted
        restrictions are lazy inside the CLI, so the probe materializes them
        at the layer boundary (parquet) and passes on the read-back.
        """
        from navgraph_osm_spark import pipeline
        from navgraph_osm_spark.operators import relations
        from navgraph_osm_spark.plans.checkpoint import StageRunner
        from navgraph_osm_spark.sources import pbf
        from navgraph_osm_spark.sources.tables import TableWriter

        stack: list = []
        orig_pivot = relations.pivot_restrictions

        def pivot_materialized(*args, **kwargs):
            self.enter("operators.relations")
            df = orig_pivot(*args, **kwargs)
            df.write.mode("overwrite").parquet(restrictions_path)
            return df.sparkSession.read.parquet(restrictions_path)

        try:
            self._wrap(pbf, "load_osm_tables", "sources.pbf", None, stack)
            setattr(relations, "pivot_restrictions", pivot_materialized)
            stack.append((relations, "pivot_restrictions", orig_pivot))
            self._wrap(StageRunner, "run", "plans.checkpoint", None, stack)
            self._wrap(pipeline, "build_edges", "operators.graph_build", None, stack)
            self._wrap(pipeline, "construction_counts", "operators.graph_build", None, stack)
            self._wrap(pipeline, "expand_turns", "operators.turn_expand", None, stack)
            self._wrap(pipeline, "export_rows", "operators.export", None, stack)
            self._wrap(TableWriter, "write", None, "plans.checkpoint", stack)
            self._wrap(pipeline, "run_full_pipeline", None, "operators.export", stack)
            yield
        finally:
            for owner, attr, orig in reversed(stack):
                setattr(owner, attr, orig)
            self.enter(None)


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------

def read_events(log_dir: str, app_id: str):
    """Every event of one application (single file or rolling directory)."""
    paths = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
    files = []
    for p in paths:
        files.extend(sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p])
    if not files:
        raise RuntimeError(f"no event log for {app_id} under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(events, layers: list[str], slots: int, span_wall: dict[str, float]) -> dict:
    """Per-layer jobs, tasks, shuffle write, spill, skew and idle slot time.

    A stage belongs to the layer named by the description of the first job
    that lists it; jobs with any other description (the calibration) are
    ignored.  ``task_skew`` is the slowest/median task duration of each
    stage with at least two tasks, averaged with the stage's total task
    time as weight.  ``idle_slot_s`` is span wall × slots minus the summed
    task durations.
    """
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    acc = {layer: defaultdict(float) for layer in layers}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc in acc:
                jobs[desc] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, desc)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            if layer is None:
                continue
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            stage_tasks[ev["Stage ID"]].append(dur)
            a = acc[layer]
            a["tasks"] += 1
            a["task_s"] += dur
            a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            a["rows_out"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    skew_num: dict[str, float] = defaultdict(float)
    skew_den: dict[str, float] = defaultdict(float)
    for sid, durs in stage_tasks.items():
        if len(durs) >= 2 and sum(durs) > 0:
            med = statistics.median(durs)
            ratio = max(durs) / med if med > 0 else 1.0
            skew_num[stage_layer[sid]] += ratio * sum(durs)
            skew_den[stage_layer[sid]] += sum(durs)
    out = {}
    for layer in layers:
        a = acc[layer]
        out[layer] = {
            "jobs": jobs[layer],
            "tasks": a["tasks"],
            "shuffle_write_mb": a["shuffle_write_mb"],
            "spill_mb": a["spill_mb"],
            "rows_out": a["rows_out"],
            "task_skew": skew_num[layer] / skew_den[layer] if skew_den[layer] else 1.0,
            "idle_slot_s": span_wall.get(layer, 0.0) * slots - a["task_s"],
        }
    return out
