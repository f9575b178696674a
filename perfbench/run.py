#!/usr/bin/env python3
"""End-to-end benchmark of the engine on two seeded workloads.

    python3 perfbench/run.py --workload {osm_graph,image_caption,all} \
        --seed N --seconds S --trace {0,1} [--corrupt]

Run from the repository root.  One run of one workload:

1. set-up, three times: start the Spark session (``local[nproc]``) and
   warm up the python workers (``bench._warmup``).  The first start launches
   the JVM, the others restart the context on it.  ``setup_s`` is the
   median of the three.  The seeded inputs are generated after the first
   (``input_gen_s``, reported, not gated);
2. the job, repeated for ``--seconds``: at least once, and no repetition
   starts that would end past that time.  Every output is checked.  The
   metrics are the first repetition's, JIT warm-up included, because a
   batch job or a CLI run pays it every time.  ``cpu_norm`` is its CPU
   seconds over the CPU seconds of a fixed pure-Python loop that
   ``spans.SpeedSampler`` times ten times a second while the job runs
   (``loop_ms``, info): the shared host's speed drifts by 30-40%, and the
   job's CPU seconds drift with it.  A later repetition runs on a warm JVM;
   the median of their wall times is printed as ``warm_job_s``.

With ``--trace 1`` the run prints the per-layer metrics instead.  It sets
up once and measures the untraced job (for ``trace.overhead_s``), then starts
a second JVM whose session also writes an uncompressed Spark event log, sets
it up once and measures the job the same way.  The two sessions differ only
in the confs passed through ``get_spark(extra_conf=...)``; the layer spans
run in both.  The per-layer metrics are folded from the traced job.
``bench_extra.load_calibrate``, the repo's host-drift control, runs after it
and is printed as ``load_calib_s``.

``--corrupt`` damages every repetition's output before it is checked (the
self-test that a wrong output is counted as failed).

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it print every metric by name
and unit.  Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
# gated end-to-end metrics.  A shared host's slow windows move a job's CPU
# seconds by 30-40%, past any bound the gate allows; cpu_norm, the job's CPU
# seconds over the CPU seconds of a fixed loop timed while the job runs, does
# not move with them.  Wall time spreads too far to gate and is printed
# beside them (info), with cpu_s and rows_per_s.
END_TO_END = {"cpu_norm": "ratio", "peak_rss_mb": "MB", "written_mb": "MB", "setup_s": "s"}
SETUPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _slots() -> int:
    return len(os.sched_getaffinity(0))


def _confs(trace: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # the heap is touched once at launch, so peak_rss_mb tracks the
        # python workers and the JVM's off-heap memory, not how far G1 had
        # grown its young generation when the sampler looked; compiler
        # threads that never exit keep their CPU attributable
        # (spans.tree_cpu_s leaves JIT compilation out of cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _session(trace: bool):
    from navgraph_osm_spark.session import get_spark

    return get_spark("perfbench", parallelism=_slots(), extra_conf=_confs(trace))


def _shutdown(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool, corrupt: bool):
        from workloads import WORKLOADS

        self.name, self.seed, self.seconds = name, seed, seconds
        self.trace, self.corrupt = trace, corrupt
        self.work = os.path.join(WORK, name)
        shutil.rmtree(self.work, ignore_errors=True)
        self.wl = WORKLOADS[name](self.work)
        self.reps: list[dict] = []
        self.info: dict[str, float] = {}

    def setup(self, trace: bool) -> tuple:
        """Session start + python worker warm-up; returns (session, seconds)."""
        import bench

        t0 = time.perf_counter()
        spark = _session(trace)
        bench._warmup(spark, _slots())
        return spark, time.perf_counter() - t0

    def measure(self, spark, seconds: float, traced: bool):
        """Repeat the job for ``seconds``: at least once, and no repetition
        starts that would end past that time."""
        from spans import Layers

        layers = Layers(spark.sparkContext)
        t_end = time.perf_counter() + seconds
        while True:
            rep = self.rep(spark, layers, traced)
            if time.perf_counter() + rep["job_s"] > t_end:
                return layers

    def rep(self, spark, layers, traced: bool) -> dict:
        """One checked job."""
        from spans import RssSampler, SpeedSampler, tree_cpu_s

        self.wl.reset_outputs()
        err = None
        with SpeedSampler() as speed:
            layers.enter(None)
            cpu0 = tree_cpu_s()
            with RssSampler() as rss:
                t0 = time.perf_counter()
                try:
                    self.wl.job(spark, layers)
                except Exception as e:  # a failed repetition is counted, not fatal
                    traceback.print_exc()
                    err = f"{type(e).__name__}: {e}"
                job_s = time.perf_counter() - t0
                layers.enter(None)
            cpu = tree_cpu_s() - cpu0
        errors = [err] if err else self.wl.check(corrupt=self.corrupt)
        for e in errors:
            print(f"[{self.name}] check failed: {e}", file=sys.stderr)
        print(f"[{self.name}] rep {len(self.reps)}: job_s={job_s:.3f} cpu_s={cpu:.2f} "
              f"loop_ms={speed.loop_s * 1e3:.3f} traced={traced} ok={not errors}", file=sys.stderr)
        rep = {
            "job_s": job_s, "cpu_s": cpu, "loop_s": speed.loop_s, "peak_rss_mb": rss.peak,
            "written_mb": self.wl.written_bytes() / 1e6, "ok": not errors,
            "traced": traced,
        }
        self.reps.append(rep)
        return rep

    def run(self) -> dict:
        spark, s = self.setup(trace=False)
        setups = [s]
        self.rows = self.gen_inputs(spark)
        if self.trace:
            # only the per-layer metrics are printed: the untraced job is
            # measured for trace.overhead_s alone
            self.measure(spark, self.seconds, traced=False)
            _shutdown(spark)
            # the traced job gets a JVM of its own, so that it is a first
            # job after set-up exactly like the untraced one
            spark, _ = self.setup(trace=True)
            layers = self.measure(spark, self.seconds, traced=True)
            app_id = spark.sparkContext.applicationId
            self.calibrate(spark)
            _shutdown(spark)
            return self.trace_metrics(layers, app_id)
        for _ in range(1, SETUPS):
            spark.stop()
            spark, s = self.setup(trace=False)
            setups.append(s)
        self.setup_s = statistics.median(setups)
        self.measure(spark, self.seconds, traced=False)
        _shutdown(spark)
        return self.end_to_end()

    def calibrate(self, spark) -> None:
        """``bench_extra.load_calibrate``, the repo's host-drift control."""
        import bench_extra

        spark.sparkContext.setJobDescription("calibrate")
        self.info["load_calib_s"] = bench_extra.load_calibrate(spark)

    def gen_inputs(self, spark) -> int:
        t0 = time.perf_counter()
        rows = self.wl.gen_inputs(spark, self.seed)
        self.info["input_gen_s"] = time.perf_counter() - t0
        return rows

    def end_to_end(self) -> dict:
        """The first repetition's metrics; its CPU seconds over the loop's."""
        first = next(r for r in self.reps if not r["traced"])
        later = [r["job_s"] for r in self.reps if not r["traced"] and r is not first]
        self.info.update(
            job_s=first["job_s"], cpu_s=first["cpu_s"], loop_ms=first["loop_s"] * 1e3,
            rows_per_s=self.rows / first["job_s"],
        )
        if later:
            self.info["warm_job_s"] = statistics.median(later)
        return {
            "cpu_norm": first["cpu_s"] / first["loop_s"],
            "peak_rss_mb": first["peak_rss_mb"],
            "written_mb": first["written_mb"],
            "setup_s": self.setup_s,
        }

    def trace_metrics(self, layers, app_id: str) -> dict:
        from spans import FIELDS, LAYERS, fold_event_log, read_events

        traced = [r for r in self.reps if r["traced"]]
        plain = [r for r in self.reps if not r["traced"]]
        n = len(traced)
        wall = {k: v / n for k, v in layers.wall.items()}
        folded = fold_event_log(
            read_events(os.path.join(WORK, "eventlog"), app_id),
            LAYERS[self.name], _slots(), layers.wall,
        )
        out: dict[str, float] = {}
        for wl_name, names in LAYERS.items():
            for layer in names:
                vals = dict.fromkeys(FIELDS, 0.0)
                if wl_name == self.name:
                    f = folded[layer]
                    vals.update({
                        "wall_s": wall.get(layer, 0.0),
                        "cpu_s": layers.cpu.get(layer, 0.0) / n,
                        "rows_out": f["rows_out"] / n,
                        "jobs": f["jobs"] / n,
                        "tasks": f["tasks"] / n,
                        "shuffle_write_mb": f["shuffle_write_mb"] / n,
                        "spill_mb": f["spill_mb"] / n,
                        "task_skew": f["task_skew"],
                        "idle_slot_s": f["idle_slot_s"] / n,
                    })
                for field in FIELDS:
                    out[f"{layer}.{field}"] = vals[field]
        traced_job = statistics.median([r["job_s"] for r in traced])
        out["trace.job_s"] = traced_job
        out["trace.layer_wall_s"] = sum(wall.values())
        out["trace.overhead_s"] = traced[0]["job_s"] - plain[0]["job_s"]
        return out


def _unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if name in END_TO_END:
        return END_TO_END[name]
    return {"rows_out": "count", "jobs": "count", "tasks": "count",
            "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}.get(field, "s")


def run_one(name: str, args) -> dict:
    run = Run(name, args.seed, args.seconds, bool(args.trace), args.corrupt)
    metrics = run.run()
    attempted = len(run.reps)
    failed = sum(1 for r in run.reps if not r["ok"])
    for k, v in metrics.items():
        print(f"{name} {k} = {v:.6g} {_unit(k)}")
    info = dict(run.info, **run.wl.info, failed_ratio=failed / attempted, reps=len(run.reps))
    if args.trace:
        info["trace.layer_wall_share"] = metrics["trace.layer_wall_s"] / metrics["trace.job_s"]
    for k, v in info.items():
        unit = {"rows_per_s": "1/s", "reps": "count", "loop_ms": "ms"}.get(k) or (
            "s" if k.endswith("_s") else "ratio"
        )
        print(f"{name} {k} = {v:.6g} {unit} (info)")
    shutil.rmtree(run.work, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "navgraph_osm_spark")) or not os.path.isfile(
        os.path.join(ROOT, "bench_extra.py")
    ):
        _fail(f"run from the repository root: no navgraph_osm_spark/ or bench_extra.py in {ROOT}")
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    results = {n: run_one(n, args) for n in names}
    if len(results) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
