"""Spark side of the benchmark: one workload in one SparkSession.

``run.py`` starts this process pinned to the benchmark's CPUs, with the
checkout root on ``PYTHONPATH``; it writes a JSON document to ``--result``
and exits 0, or exits non-zero without writing one.

Phases, each a span:

1. set-up: session start, then the input materialized ``SETUP_REPS`` times;
   ``setup_s`` is the session start plus the median materialization;
2. warm-up: whole-pipeline reps until, after at least ``WARMUP_MIN_REPS``,
   two in a row differ by at most ``PLATEAU_TOL`` (the plateau rule), or
   the warm-up budget is spent; the JVM keeps speeding up for several reps
   after the first;
3. measurement: whole-pipeline reps for ``--seconds`` (at least
   ``MIN_REPS``); ``wall_s`` is their median and ``cpu_s`` the median CPU
   time the process tree spent on one;
4. output checks, outside every timed region;
5. with ``--trace 1`` only: the measured rounds run every layer's
   cumulative prefix, not just the whole pipeline; a layer's self time is
   its prefix's median minus the previous prefix's, so the self times add
   up to the traced wall time. Then the polygon cover on its own, and
   engine counters from the Spark event log of the whole-pipeline reps.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import multiprocessing
import os
import statistics
import sys
import time
import traceback

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import eventlog
from procs import RssSampler, cpu_seconds, steal_seconds
from geoutils_spark.operators.spatial_join import with_covering_cells
from tools.scaling_bench import _md5_work
from tools.shuffle_probe import shuffle_bytes_from_eventlog
from workloads import LADDER, WORKLOADS

SETUP_REPS = 3
PLATEAU_TOL = 0.10
WARMUP_MIN_REPS = 3
WARMUP_MAX_REPS = 10
MIN_REPS = 4
HEAP_SHARE = 0.25
# Tasks per stage per CPU. More than one, so a CPU the host slows down for
# a while holds up fewer rows; at four, Python UDF start-up per task cost
# the flagship about 40% more CPU time.
TASKS_PER_CPU = 2
HEAP_MB = (1024, 1536)


class Run:
    """Spans and operation outcomes of one benchmark run, kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.attempted = 0
        self.failed: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, sc=None):
        parent = self._open[-1] if self._open else None
        self._open.append(len(self.spans))
        rec = {"name": name, "parent": parent, "start": time.time()}
        self.spans.append(rec)
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._open.pop()

    def op(self, name: str, fn, sc=None):
        """Run one operation; returns (ok, value, seconds). An exception
        counts the operation as failed and the run goes on."""
        self.attempted += 1
        with self.span(name, sc) as rec:
            try:
                value = fn()
            except Exception:  # an operation's failure is a result to report
                traceback.print_exc()
                self.failed.append({"op": name, "error": traceback.format_exc(limit=3)})
                return False, None, None
        return True, value, rec["seconds"]

    def fail(self, name: str, detail: str) -> None:
        """Mark an operation already attempted as failed."""
        self.failed.append({"op": name, "error": detail})

    def check(self, name: str, ok: bool, detail: str) -> dict:
        self.attempted += 1
        if not ok:
            self.failed.append({"op": name, "error": detail})
        return {"check": name, "ok": ok, "detail": detail}


def cpu_probe(cpus: int) -> dict:
    """Wall time of ``cpus`` independent md5 loops on ``cpus`` processes: a
    host-speed reading to keep beside the numbers."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(cpus) as pool:
        pool.map(_md5_work, range(cpus))  # start-up, not measured
        t0 = time.perf_counter()
        pool.map(_md5_work, range(cpus))
        return {"md5_procs": cpus, "md5_s": time.perf_counter() - t0}


def heap_mb() -> tuple[int, int]:
    """(JVM heap, MemAvailable) in MiB: a share of what the host has free,
    clamped to ``HEAP_MB`` and rounded down to 256 MiB."""
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) // 1024 for line in f
                     if line.startswith("MemAvailable:"))
    heap = int(avail * HEAP_SHARE) // 256 * 256
    return max(HEAP_MB[0], min(HEAP_MB[1], heap)), avail


def session_conf(cpus: int, heap: int, work_dir: str, event_dir: str | None) -> dict:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "geoutils_spark_perfbench",
        "spark.driver.memory": f"{heap}m",
        # A heap committed and touched up front keeps the JVM's resident
        # size from depending on when the collector grows the heap.
        "spark.driver.extraJavaOptions": f"-Xms{heap}m -XX:+AlwaysPreTouch "
                                         f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        # Fixed task counts: a fixed number of shuffle partitions that AQE
        # may not coalesce, and one scan task per input file (an open cost
        # equal to the split size closes a split after every file).
        "spark.sql.shuffle.partitions": str(TASKS_PER_CPU * cpus),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.files.openCostInBytes": "256m",
        "spark.eventLog.enabled": str(event_dir is not None).lower(),
    }
    if event_dir:
        conf["spark.eventLog.dir"] = event_dir
        conf["spark.eventLog.compress"] = "false"
    return conf


def reps_summary(times: list[float]) -> dict:
    return {"n": len(times), "median_s": statistics.median(times),
            "min_s": min(times), "max_s": max(times), "reps_s": times}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    event_dir = os.path.join(args.work_dir, "eventlog") if args.trace else None
    for d in ("tmp", "local", event_dir):
        if d:
            os.makedirs(os.path.join(args.work_dir, d), exist_ok=True)
    heap, avail = heap_mb()
    out = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds,
           "host": {"cpus": cpus, "heap_mb": heap, "mem_available_mb": avail,
                    "cpu_probe": cpu_probe(cpus)}}
    run = Run()

    with run.span("setup"):
        conf = session_conf(cpus, heap, args.work_dir, event_dir)
        with run.span("session_start") as s:
            builder = SparkSession.builder
            for k, v in conf.items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1).count()
        session_s = s["seconds"]
        sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, args.work_dir, args.seed, files=TASKS_PER_CPU * cpus)
        mats = []
        for _ in range(SETUP_REPS):
            ok, _, t = run.op("materialize", wl.materialize, sc)
            if not ok:
                return 1
            mats.append(t)
    out["session"] = conf
    out["setup"] = {"session_s": session_s, "materialize_s": mats,
                    "setup_s": session_s + statistics.median(mats), "rows": wl.rows}

    warm, fired = [], False
    with run.span("warmup"):
        budget = time.perf_counter() + 2 * args.seconds
        while len(warm) < WARMUP_MAX_REPS and time.perf_counter() < budget:
            wl.before_rep()
            ok, _, t = run.op("warmup", wl.run, sc)
            if not ok:
                break
            warm.append(t)
            if (len(warm) >= WARMUP_MIN_REPS
                    and abs(warm[-1] - warm[-2]) <= PLATEAU_TOL * warm[-2]):
                fired = True
                break
    out["warmup"] = {"reps_s": warm, "plateau_fired": fired,
                     "rule": f"at least {WARMUP_MIN_REPS} reps, the last two "
                             f"within {PLATEAU_TOL:.0%} of each other"}

    # A traced run climbs the whole ladder of cumulative prefixes in every
    # round, so drift while the JVM warms up lands on every layer alike. The
    # last prefix is the whole pipeline: its reps are the measured ones.
    steps = LADDER if args.trace else LADDER[-1:]
    full = LADDER[-1]
    reps = {layer: [] for layer in steps}
    results, cpus_s, steals_s, windows, result = {}, [], [], [], None
    rss = RssSampler()
    rss.start()
    with run.span("measure"):
        end = time.perf_counter() + args.seconds
        rounds = 0
        while rounds < MIN_REPS or time.perf_counter() < end:
            rounds += 1
            for layer in steps:
                wl.before_rep()
                cpu0, steal0 = cpu_seconds(os.getpid()), steal_seconds()
                name = "pipeline" if layer == full else layer
                ok, value, t = run.op(name, wl.prefix(layer), sc)
                if not ok:
                    continue
                reps[layer].append(t)
                results[layer] = value
                if layer != full:
                    continue
                if result is None:
                    result = value
                elif value != result:
                    run.fail(name, f"rep {len(reps[full]) - 1} returned another result than rep 0")
                cpus_s.append(cpu_seconds(os.getpid()) - cpu0)
                steals_s.append(steal_seconds() - steal0)
                windows.append((run.spans[-1]["start"], run.spans[-1]["end"]))
    rss.stop()
    if not all(reps.values()):
        return 1
    out["measured"] = dict(reps_summary(reps[full]), cpu_s=cpus_s, host_steal_s=steals_s,
                           cpu_median_s=statistics.median(cpus_s))
    out["rss"] = {"peak_mb": rss.peak_bytes / 2**20, "samples": rss.samples,
                  "scope": "this process, the JVM and Python workers during the measured reps"}

    with run.span("checks"):
        counts = wl.counts(result)
        checks = [run.check(*c) for c in wl.checks(result)]
    out["checks"] = checks

    layers = {}
    if args.trace:
        medians = {k: statistics.median(v) for k, v in reps.items()}
        prev = 0.0
        for layer in LADDER:
            layers[f"{layer}_s"] = medians[layer] - prev
            prev = medians[layer]
        out["ladder"] = {"reps_s": reps, "medians_s": medians}
        cover = with_covering_cells(wl.polys, wl.level).select(F.explode("cells"))
        with run.span("cover"):
            cov = [run.op("operators.spatial_join.cover", cover.count, sc)
                   for _ in range(MIN_REPS)]
        cov_s = [c[2] for c in cov if c[0]]
        if not cov_s:
            return 1
        joins = "operators.spatial_join.probe" not in wl.bypassed
        cand = sum(r[1] for r in results["operators.spatial_join.probe"]) if joins else 0
        match = sum(r[1] for r in results["operators.spatial_join.refine"]) if joins else 0
        layers.update({
            "operators.spatial_join.cover_s": statistics.median(cov_s),
            "operators.spatial_join.cover_cells": cov[-1][1],
            "operators.spatial_join.candidates": cand,
            "operators.spatial_join.matches": match,
            "operators.spatial_join.hit_ratio": match / cand if cand else 0.0,
            "sources.fixtures.materialize_s": statistics.median(mats),
            "trace.wall_s": medians[full],
        })

    spark.stop()

    if args.trace:
        jobs, tasks = eventlog.read(event_dir)
        probe_total = shuffle_bytes_from_eventlog(event_dir)
        out["checks"].append(run.check(
            "eventlog_shuffle_bytes_vs_shuffle_probe",
            probe_total == sum(t["shuffle_write"] for t in tasks),
            f"{probe_total} shuffle bytes written in the whole log"))
        engine = eventlog.counters(jobs, tasks, windows)
        writes = "plans.manifests.write" not in wl.bypassed
        layers["plans.manifests.jobs"] = engine.pop("spark.jobs") if writes else 0
        layers.update(engine)
        for k in ("partitions", "files", "bytes", "output_bytes_per_row"):
            layers[f"plans.manifests.{k}"] = counts.get(f"plans.manifests.{k}", 0)

    out.update({
        "counts": counts,
        "layers": layers,
        "attempted": run.attempted,
        "failed": run.failed,
        "spans": run.spans,
    })
    tmp = args.result + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, allow_nan=False)
    os.replace(tmp, args.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
