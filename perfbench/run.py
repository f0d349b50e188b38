"""geoutils_spark benchmark: one workload, one run, one result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The Spark work happens in ``worker.py``,
started here pinned with ``taskset`` to this process's CPUs (``nproc`` of
them) and with the checkout root on ``PYTHONPATH``, so Python UDF workers
import ``geoutils_spark`` from any working directory. This process stops
every process the worker left behind, counts ``ERROR CodeGenerator`` lines
in the captured Spark log, writes the full result to
``perfbench/_out/<workload>-seed<n>-trace<t>.json`` and prints one line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` entries of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` entries. A run that
cannot complete exits non-zero and prints no result line.

Workloads (``workloads.py``): ``flagship`` (html pages -> text extraction ->
tiles -> cell join against the 18-building grid -> per-building aggregate)
and ``tile_write`` (points with a hot cell -> tiles and cells -> parquet
write with manifests). Each bypasses the layers the other exercises most.
A points-only join against 1,800 buildings with holes is not a workload: a
run costs about 50 s on a 4-vCPU host (session start and JVM warm-up
included) and the whole set of runs of every workload must fit a fixed time
budget; the cover, probe and refine layers are measured on ``flagship``. The
registry's headline queries are not a workload either: they read TPC-H-style
tables from a test-data directory outside the checkout, which a run may not
read.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from procs import tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
WORK = os.path.join(HERE, "_work")
WORKER_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36

# Which end-to-end metric, on which workload, each per-layer metric should
# move. "-" marks a layer the workload bypasses: it is predicted not to move.
MOVES = {
    "sources.scan_s": "rows_per_s and wall_s on both workloads, by a small share",
    "sources.fixtures.materialize_s": "setup_s on both workloads",
    "functions.textextract_s": "flagship rows_per_s most; - on tile_write",
    "operators.tiling_s": "tile_write wall_s; flagship rows_per_s by a small share",
    "operators.spatial_join.cover_s": "flagship rows_per_s (part of probe_s); - on tile_write",
    "operators.spatial_join.cover_cells": "flagship rows_per_s; - on tile_write",
    "operators.spatial_join.probe_s": "flagship rows_per_s; - on tile_write",
    "operators.spatial_join.refine_s": "flagship rows_per_s; - on tile_write",
    "operators.spatial_join.candidates": "flagship rows_per_s; - on tile_write",
    "operators.spatial_join.matches": "none: fixed by the input",
    "operators.spatial_join.hit_ratio": "flagship rows_per_s; - on tile_write",
    "plans.manifests.write_s": "tile_write wall_s; - on flagship",
    "plans.manifests.jobs": "tile_write wall_s; - on flagship",
    "plans.manifests.partitions": "none: fixed by the input",
    "plans.manifests.files": "tile_write wall_s; - on flagship",
    "plans.manifests.bytes": "tile_write wall_s; - on flagship",
    "plans.manifests.output_bytes_per_row": "tile_write wall_s; - on flagship",
    "spark.*": "wall_s and peak_rss_mb of the workload on which they change",
    "trace.wall_s": "none: the traced wall time, which the layer self times add up to; "
                    "minus the untraced wall_s it is the tracing overhead",
}


def stop_descendants() -> None:
    """Terminate, then kill, every remaining descendant and reap it. This
    process is a child subreaper, so orphans of the worker stay below it."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for p in set(tree(os.getpid())) - {os.getpid()}:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return
            time.sleep(0.05)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def codegen_fallbacks(log_path: str) -> int:
    with open(log_path, errors="replace") as f:
        return sum("ERROR CodeGenerator" in line for line in f)


def tracing_overhead(workload: str, traced_wall: float) -> dict | None:
    """Traced wall time (which the layer self times add up to) against the
    median untraced wall_s of this workload's earlier results in the same
    checkout, if there are any."""
    walls = []
    for name in os.listdir(OUT):
        if name.startswith(f"{workload}-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(OUT, name)) as f:
                walls.append(json.load(f)["metrics"]["wall_s"]["value"])
    if not walls:
        return None
    untraced = statistics.median(walls)
    return {"traced_wall_s": traced_wall, "untraced_wall_s": untraced,
            "untraced_runs": len(walls), "overhead_s": traced_wall - untraced,
            "layer_sum_over_untraced_wall": traced_wall / untraced}


def main() -> int:
    spec = bench_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "geoutils_spark", "__init__.py")):
        print(f"no geoutils_spark package under {ROOT}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    part = os.path.join(work, "worker.json")
    log_path = os.path.join(OUT, f"{tag}.log")

    cpus = sorted(os.sched_getaffinity(0))
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    cmd = ["taskset", "-c", ",".join(map(str, cpus)), sys.executable,
           os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work-dir", work, "--result", part]

    # A terminated benchmark still stops the worker's processes (below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("cannot become a child subreaper", file=sys.stderr)
        return 2
    rc, res = None, None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"worker still running after {WORKER_TIMEOUT_S} s", file=sys.stderr)
        if rc == 0 and os.path.exists(part):
            with open(part) as f:
                res = json.load(f)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print(f"worker failed (exit {rc}); log: {log_path}", file=sys.stderr)
        return 1

    attempted = res["attempted"]
    failed = len(res["failed"])
    res["fail_rate"] = failed / attempted
    if args.trace:
        values = dict(res["layers"], **{"spark.codegen_fallbacks": codegen_fallbacks(log_path)})
        res["tracing_overhead"] = tracing_overhead(args.workload, values["trace.wall_s"])
        res["moves"] = MOVES
        wanted = spec["per_layer"]
    else:
        wall = res["measured"]["median_s"]
        values = {"rows_per_s": res["setup"]["rows"] / wall, "wall_s": wall,
                  "cpu_s": res["measured"]["cpu_median_s"],
                  "setup_s": res["setup"]["setup_s"], "peak_rss_mb": res["rss"]["peak_mb"]}
        wanted = spec["end_to_end"]
    res["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                      for m in wanted}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": res["metrics"]}
    res["result_line"] = line

    path = os.path.join(OUT, f"{tag}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(res, f, indent=1, allow_nan=False)
    os.replace(path + ".tmp", path)
    print(json.dumps(line, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
