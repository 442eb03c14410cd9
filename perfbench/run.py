"""The repository's benchmark: seeded closed-loop workloads over the
package's public functions, one client, Spark on ``local[<cores>]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload tier_maintain --seed 1 --seconds 12 --trace 0

Workloads: ``tier_maintain`` (TierPipeline build + incremental updates +
tier reads), ``query_catalyst`` (queries that compile to pure Catalyst) and
``query_kernel`` (queries that run through the Arrow-kernel dispatch).

Each run generates its input from ``--seed`` (perfbench/gen.py), starts
Spark, runs a warm-up pass (set-up), then passes over the workload's
operations until ``--seconds`` have elapsed and a fixed number of passes
ran, and checks the outputs outside the timed region. The last stdout line
is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: ``get_spark`` plus the warm-up pass;
- ``job_s``: ``setup_s`` plus the fixed measured passes -- the whole job a
  batch user waits for in a fresh session;
- ``ok_ratio``: operations and output checks that passed, over those
  attempted.

The line before it carries the per-operation medians (``pass_s``,
``q.<query>_s``, ``build_points_per_s``, ``update_s``, ``tier_read_s``,
``tier_bytes_per_point``) and ``peak_rss_gib``. With ``--trace 1`` the
passes are traced through Spark's status store and the metrics are the
per-layer ones; the spans are written to ``.perfbench_work/traces/``.

All files a run writes go under ``.perfbench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# workload -> (base scale factor, replicas R); sized so that 22 runs of each
# workload fit in under an hour on 4 cores
SIZES = {
    "tier_maintain": (0.001, 1),
    "query_catalyst": (0.01, 1),
    "query_kernel": (0.01, 1),
}

# program settings the benchmark pins to the package defaults
_GRAFT_ENV = ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_KERNEL_BUCKET_BYTES")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _peak_rss_bytes(pid: int) -> int:
    """Sum of peak RSS (VmHWM) over ``pid`` and its process tree."""
    total = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


def start_spark(run_dir: str):
    from scala_timeseries_lib_spark.plans.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers it
    forked) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _prepare(args) -> str:
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    for k in _GRAFT_ENV:
        os.environ.pop(k, None)
    return run_dir


def run(args) -> tuple[dict, dict, dict]:
    import numpy as np

    import gen
    from tracing import Spans, StatusReader
    from workloads import WORKLOADS, Run, per_layer_names

    run_dir = _prepare(args)
    sf, replicas = SIZES[args.workload]
    if args.scale is not None:
        sf = args.scale
    data_dir = os.path.join(run_dir, "data")
    n_rows = gen.write_events(os.path.join(data_dir, "events.parquet"), sf, replicas, args.seed)

    t0 = time.perf_counter()
    spark = start_spark(run_dir)
    start_s = time.perf_counter() - t0
    try:
        spans = Spans(f"{args.workload}-s{args.seed}") if args.trace else None
        reader = StatusReader(spark) if args.trace else None
        rng = np.random.default_rng(args.seed)
        ctx = Run(spark, data_dir, run_dir, rng, spans, reader)
        wl = WORKLOADS[args.workload](ctx)
        warmup_s = wl.setup()
        wl.measure(args.seconds)
        wl.check()
        from pyspark import SparkContext

        rss = _peak_rss_bytes(SparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)

    # Only whole-session times are steady on a fresh JVM: the JIT keeps
    # compiling Spark's planner for ~40 s of queries, at a pace that differs
    # between runs, so a single warm pass swings by 25-35% (IQR/median)
    # while the session's total work does not. Per-operation medians and
    # peak RSS (which follows the heap's growth policy) go in the detail.
    e2e = {
        "setup_s": (start_s + warmup_s, "s"),
        "job_s": (start_s + warmup_s + sum(wl.passes[:wl.MIN_PASSES]), "s"),
        "ok_ratio": (1.0 - ctx.failed / max(ctx.attempted, 1), "ratio"),
    }
    detail = {**wl.detail(), "peak_rss_gib": (rss / (1 << 30), "GiB")}
    info = {"workload": args.workload, "seed": args.seed, "sf": sf,
            "replicas": replicas, "input_rows": n_rows, "pass_walls_s": wl.passes,
            "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()}}
    layers = {}
    if args.trace:
        values = wl.layer_metrics()
        values["plans.session.start_s"] = start_s
        values["plans.session.warmup_s"] = warmup_s
        layers = {n: (values[n], u) for n, u in per_layer_names()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        spans.write(
            os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
            {"info": info, "e2e_traced": {k: v for k, (v, _) in e2e.items()},
             "layers": {k: v for k, (v, _) in layers.items()}})
    shutil.rmtree(run_dir, ignore_errors=True)
    counts = {"attempted": ctx.attempted, "failed": ctx.failed}
    return e2e, layers, {**info, **counts}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the base scale factor (self-test only)")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "scala_timeseries_lib_spark"))):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    e2e, layers, info = run(args)
    metrics = layers if args.trace else e2e
    print(json.dumps(info))
    result = {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
