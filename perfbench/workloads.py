"""The three benchmark workloads, each a closed loop with one client.

A workload has a set-up (a warm-up pass that also yields what the output
check needs), a measured loop of passes over its operations, an output
check outside the timed region, and -- in a traced run -- a per-layer
breakdown read from Spark's status store (see tracing.py).

Layer attribution in a traced pass: each query is charged to the operator
layer it calls. Its ``self_s`` and stage counters are the query's minus
those of its input prefix alone (the same lineage up to the operator's
input, also run to the noop sink). Stages that run a Python-UDF node are
charged to ``operators._kernel`` instead of the calling layer.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

from tracing import STAGE_KEYS

KEYS = ["user_id", "event_type"]
OPERATOR_LAYERS = ("entries", "series_ops", "merge", "window", "_kernel")
LAYER_KEYS = ("construct_s", "construct_jobs", "self_s") + STAGE_KEYS
KERNEL_KEYS = ("python_s", "python_boot_s", "bytes_to_python",
               "bytes_from_python", "rows_from_python", "python_share")
TIER_KEYS = ("update_jobs", "update_stages", "update_tasks", "cpu_run_ratio",
             "chain_s", "overhead_s")
STORAGE_KEYS = ("files_written", "partition_dirs", "bytes_written")

_UNITS = {"construct_jobs": "count", "stages": "count", "tasks": "count",
          "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
          "bytes_to_python": "bytes", "bytes_from_python": "bytes",
          "rows_from_python": "rows", "python_share": "ratio",
          "update_jobs": "count", "update_stages": "count",
          "update_tasks": "count", "cpu_run_ratio": "ratio",
          "files_written": "count", "partition_dirs": "count",
          "bytes_written": "bytes", "checkpoint_bytes": "bytes"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, with its unit."""
    names = ["plans.session.start_s", "plans.session.warmup_s"]
    names += [f"operators.{layer}.{k}" for layer in OPERATOR_LAYERS
              for k in LAYER_KEYS]
    names += [f"operators._kernel.{k}" for k in KERNEL_KEYS]
    names += [f"plans.tiers.{k}" for k in TIER_KEYS]
    names += [f"plans.storage.{k}" for k in STORAGE_KEYS]
    names += ["plans.stateio.checkpoint_bytes"]
    return [(n, _UNITS.get(n.rsplit(".", 1)[1], "s")) for n in names]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, spark, data_dir, work_dir, rng, spans, reader):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = rng
        self.spans = spans          # None in an untraced run
        self.reader = reader        # None in an untraced run
        self.attempted = 0
        self.failed = 0

    @property
    def traced(self) -> bool:
        return self.spans is not None

    def attempt(self, what: str, fn):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        depth = self.spans.depth() if self.spans else 0
        try:
            return fn()
        except Exception:
            if self.spans:
                self.spans.unwind(depth)
            self.failed += 1
            print(f"perfbench: {what} raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {what} failed {detail}", file=sys.stderr)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def events(self):
        return self.spark.read.parquet(os.path.join(self.data_dir, "events.parquet"))

    def entries(self, events=None):
        import __spark_entry__ as entry_mod
        from scala_timeseries_lib_spark.operators.entries import derive_entries

        return derive_entries(
            self.events() if events is None else events, KEYS, ts_col="ts",
            value_col="value", default_validity=entry_mod.CAP_MS,
        )

    def timed_stage_run(self, group: str, build):
        """Build a frame under ``group``/construct and run it to the noop
        sink under ``group``/run; returns (construct_s, construct_jobs,
        run_s, stage totals, sql mark, run job ids)."""
        self.group(group + "/construct")
        t0 = time.perf_counter()
        df = build()
        construct_s = time.perf_counter() - t0
        construct_jobs = len(self.reader.group_jobs(group + "/construct"))
        mark = self.reader.sql_mark()
        self.group(group + "/run")
        t0 = time.perf_counter()
        noop(df)
        run_s = time.perf_counter() - t0
        jobs = self.reader.group_jobs(group + "/run")
        return construct_s, construct_jobs, run_s, self.reader.stage_totals(jobs), mark, jobs


def _zero_layers() -> dict:
    """One pass's layer counters (the session's are set once per run)."""
    return {n: 0.0 for n, _ in per_layer_names() if not n.startswith("plans.session.")}


def _entries_layer(run: Run, layers: dict, tag: str, events_filter=None) -> None:
    """operators.entries: derive_entries over the scan, minus the scan."""
    def scan():
        ev = run.events()
        return ev if events_filter is None else ev.filter(events_filter)

    sc_s, sc_jobs, scan_s, scan_st, _, _ = run.timed_stage_run(f"{tag}/scan", scan)
    c_s, c_jobs, ent_s, ent_st, _, _ = run.timed_stage_run(
        f"{tag}/entries", lambda: run.entries(scan()))
    p = "operators.entries."
    layers[p + "construct_s"] += c_s - sc_s
    layers[p + "construct_jobs"] += c_jobs - sc_jobs
    layers[p + "self_s"] += ent_s - scan_s
    for k in STAGE_KEYS:
        layers[p + k] += ent_st[k] - scan_st[k]


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------

class QueryWorkload:
    """Analyst queries from ``__spark_entry__.queries()``, one pass after
    another in seeded order, each run to the noop sink and timed from the
    query call to the sink's completion."""

    # query -> (operator layer it calls, input prefix)
    QUERIES: dict[str, tuple[str, str]] = {}
    MIN_PASSES = 2

    def __init__(self, run: Run):
        import __spark_entry__ as entry_mod

        self.run = run
        self.entry = entry_mod
        self.fns = {q: entry_mod.queries()[q] for q in self.QUERIES}
        self.passes: list[float] = []
        self.op_s: dict[str, list[float]] = {q: [] for q in self.QUERIES}
        self.layer_passes: list[dict] = []

    def setup(self) -> float:
        """Warm-up pass: every query once, collected and compared with its
        DuckDB oracle. Returns the Spark-side time (oracle time excluded)."""
        import duckdb

        sys.path.insert(0, os.path.join(os.path.dirname(self.entry.__file__), "tools"))
        from check_oracle import compare

        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        path = os.path.join(self.run.data_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        spark_s = 0.0
        for q in self.QUERIES:
            t0 = time.perf_counter()
            sdf = self.run.attempt(q, lambda q=q: self.fns[q](self.run.spark, self.run.data_dir).toPandas())
            spark_s += time.perf_counter() - t0
            if sdf is None:
                continue
            ok, detail = compare(sdf, con.execute(oracles[q]).fetchdf())
            self.run.check(q, ok, detail)
        con.close()
        return spark_s

    def check(self) -> None:
        """Nothing left to check: the warm-up pass compared every query."""

    def measure(self, seconds: float) -> None:
        """Passes until ``seconds`` have elapsed and at least MIN_PASSES
        ran; the first MIN_PASSES passes are the fixed work ``job_s``
        times."""
        t_end = time.perf_counter() + seconds
        while len(self.passes) < self.MIN_PASSES or time.perf_counter() < t_end:
            names = list(self.QUERIES)
            order = [names[i] for i in self.run.rng.permutation(len(names))]
            t0 = time.perf_counter()
            layers = _zero_layers() if self.run.traced else None
            if layers is not None:
                pass_span = self.run.spans.start(f"pass{len(self.passes)}")
                _entries_layer(self.run, layers, f"pass{len(self.passes)}")
            for q in order:
                dt = self._traced(q, layers) if layers is not None else self._plain(q)
                if dt is not None:
                    self.op_s[q].append(dt)
            self.passes.append(time.perf_counter() - t0)
            if layers is not None:
                self.run.spans.end(pass_span)
                k = layers
                k["operators._kernel.python_share"] = (
                    k["operators._kernel.python_s"] / k["operators._kernel.run_s"]
                    if k["operators._kernel.run_s"] > 0 else 0.0)
                self.layer_passes.append(layers)

    def _plain(self, q: str):
        def op():
            t0 = time.perf_counter()
            noop(self.fns[q](self.run.spark, self.run.data_dir))
            return time.perf_counter() - t0
        return self.run.attempt(q, op)

    def _prefix(self, name: str):
        from scala_timeseries_lib_spark.operators import series_ops as ops

        e = self.entry
        ent = self.run.entries()
        if name == "entries":
            return ent
        if name == "sliced":
            return ops.slice_series(ent, e.SLIDE_LO, e.SLIDE_HI)
        # "sampled_filled": fill, slice, then the 10-minute grid
        filled = ops.slice_series(ops.fill_gaps_locf(ent, KEYS), e.SLIDE_LO, e.SLIDE_HI)
        return ops.sample_strict_grid(filled, KEYS, e.RATE_10M)

    def _traced(self, q: str, layers: dict):
        run, spans = self.run, self.run.spans
        layer, prefix = self.QUERIES[q]
        tag = f"pass{len(self.passes)}/{q}"

        def op():
            sid = spans.start(q, layer=f"operators.{layer}")
            c_s, c_jobs, run_s, st, mark, jobs = run.timed_stage_run(
                tag, lambda: self.fns[q](run.spark, run.data_dir))
            py, k_stages = run.reader.python_nodes(mark, jobs)
            kst = (run.reader.stage_totals(jobs, only_stages=k_stages)
                   if k_stages else dict.fromkeys(STAGE_KEYS, 0))
            pre_c_s, pre_c_jobs, pre_s, pre_st, _, _ = run.timed_stage_run(
                f"{tag}/prefix", lambda: self._prefix(prefix))
            spans.end(sid, construct_s=c_s, construct_jobs=c_jobs, run_s=run_s,
                      prefix=prefix, prefix_s=pre_s, stages=st, prefix_stages=pre_st,
                      kernel_stages=kst, python=py)
            p = f"operators.{layer}."
            layers[p + "construct_s"] += c_s - pre_c_s
            layers[p + "construct_jobs"] += c_jobs - pre_c_jobs
            layers[p + "self_s"] += run_s - pre_s
            for k in STAGE_KEYS:
                if layer != "_kernel":
                    layers[p + k] += st[k] - pre_st[k] - kst[k]
                layers[f"operators._kernel.{k}"] += kst[k]
            for k, v in py.items():
                layers[f"operators._kernel.{k}"] += v
            return c_s + run_s
        return run.attempt(q, op)

    def detail(self) -> dict:
        out = {"pass_s": (median(self.passes), "s")}
        for q, v in self.op_s.items():
            if v:
                out[f"q.{q}_s"] = (median(v), "s")
        return out

    def layer_metrics(self) -> dict:
        return {k: median([p[k] for p in self.layer_passes])
                for k in self.layer_passes[0]}


class QueryCatalyst(QueryWorkload):
    QUERIES = {
        "ts_rollup_1h": ("series_ops", "entries"),
        "ts_merge_plus": ("merge", "entries"),
        "ts_sliding_integral_1h": ("window", "sampled_filled"),
        "ts_fill_locf": ("series_ops", "entries"),
    }


class QueryKernel(QueryWorkload):
    QUERIES = {
        "ts_gorilla_roundtrip": ("_kernel", "entries"),
        "ts_sample_closest": ("window", "sliced"),
        "ts_sliding_exact_median": ("window", "sliced"),
    }


# ---------------------------------------------------------------------------
# tier maintenance
# ---------------------------------------------------------------------------

DAY_MS = 86_400_000
MONTH_START_MS = 1_704_067_200_000
TIER_NAMES = ("1m", "1h", "1d")
EXACT_COLS = ["bucket", "vmin", "vmax", "support_ms", "n_pieces"]
FLOAT_COLS = ["twmean", "integral_s"]


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class TierMaintain:
    """``TierPipeline.update`` over a day-aligned base slab of 80% of the
    month, then one increment with the rest (a re-run over the grown events
    table, as jobs/rollup_job.py does), with ``read_tier`` of 1h and 1d for
    a seeded key subset and time range after every update.

    The slab length is fixed, not seeded: the pipeline's cost follows the
    number of day partitions it writes, so a seeded length would make the
    seeds do different amounts of work."""

    BASE_DAYS = 24
    MIN_PASSES = 1

    def __init__(self, run: Run):
        self.run = run
        rng = run.rng
        # the increment takes every remaining event
        self.cuts = [MONTH_START_MS + self.BASE_DAYS * DAY_MS, None]
        self.read_mod = int(rng.integers(0, 10))
        lo_day = int(rng.integers(0, 20))
        self.read_lo = MONTH_START_MS + lo_day * DAY_MS
        self.read_hi = self.read_lo + 7 * DAY_MS
        self.ref_dir = os.path.join(run.work_dir, "tiers-ref")
        self.passes: list[float] = []
        self.ops: dict[str, list[float]] = {"build": [], "update": [], "read_1h": [], "read_1d": []}
        self.build_pps: list[float] = []
        self.last_dir = None
        self.stored_points = 0
        self.stored_bytes = 0
        self.layer_passes: list[dict] = []

    def _entries_upto(self, cut):
        ev = self.run.events()
        if cut is not None:
            ev = ev.filter(self._before(cut))
        return self.run.entries(ev)

    @staticmethod
    def _before(cut):
        from pyspark.sql import functions as F

        return F.unix_millis(F.col("ts").cast("timestamp")) < F.lit(cut)

    def setup(self) -> float:
        """Warm-up: a one-shot build over every event, which is also the
        reference the final tables are checked against."""
        from scala_timeseries_lib_spark.plans.tiers import TierPipeline

        t0 = time.perf_counter()
        self.run.attempt("reference build", lambda: TierPipeline(self.ref_dir, KEYS).update(
            self._entries_upto(None), run_id="reference"))
        return time.perf_counter() - t0

    def _read(self, pipeline, name):
        from pyspark.sql import functions as F

        df = pipeline.read_tier(self.run.spark, name).filter(
            (F.pmod(F.col("user_id"), F.lit(10)) == self.read_mod)
            & F.col("bucket").between(self.read_lo, self.read_hi - 1))
        return len(df.collect())

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while len(self.passes) < self.MIN_PASSES or time.perf_counter() < t_end:
            self._pass()

    def _pass(self) -> None:
        from scala_timeseries_lib_spark.plans.tiers import TierPipeline

        run = self.run
        i = len(self.passes)
        self.last_dir = os.path.join(run.work_dir, f"tiers-{i}")
        pipeline = TierPipeline(self.last_dir, KEYS)
        layers = _zero_layers() if run.traced else None
        if layers is not None:
            layers["_cpu_s"] = layers["_run_s"] = 0.0
        pass_span = run.spans.start(f"pass{i}") if layers is not None else None
        t_pass = time.perf_counter()
        for j, cut in enumerate(self.cuts):
            kind = "build" if j == 0 else "update"
            before = _parquet_files(self.last_dir) if layers is not None else None
            if layers is not None:
                run.group(f"tier{i}/{kind}{j}")
                sid = run.spans.start(kind, layer="plans.tiers", cut=cut)
            t0 = time.perf_counter()
            lineage = run.attempt(kind, lambda cut=cut, j=j: pipeline.update(
                self._entries_upto(cut), run_id=f"{kind}-{j}"))
            dt = time.perf_counter() - t0
            if lineage is None:
                continue
            self.ops[kind].append(dt)
            if kind == "build":
                pts = sum(t["points"] for t in lineage["tiers"].values())
                self.build_pps.append(pts / dt)
            if layers is not None:
                self._trace_update(layers, f"tier{i}/{kind}{j}", before, sid, dt, lineage)
                if kind == "build":
                    self._trace_chain(layers, f"tier{i}/chain", cut, dt)
            for name in ("1h", "1d"):
                sid = run.spans.start(f"read_{name}") if layers is not None else None
                t0 = time.perf_counter()
                n = run.attempt(f"read_{name}", lambda name=name: self._read(pipeline, name))
                if n is not None:
                    self.ops[f"read_{name}"].append(time.perf_counter() - t0)
                if sid is not None:
                    run.spans.end(sid, rows=n)
        self.passes.append(time.perf_counter() - t_pass)
        if layers is not None:
            run.spans.end(pass_span)
            ckpt = os.path.join(self.last_dir, "_checkpoint.json")
            layers["plans.stateio.checkpoint_bytes"] = float(os.path.getsize(ckpt))
            cpu, run_s = layers.pop("_cpu_s"), layers.pop("_run_s")
            layers["plans.tiers.cpu_run_ratio"] = cpu / run_s if run_s > 0 else 0.0
            self.layer_passes.append(layers)

    def _trace_update(self, layers, group, before, sid, dt, lineage) -> None:
        run = self.run
        job_ids = run.reader.group_jobs(group)
        st = run.reader.stage_totals(job_ids)
        jobs = len(job_ids)
        after = _parquet_files(self.last_dir)
        new = {p: s for p, s in after.items() if p not in before}
        dirs = {os.path.dirname(p) for p in new if "_metrics" not in p}
        layers["plans.tiers.update_jobs"] += jobs
        layers["plans.tiers.update_stages"] += st["stages"]
        layers["plans.tiers.update_tasks"] += st["tasks"]
        layers["_cpu_s"] += st["cpu_s"]
        layers["_run_s"] += st["run_s"]
        layers["plans.storage.files_written"] += len(new)
        layers["plans.storage.partition_dirs"] += len(dirs)
        layers["plans.storage.bytes_written"] += sum(new.values())
        run.spans.end(sid, wall_s=dt, jobs=jobs, stages=st, files_written=len(new),
                      partition_dirs=len(dirs), rows_in=lineage["rows_in"])

    def _trace_chain(self, layers, tag, cut, build_s) -> None:
        """The build's tiers computed by the series_ops chain alone, straight
        to the noop sink; its excess over the entries prefix is the
        series_ops layer, and the build's excess over it is plans.tiers
        overhead."""
        from scala_timeseries_lib_spark.operators.series_ops import (
            reaggregate_rollup,
            rollup_time_weighted_parts,
        )
        from scala_timeseries_lib_spark.plans.tiers import TIER_STEPS

        run = self.run
        sid = run.spans.start("chain", layer="operators.series_ops")
        _entries_layer(run, layers, tag, self._before(cut))
        par = run.spark.sparkContext.defaultParallelism * 2
        run.group(tag + "/input")
        entries = self._entries_upto(cut).repartition(par, *KEYS)
        run.group(tag + "/construct")
        t0 = time.perf_counter()
        full, part = rollup_time_weighted_parts(entries, KEYS, TIER_STEPS["1m"])
        full, part = full.persist(), part.persist()
        h = reaggregate_rollup(
            reaggregate_rollup(full, KEYS, TIER_STEPS["1h"]).unionByName(
                reaggregate_rollup(part, KEYS, TIER_STEPS["1h"])),
            KEYS, TIER_STEPS["1h"]).persist()
        d = reaggregate_rollup(h, KEYS, TIER_STEPS["1d"])
        construct_s = time.perf_counter() - t0
        construct_jobs = len(run.reader.group_jobs(tag + "/construct"))
        run.group(tag + "/run")
        t0 = time.perf_counter()
        for df in (full.unionByName(part), h, d):
            noop(df)
        chain_s = time.perf_counter() - t0
        for df in (full, part, h):
            df.unpersist()
        st = run.reader.stage_totals(run.reader.group_jobs(tag + "/run"))
        p = "operators.series_ops."
        layers[p + "construct_s"] += construct_s
        layers[p + "construct_jobs"] += construct_jobs
        # the chain's entries prefix: derive_entries plus the scan
        _, _, pre_s, pre_st, _, _ = run.timed_stage_run(
            tag + "/prefix", lambda: self._entries_upto(cut))
        layers[p + "self_s"] += chain_s - pre_s
        for k in STAGE_KEYS:
            layers[p + k] += st[k] - pre_st[k]
        layers["plans.tiers.chain_s"] = chain_s
        layers["plans.tiers.overhead_s"] = build_s - chain_s
        run.spans.end(sid, chain_s=chain_s, construct_s=construct_s, stages=st,
                      prefix_s=pre_s)

    def check(self) -> None:
        """The last pass's tables must equal the one-shot reference build:
        exact on bucket/vmin/vmax/support_ms/n_pieces, floats to 9
        decimals (TierPipeline's documented rerun contract)."""
        from scala_timeseries_lib_spark.plans.tiers import TierPipeline

        if self.last_dir is None:
            return
        got_p = TierPipeline(self.last_dir, KEYS)
        ref_p = TierPipeline(self.ref_dir, KEYS)
        for name in TIER_NAMES:
            got = self._frame(got_p, name)
            ref = self._frame(ref_p, name)
            if got is None or ref is None:
                continue
            self.stored_points += len(got)
            ok, detail = _tables_equal(got, ref)
            self.run.check(f"tier {name}", ok, detail)
        self.stored_bytes = sum(
            sum(_parquet_files(got_p.tier_path(n)).values()) for n in TIER_NAMES)

    def _frame(self, pipeline, name):
        cols = [*KEYS, *EXACT_COLS, *FLOAT_COLS]
        return self.run.attempt(
            f"read tier {name}",
            lambda: pipeline.read_tier(self.run.spark, name).select(*cols).toPandas()
            .sort_values([*KEYS, "bucket"], kind="mergesort", ignore_index=True))

    def detail(self) -> dict:
        reads = self.ops["read_1h"] + self.ops["read_1d"]
        out = {
            "pass_s": (median(self.passes), "s"),
            "build_points_per_s": (median(self.build_pps), "points/s"),
            "update_s": (median(self.ops["update"]), "s"),
            "tier_read_s": (median(reads), "s"),
        }
        if self.stored_points:
            out["tier_bytes_per_point"] = (self.stored_bytes / self.stored_points, "bytes")
        return out

    def layer_metrics(self) -> dict:
        return {k: median([p[k] for p in self.layer_passes])
                for k in self.layer_passes[0]}


def _tables_equal(got, ref) -> tuple[bool, str]:
    if len(got) != len(ref):
        return False, f"{len(got)} rows vs {len(ref)}"
    for c in [*KEYS, *EXACT_COLS]:
        if not (got[c].to_numpy() == ref[c].to_numpy()).all():
            return False, f"column {c} differs"
    for c in FLOAT_COLS:
        a, b = got[c].to_numpy(float), ref[c].to_numpy(float)
        diff = np.abs(a - b)
        if not (diff <= 1e-9).all():
            i = int(np.argmax(diff))
            return False, f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return True, ""


WORKLOADS = {
    "tier_maintain": TierMaintain,
    "query_catalyst": QueryCatalyst,
    "query_kernel": QueryKernel,
}
