"""Fast self-test of the benchmark at scale factor 0.001.

    python3 perfbench/selftest.py

For every workload it makes one untraced run and two traced runs of one
seed, and checks that:

- each run is correct and its last line has exactly the contract's keys;
- every end-to-end metric of BENCHMARK.json is emitted, with its unit, by
  the untraced run, next to the per-operation medians, and every per-layer
  metric by the traced runs;
- the work counters (jobs, stages, tasks, shuffle-write bytes, bytes sent
  to Python, files written) repeat exactly across the two traced runs;
- ``operators._kernel.rows_from_python`` is 0 except on ``query_kernel``;
- in a directory holding only BENCHMARK.json and the benchmark's files, the
  benchmark exits non-zero without printing a result.

It also prints the tracing overhead: the traced run's end-to-end numbers
minus the untraced run's, for the same seed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
REPEATED = ("jobs", "stages", "tasks", "shuffle_write_bytes",
            "bytes_to_python", "files_written")


def _run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def _result(workload, trace):
    """The run's (per-operation info line, result line)."""
    rc, lines, err = _run(["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                           "--trace", str(trace), "--scale", "0.001"])
    if rc != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace}: exit {rc}\n{err[-4000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


# per-operation medians the untraced run reports next to the gated metrics
DETAIL = {
    "tier_maintain": {"pass_s": "s", "build_points_per_s": "points/s", "update_s": "s",
                      "tier_read_s": "s", "tier_bytes_per_point": "bytes"},
    "query_catalyst": {"pass_s": "s", "q.ts_rollup_1h_s": "s", "q.ts_merge_plus_s": "s",
                       "q.ts_sliding_integral_1h_s": "s", "q.ts_fill_locf_s": "s"},
    "query_kernel": {"pass_s": "s", "q.ts_gorilla_roundtrip_s": "s",
                     "q.ts_sample_closest_s": "s", "q.ts_sliding_exact_median_s": "s"},
}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []

    def expect(ok, what):
        if not ok:
            problems.append(what)
            print("FAIL", what, flush=True)

    for wl in (w["name"] for w in bench["workloads"]):
        info, plain = _result(wl, 0)
        traced = [_result(wl, 1)[1], _result(wl, 1)[1]]
        got = {k: v["unit"] for k, v in info["detail"].items()}
        expect(got == {**DETAIL[wl], "peak_rss_gib": "GiB"}, f"{wl}: detail names/units {got}")
        for r in (plain, *traced):
            expect(set(r) == {"correct", "attempted", "failed", "metrics"}, f"{wl}: result keys {sorted(r)}")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, f"{wl}: not correct")
        for group, res in (("end_to_end", [plain]), ("per_layer", traced)):
            want = {m["name"]: m["unit"] for m in bench[group]}
            for r in res:
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                expect(got == want, f"{wl}: {group} names/units differ: {set(got) ^ set(want)}")
        a, b = (r["metrics"] for r in traced)
        for k in a:
            if k.rsplit(".", 1)[1].endswith(REPEATED):
                expect(a[k]["value"] == b[k]["value"],
                       f"{wl}: {k} did not repeat: {a[k]['value']} vs {b[k]['value']}")
        rows = a["operators._kernel.rows_from_python"]["value"]
        expect(rows > 0 if wl == "query_kernel" else rows == 0,
               f"{wl}: operators._kernel.rows_from_python = {rows}")

        with open(os.path.join(ROOT, ".perfbench_work", "traces", f"{wl}-s{SEED}.json")) as f:
            traced_e2e = json.load(f)["e2e_traced"]
        overhead = {k: traced_e2e[k] - v["value"] for k, v in plain["metrics"].items()}
        print(json.dumps({"workload": wl, "tracing_overhead": overhead}), flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines, _ = _run(["--workload", "query_kernel", "--seed", "1", "--seconds", "1",
                         "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and not any(line.startswith('{"correct"') for line in lines),
           f"bare directory: exit {rc}, output {lines[-1:]}")

    print("ALL OK" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
