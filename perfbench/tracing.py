"""Traced-run instruments: spans kept in memory, and Spark's own status store.

Both stores work with the UI off:

- the core status store (``SparkContext.statusStore``) gives per-stage run,
  CPU and GC time, task count, shuffle-write and spill bytes; stages are
  found through the jobs of a job group (``lastStageAttempt`` per stage);
- the SQL status store gives each execution's plan graph and its formatted
  metric values, which is where the Python-UDF nodes report the bytes and
  rows they ship to and from Python workers, and their time. The values
  come formatted, so bytes read to 0.1 of their unit (KiB, MiB).

Status-store writes happen on Spark's listener thread, so every read first
waits for the listener bus to drain.
"""

from __future__ import annotations

import json
import re
import time

STAGE_KEYS = ("run_s", "cpu_s", "gc_s", "stages", "tasks",
              "shuffle_write_bytes", "spill_bytes")
PYTHON_KEYS = ("python_s", "python_boot_s", "bytes_to_python",
               "bytes_from_python", "rows_from_python")

# plan nodes that ship rows to Python workers: applyInPandas (grouped and
# cogrouped), applyInArrow, mapInPandas and Python UDFs
PYTHON_NODES = {
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
}
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value (``"100,000"``, ``"4.8 MiB"``,
    ``"776 ms"`` or the ``"total (min, med, max ...)\\n<total> (...)"``
    form)."""
    total = text.strip().splitlines()[-1].split(" (")[0].strip()
    parts = total.split()
    if len(parts) == 2 and parts[1] in _SIZE:
        return float(parts[0]) * _SIZE[parts[1]]
    if len(parts) == 2 and parts[1] in _TIME:
        return float(parts[0]) * _TIME[parts[1]]
    return float(total.replace(",", ""))


class StatusReader:
    """Reads stage and SQL-node metrics for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def group_jobs(self, group: str) -> list[int]:
        self.drain()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def sql_mark(self) -> int:
        self.drain()
        return int(self._sql.executionsCount())

    def stage_totals(self, job_ids, only_stages=None) -> dict:
        """Sums over the stages that ran (skipped stages excluded)."""
        tot = dict.fromkeys(STAGE_KEYS, 0)
        seen = set()
        for jid in job_ids:
            for sid in _seq(self._store.job(jid).stageIds()):
                if sid in seen or (only_stages is not None and sid not in only_stages):
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # py4j: stage never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["run_s"] += st.executorRunTime() / 1e3
                tot["cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.diskBytesSpilled()
        return tot

    def python_nodes(self, since_mark: int, job_ids) -> tuple[dict, set]:
        """Python-node metrics of the SQL executions that ran ``job_ids``
        (executions started after ``since_mark``), and the ids of the stages
        those nodes ran in."""
        self.drain()
        tot = dict.fromkeys(PYTHON_KEYS, 0.0)
        stages: set[int] = set()
        wanted = set(job_ids)
        n = int(self._sql.executionsCount()) - since_mark
        if n <= 0:
            return tot, stages
        for ex in _seq(self._sql.executionsList(since_mark, n)):
            ex_jobs = {int(j) for j in _seq(ex.jobs().keys())}
            if not ex_jobs & wanted:
                continue
            values = {
                int(kv._1()): kv._2()
                for kv in _seq(self._sql.executionMetrics(ex.executionId()))
            }
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                if node.name() not in PYTHON_NODES:
                    continue
                for m in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    text = values.get(int(m.accumulatorId()))
                    if key is None or text is None:
                        continue
                    tot[key] += parse_metric(text)
                    stages.update(int(s) for s in _STAGE_REF.findall(text))
        return tot, stages


class Spans:
    """In-memory span log, written as JSON when the run ends."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "trace": self.trace_id, "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "start": time.time(), "end": None, "attrs": attrs,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> float:
        span = self.spans[sid]
        span["end"] = time.time()
        span["attrs"].update(attrs)
        self._stack.remove(sid)
        return span["end"] - span["start"]

    def depth(self) -> int:
        return len(self._stack)

    def unwind(self, depth: int) -> None:
        """Close the spans an operation that raised left open."""
        while len(self._stack) > depth:
            self.end(self._stack[-1], error=True)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, **extra, "spans": self.spans}, f,
                      indent=1, default=float)
