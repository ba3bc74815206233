"""Per-layer readout, measured from outside the program.

Two sources, neither of which adds tracing inside the package:

* :class:`CallTimer` wraps the public functions of the engine's modules
  (module attributes, plus every from-import of the same function
  object inside the package) and sums the wall time of the outermost
  call into each layer.  The wrappers keep the original's module and
  qualified name, so a function shipped to a Python worker still
  pickles by reference and runs unwrapped there.
* :class:`SparkReadout` reads, after each operation, what Spark exposes
  with the UI off: the jobs the operation started (it also labels them
  with a job group), their stages in the status store, the SQL metrics
  of the SQL executions it started, and the Catalyst phase times of
  the final plan's ``QueryExecution.tracker()``.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from collections import defaultdict

PKG = "s3_elasticsearch_data_pipeline_spark"

#: Modules whose public functions are timed as one layer each.
OPERATOR_MODULES = ("analytics", "diff", "windows", "temporal", "dedup",
                    "similarity", "text", "unigram", "graph", "multimodal",
                    "ml")

#: Single entry points timed as their own layer: (module, function, metric).
ENTRY_POINTS = (
    ("plans.incremental", "incremental_load", "plans.incremental.wall_s"),
    ("plans.reconcile", "reconcile", "plans.reconcile.wall_s"),
    ("plans.reconcile", "reconcile_wire", "plans.reconcile.wire_wall_s"),
    ("plans.backfill", "backfill_partition", "plans.backfill.wall_s"),
    ("sinks.keyed", "upsert_by_key", "sinks.keyed.upsert_s"),
    ("streaming.incremental_stream", "incremental_stream_to_es",
     "streaming.incremental_stream.epoch_s"),
    ("streaming.lsh_ingest", "lsh_ingest_stream",
     "streaming.lsh_ingest.epoch_s"),
    ("sinks.es_wire", "write_df", "sinks.es_wire.write_s"),
    ("sources.es_http", "es_terms_counts", "sources.es_http.terms_counts_s"),
)

#: SQL metric names (as Spark labels them) → per-layer metric.
SQL_METRICS = {
    "time to build": "broadcast.build_s",
    "time to collect": "broadcast.collect_s",
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.compute_s",
    "data sent to Python workers": "python.data_sent_bytes",
}

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
          "TiB": 2**40}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """A formatted SQL metric value → seconds, bytes or a count.
    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class CallTimer:
    """Sums wall time per layer over the outermost calls into it."""

    def __init__(self):
        self.wall: dict[str, float] = defaultdict(float)
        self.bulk: dict[str, int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, fn, layer: str):
        timer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            outer = timer._depth[layer] == 0
            timer._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                timer._depth[layer] -= 1
                if outer:
                    timer.wall[layer] += time.perf_counter() - t0
            if layer == "sinks.es_wire.write_s" and outer:
                timer.bulk["batches"] += out.batches
                timer.bulk["bytes_sent"] += out.bytes_sent
                timer.bulk["rows_failed"] += out.rows_failed
                timer.bulk["rows_sent"] += out.rows_sent
                timer.bulk["max_attempts"] = max(timer.bulk["max_attempts"],
                                                 out.max_attempts)
            return out
        return timed

    def _replace(self, fn, wrapper) -> None:
        for mod in [m for name, m in sys.modules.items()
                    if name.startswith(PKG) and m is not None]:
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        import importlib
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{short}")
            layer = f"operators.{short}.wall_s"
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and not name.startswith("_")
                        and fn.__module__ == mod.__name__):
                    self._replace(fn, self._wrap(fn, layer))
        for modname, fname, layer in ENTRY_POINTS:
            mod = importlib.import_module(f"{PKG}.{modname}")
            fn = getattr(mod, fname)
            self._replace(fn, self._wrap(fn, layer))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def take(self) -> dict[str, float]:
        """The sums since the last take, as per-layer metrics."""
        out = dict(self.wall)
        out.update({f"sinks.es_wire.{k}": float(v)
                    for k, v in self.bulk.items()})
        self.wall.clear()
        self.bulk.clear()
        return out


class SparkReadout:
    """Jobs, stages, SQL metrics and Catalyst phases of one operation."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _next_job_id(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def begin(self, label: str) -> dict:
        self.spark.sparkContext.setJobGroup(label, label)
        return {"job": self._next_job_id(),
                "exec": self.sql_store.executionsCount(),
                "pinned": self.sc.getPersistentRDDs().size()}

    def end(self, mark: dict, wall_s: float, final_df=None) -> dict:
        self.spark.sparkContext.setJobGroup(None, None)
        self.sc.listenerBus().waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        store = self.sc.statusStore()
        jobs = range(mark["job"], self._next_job_id())
        intervals, stages = [], set()
        for j in jobs:
            jd = store.job(j)
            start = jd.submissionTime()
            end = jd.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append((start.get().getTime(),
                                  end.get().getTime()))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        out["driver.jobs"] = float(len(jobs))
        for s in stages:
            st = store.lastStageAttempt(s)
            if st.status().toString() != "COMPLETE":
                continue
            out["driver.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks()
            out["exec.run_s"] += st.executorRunTime() / 1e3
            out["exec.cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.gc_s"] += st.jvmGcTime() / 1e3
            out["tables.input_bytes"] += st.inputBytes()
            out["shuffle.write_bytes"] += st.shuffleWriteBytes()
            out["shuffle.read_bytes"] += st.shuffleReadBytes()
            out["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill.bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
        union_ms, cur_end = 0.0, None
        for a, b in sorted(intervals):
            if cur_end is None or a > cur_end:
                union_ms += b - a
                cur_end = b
            elif b > cur_end:
                union_ms += b - cur_end
                cur_end = b
        out["driver.jobs_union_s"] = union_ms / 1e3
        out["driver.gap_s"] = max(0.0, wall_s - union_ms / 1e3)
        n_exec = self.sql_store.executionsCount() - mark["exec"]
        if n_exec > 0:
            execs = self.sql_store.executionsList(mark["exec"], n_exec)
            it = execs.iterator()
            while it.hasNext():
                self._sql_metrics(it.next(), out)
        if final_df is not None:
            phases = final_df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                p = phases.get(phase)
                if p.isDefined():
                    out[f"catalyst.{phase}_s"] = (p.get().durationMs()
                                                  / 1e3)
        out["session.pinned_rdds"] = float(
            self.sc.getPersistentRDDs().size() - mark["pinned"])
        return dict(out)

    def _sql_metrics(self, execution, out: dict) -> None:
        wanted: dict[int, str] = {}
        for spec in execution.metrics().mkString("\x01").split("\x01"):
            if not spec:
                continue
            # SQLPlanMetric(name,accumulatorId,metricType)
            body = spec[spec.index("(") + 1:-1]
            name, acc, _kind = body.rsplit(",", 2)
            if name in SQL_METRICS:
                wanted[int(acc)] = SQL_METRICS[name]
        if not wanted:
            return
        values = self.sql_store.executionMetrics(execution.executionId())
        for pair in values.mkString("\x02").split("\x02"):
            # accumulatorId -> formatted value
            acc, _, text = pair.partition(" -> ")
            if acc.lstrip("-").isdigit() and int(acc) in wanted:
                out[wanted[int(acc)]] += parse_metric_value(text)
