"""The repository benchmark: three closed-loop workloads, one client
process, one operation at a time, on ``local[<cores>]``.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15

Workloads (``workloads.py``):

* ``analytics``: SQL-shaped headline queries on seeded star-schema
  tables; each is drained on the executors as in ``bench.py``.
* ``curation``: LLM-data composers (graph, dedup, similarity, audio).
* ``pipeline``: the reference's job (incremental load, late upsert,
  damaged and clean reconciles, backfill, ES bulk transfer, a streaming
  ES epoch, damaged and clean wire reconciles, an LSH ingest drop)
  against an ES double owned by the benchmark.

A run sets up three times (session start plus input generation; the
median is ``setup_s``), runs one cold pass, then a fixed number of
warm passes per 15 s of ``--seconds`` (three for ``analytics``, one
for the others), so run length never depends on noise.  For
``analytics`` and ``curation`` the seed permutes the operation order
within each pass; for ``pipeline`` it generates the inputs.  Every
output is checked; a wrong answer makes the run exit 1.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced warm passes (untraced first and last) and prints the
per-layer metrics (``layers.py``), summed per traced pass, medians over
traced passes; one ``trace {...}`` line per traced operation precedes
the result.
The last stdout line is always one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Warm passes per 15 s of --seconds: fixed counts, not a time budget,
#: so run length never depends on noise.  Sized so that a run of any
#: workload stays under a minute on a 4-core host, where session start
#: takes about 6 s, a cold pass 12-28 s and a warm pass 4-13 s.
WARM_PASSES_PER_15S = {"analytics": 3, "curation": 1, "pipeline": 1}
SETUP_REPS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants() -> list[int]:
    """Every process below this one: JVM, Python workers, their forks."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _proc_stat(int(name))):
            children.setdefault(st[1], []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:  # reaps it if it is our own child
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    st = _proc_stat(pid)
    return st is not None and st[0] not in "ZX"


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while (pids := [p for p in pids if _alive(p)]) and \
            time.monotonic() < deadline:
        time.sleep(0.05)
    return pids


def stop_processes(spark) -> None:
    """Stop Spark, let its JVM exit, and end every process this run
    started; return only once each has ended."""
    pids = descendants()  # before the JVM goes and its children orphan
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    from pyspark import SparkContext
    # no gateway.close(): with pinned threads it can wait forever on a
    # py4j connection; the JVM exits when its stdin closes instead
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    pids = list(dict.fromkeys(pids + descendants()))
    for sig, timeout_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        for pid in pids:
            try:
                if _alive(pid):
                    os.kill(pid, sig)
            except ProcessLookupError:
                pass
        pids = _wait_gone(pids, timeout_s)
        if not pids:
            return
    print(f"# processes still running: {pids}", file=sys.stderr)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.period_s, self.window_peak_bytes = period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.window_peak_bytes = max(self.window_peak_bytes,
                                         self._tree_rss())
            self._stop.wait(self.period_s)

    def window(self) -> int:
        """Peak since the previous call."""
        peak, self.window_peak_bytes = self.window_peak_bytes, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _tail(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it (the
    eleventh-largest sample), with its percentile and sample count."""
    s = sorted(values)
    k = len(s) - 11
    if k < 0:
        return f"undefined ({len(s)} samples, fewer than 11)"
    return f"{s[k]:.6g} s at p{100.0 * (k + 1) / len(s):.1f} of {len(s)}"


class Runner:
    def __init__(self, args, tmp: str):
        self.args, self.tmp = args, tmp
        self.attempted = self.failed = 0
        self.es = None
        self.spark = None
        self.timer = self.readout = None

    # -- setup -------------------------------------------------------------

    def setup(self) -> list[float]:
        """Session start plus input generation, SETUP_REPS times; the
        benchmark's own bookkeeping on the inputs is not timed."""
        import datagen
        import workloads
        from s3_elasticsearch_data_pipeline_spark.session import get_spark
        times = []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            data = os.path.join(self.tmp, f"inputs{rep}")
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            t_session = time.perf_counter() - t0
            if self.args.workload == "pipeline":
                inputs = datagen.make_pipeline_inputs(self.args.seed)
                paths = datagen.write_pipeline_inputs(inputs, data)
            else:
                datagen.write_star_tables(data)
            times.append(time.perf_counter() - t0)
            if rep == 0:
                self.session_start_s = t_session
            if rep < SETUP_REPS - 1:
                shutil.rmtree(data)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.workload == "pipeline":
            self.pipeline = workloads.Pipeline(
                inputs, paths, self.es, os.path.join(self.tmp, "work"))
        else:
            self.queries = workloads.query_ops(
                workloads.ANALYTICS if self.args.workload == "analytics"
                else workloads.CURATION, data)
        return times

    # -- passes ------------------------------------------------------------

    def pass_ops(self, pass_no: int) -> list:
        if self.args.workload == "pipeline":
            return self.pipeline.ops(self.spark, pass_no)
        ops = list(self.queries)
        random.Random(self.args.seed * 1000 + pass_no).shuffle(ops)
        return ops

    def run_op(self, op, traced: bool) -> tuple[float, dict]:
        """Time one operation; return (wall seconds, trace record)."""
        from layers import ENTRY_POINTS
        from workloads import QueryOp, drain
        name = op.name
        rec: dict = {"op": name}
        final_df = None
        if not isinstance(op, QueryOp) and op.prepare is not None:
            op.prepare()
        mark = self.readout.begin(name) if traced else None
        t0 = time.perf_counter()
        try:
            if isinstance(op, QueryOp):
                df = op.build(self.spark)
                t1 = time.perf_counter()
                n, h, final_df = drain(df)
                t2 = time.perf_counter()
                ok, detail = op.check(n, h)
                rec["registry.build_s"] = t1 - t0
                rec["drain.exec_s"] = t2 - t1
                wall = t2 - t0
            else:
                result = op.run()
                wall = time.perf_counter() - t0
                ok, detail = op.check(result)
        except Exception:  # an operation that raises is a failed one
            traceback.print_exc()
            ok, detail, wall = False, {}, time.perf_counter() - t0
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG {self.args.workload}/{name}: {detail}",
                  file=sys.stderr)
        if traced:
            rec.update(self.readout.end(mark, wall, final_df))
            rec.update(self.timer.take())
            if name in ("stream_epoch", "lsh_ingest"):
                rec["streaming.epochs"] = 1.0
            cat = sum(rec.get(f"catalyst.{p}_s", 0.0)
                      for p in ("analysis", "optimization", "planning"))
            if "drain.exec_s" in rec:
                rec["drain.exec_s"] -= cat
                rest = rec["registry.build_s"] + cat + rec["drain.exec_s"]
            else:  # the outermost lifecycle call holds the others
                rest = max([rec.get(m, 0.0) for _, _, m in ENTRY_POINTS])
            rec["trace.unattributed_s"] = wall - rest
        # blocks an operation left pinned would squeeze every later one
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs() \
            .valuesIterator()
        while it.hasNext():
            it.next().unpersist(False)
        rec["wall_s"] = wall
        print(f"# op {self.args.workload}/{name} {wall:.3f} s",
              file=sys.stderr)
        return wall, rec

    def run_pass(self, pass_no: int, traced: bool) -> tuple[float, list, list]:
        walls, recs = [], []
        if traced:
            self.timer.install()
        es0 = self.es.counters() if self.es else (0.0, 0, 0.0)
        try:
            for op in self.pass_ops(pass_no):
                wall, rec = self.run_op(op, traced)
                walls.append(wall)
                recs.append(rec)
        finally:
            if traced:
                self.timer.uninstall()
        if self.es and recs:
            busy, reqs, scan = self.es.counters()
            recs[-1]["es_double.busy_s"] = busy - es0[0]
            recs[-1]["es_double.requests"] = float(reqs - es0[1])
            recs[-1]["sources.es_http.scan_s"] = scan - es0[2]
        if self.args.workload == "pipeline":
            self.pipeline.end_pass(pass_no)
        return sum(walls), walls, recs


def per_layer_names() -> list[str]:
    from layers import OPERATOR_MODULES
    names = ["session.start_s", "registry.build_s", "driver.jobs",
             "driver.stages", "driver.gap_s", "session.pinned_rdds",
             "catalyst.analysis_s", "catalyst.optimization_s",
             "catalyst.planning_s", "exec.tasks", "exec.run_s", "exec.cpu_s",
             "exec.gc_s", "tables.input_bytes", "shuffle.write_bytes",
             "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.bytes",
             "broadcast.build_s", "broadcast.collect_s", "python.boot_s",
             "python.compute_s", "python.data_sent_bytes"]
    names += [f"operators.{m}.wall_s" for m in OPERATOR_MODULES]
    names += ["plans.incremental.wall_s", "plans.reconcile.wall_s",
              "plans.reconcile.wire_wall_s", "plans.backfill.wall_s",
              "sinks.keyed.upsert_s", "streaming.incremental_stream.epoch_s",
              "streaming.lsh_ingest.epoch_s", "streaming.epochs",
              "sinks.es_wire.write_s", "sinks.es_wire.batches",
              "sinks.es_wire.bytes_sent", "sinks.es_wire.max_attempts",
              "sinks.es_wire.rows_failed", "sinks.es_wire.docs_per_s",
              "sources.es_http.scan_s", "sources.es_http.terms_counts_s",
              "es_double.busy_s", "es_double.requests", "drain.exec_s",
              "trace.unattributed_s", "trace.overhead_s",
              "memory.peak_rss_mb"]
    return names


#: Unit of a per-layer metric, by name suffix (first match wins).
_UNIT_SUFFIXES = (("docs_per_s", "1/s"), ("_s", "s"), ("bytes", "B"),
                  ("bytes_sent", "B"), ("_mb", "MB"))


def unit_of(name: str) -> str:
    return next((u for s, u in _UNIT_SUFFIXES if name.endswith(s)), "count")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics", "curation", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine is imported from the checkout this file lives in; its
    # Python workers need the same path whatever the cwd
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    import s3_elasticsearch_data_pipeline_spark  # noqa: F401  fails loudly
    import es_double
    import layers

    runs_dir = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(runs_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    # every file Spark, the JVM or a worker writes stays in the run dir
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        # no JVM, the launcher's included, writes hsperfdata to /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'wh')}",
            # keep every job, stage and SQL execution of the run readable
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell"]),
    })
    tempfile.tempdir = None
    os.chdir(tmp)
    runner = Runner(args, tmp)
    try:
        with RssSampler() as rss, es_double.ESDouble() as es:
            runner.es = es if args.workload == "pipeline" else None
            setup_times = runner.setup()
            runner.timer = layers.CallTimer()
            runner.readout = layers.SparkReadout(runner.spark)

            n_warm = max(1, round(WARM_PASSES_PER_15S[args.workload]
                                  * args.seconds / 15))
            cold_s, _, _ = runner.run_pass(0, traced=False)
            plain, traced_sums, op_walls, writes, peaks = [], [], [], [], []
            records: list[dict] = []
            # with --trace 1 the warm passes alternate untraced, traced,
            # untraced…: untraced passes bracket the traced ones, so the
            # JIT still warming up does not read as negative overhead
            n_pass = max(3, n_warm | 1) if args.trace else n_warm
            kinds = [bool(args.trace) and i % 2 == 1 for i in range(n_pass)]
            for i, traced in enumerate(kinds, start=1):
                rss.window()
                s, walls, recs = runner.run_pass(i, traced=traced)
                if traced:
                    traced_sums.append(s)
                    records.append(recs)
                    continue
                plain.append(s)
                op_walls += walls
                peaks.append(rss.window())
                writes += [r["wall_s"] for r in recs if r["op"] == "es_write"]
    finally:
        stop_processes(runner.spark)
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)

    # median over untraced warm passes of each pass's peak
    peak_mb = statistics.median(peaks) / 2**20
    if args.trace:
        names = per_layer_names()
        per_pass = []
        for recs in records:
            for r in recs:
                print("trace " + json.dumps(
                    {"workload": args.workload, **r}, sort_keys=True))
            sums = {n: sum(r.get(n, 0.0) for r in recs) for n in names}
            sums["sinks.es_wire.max_attempts"] = max(
                r.get("sinks.es_wire.max_attempts", 0.0) for r in recs)
            sums["session.start_s"] = runner.session_start_s
            write_s = sums["sinks.es_wire.write_s"]
            sent = sum(r.get("sinks.es_wire.rows_sent", 0.0) for r in recs)
            sums["sinks.es_wire.docs_per_s"] = (sent / write_s if write_s
                                                else 0.0)
            per_pass.append(sums)
        metrics = {n: statistics.median(p[n] for p in per_pass)
                   for n in names}
        metrics["trace.overhead_s"] = (statistics.median(traced_sums)
                                       - statistics.median(plain))
        metrics["memory.peak_rss_mb"] = peak_mb
    else:
        metrics = {
            "setup_s": statistics.median(setup_times),
            "cold_pass_s": cold_s,
            "pass_s": statistics.median(plain),
        }
        # a median over a few heterogeneous operations jumps between
        # them from run to run, so it is printed, not gated
        print(f"# {args.workload} op_s.p50 = "
              f"{statistics.median(op_walls):.6g} s; "
              f"op_s.tail = {_tail(op_walls)} warm "
              f"operations; failed_ratio = {runner.failed}/"
              f"{runner.attempted}; peak_rss_mb = {peak_mb:.1f} MB")
        if writes:
            n_docs = runner.pipeline.inputs["truth"].num_rows
            print(f"# pipeline docs_per_s = "
                  f"{n_docs / statistics.median(writes):.1f} 1/s "
                  f"(rows indexed per second of the es_write step)")
    units = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s"}
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": v, "unit": units.get(n) or unit_of(n)}
                    for n, v in metrics.items()},
    }
    for n, m in result["metrics"].items():
        print(f"# {args.workload} {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
