"""The three workloads: their inputs, their operations, and the check
each operation's output must pass.

An operation is a :class:`QueryOp` (registry builder call, then the
drain, timed apart) or a pipeline :class:`Step`.  Only the program's
work is timed; output checks and the benchmark's own damage run
outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))

#: SQL-shaped headline queries: parquet scan, shuffle, broadcast,
#: codegen and Catalyst planning; no Python workers.
ANALYTICS = (
    "q1_pricing_summary", "q3_revenue_by_segment", "q5_local_supplier_volume",
    "q18_large_orders", "j4_count_mismatches", "w_sessionize",
    "asof_join_events", "scd2_user_history",
)

#: LLM-data composers: eager materialization chains inside builders,
#: driver gaps between many small jobs, Python/Arrow workers.
CURATION = (
    "graph_pagerank_trade", "dedup_duplicate_spans",
    "sim_topk_bruteforce_arrow", "audio_decode_flac",
)


def drain(df) -> tuple[int, str, object]:
    """Run ``df`` to completion on the executors, as ``bench.py`` does:
    row count plus an overflow-safe hash-sum over every column, one row
    back to the driver.  Returns ``(n_rows, content_hash, drained_df)``."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    agg = df.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(h.cast("decimal(38,0)")).alias("content_hash"))
    row = agg.collect()[0]
    return row["n_rows"], str(row["content_hash"]), agg


class QueryOp:
    """One registry query: build, drain, compare with the stored answer."""

    def __init__(self, name: str, builder, sf_dir: str, expected):
        self.name, self.builder = name, builder
        self.sf_dir, self.expected = sf_dir, expected

    def build(self, spark):
        return self.builder(spark, self.sf_dir)

    def check(self, n_rows: int, content_hash: str):
        got = [n_rows, content_hash]
        return got == self.expected, {"n_rows": n_rows, "hash": content_hash,
                                      "expected": self.expected}


def query_ops(names, sf_dir: str) -> list[QueryOp]:
    from s3_elasticsearch_data_pipeline_spark import registry
    qs = registry.queries()
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    return [QueryOp(n, qs[n], sf_dir, expected.get(n)) for n in names]


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

class Step:
    """One lifecycle call.  ``prepare`` is the benchmark's own action
    before it (damage, a file arrival) and is not timed; ``check``
    judges the call's result."""

    def __init__(self, name: str, run, check, prepare=None):
        self.name, self.run, self.check = name, run, check
        self.prepare = prepare


def _digest(rows) -> str:
    h = hashlib.sha1()
    for r in sorted(rows, key=lambda d: d["id"]):
        h.update(json.dumps(r, sort_keys=True).encode())
    return h.hexdigest()


def _ids(path: str) -> list[str]:
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=["id"]).column("id").to_pylist()


def damage_sink(sink: str, doomed: list[str]) -> int:
    """Delete ``doomed`` ids from a parquet serving table behind the
    program's back (the file's checksum sidecar goes with it)."""
    gone, doomed_set = 0, pa.array(doomed)
    for month in sorted(os.listdir(sink)):
        d = os.path.join(sink, month)
        if not month.startswith("month="):
            continue
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(d, f)
            t = pq.read_table(path)
            keep = pc.invert(pc.is_in(t.column("id"), value_set=doomed_set))
            kept = t.filter(keep)
            if kept.num_rows == t.num_rows:
                continue
            gone += t.num_rows - kept.num_rows
            pq.write_table(kept, path)
            crc = os.path.join(d, f".{f}.crc")
            if os.path.exists(crc):
                os.remove(crc)
    return gone


class Pipeline:
    """The reference's job on seeded reference-schema data, one pass at
    a time; every pass starts from empty sinks so passes repeat."""

    def __init__(self, inputs: dict, paths: dict, es, work: str):
        self.inputs, self.paths, self.es, self.work = inputs, paths, es, work
        self.truth_ids = sorted(inputs["truth"].column("id").to_pylist())
        self.truth_docs = _digest(inputs["truth"].to_pylist())
        self.wire_docs = _digest(inputs["wire_truth"].to_pylist())
        self.admitted: list[int] | None = None

    def ops(self, spark, pass_no: int) -> list["Step"]:
        from s3_elasticsearch_data_pipeline_spark.plans.backfill import (
            backfill_partition)
        from s3_elasticsearch_data_pipeline_spark.plans.incremental import (
            incremental_load)
        from s3_elasticsearch_data_pipeline_spark.plans.reconcile import (
            reconcile, reconcile_wire)
        from s3_elasticsearch_data_pipeline_spark.sinks import es_wire
        from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
            upsert_by_key)
        from s3_elasticsearch_data_pipeline_spark.streaming import (
            incremental_stream)
        from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
            lsh_ingest_stream)

        p, inp = self.paths, self.inputs
        d = os.path.join(self.work, f"pass{pass_no}")
        sink, index = os.path.join(d, "serving"), f"serving-{pass_no}"
        landing, docs = os.path.join(d, "landing"), os.path.join(d, "docs")
        drops = os.path.join(d, "drops")
        read = lambda path: spark.read.parquet(path)  # noqa: E731
        url = self.es.url
        n_truth = inp["truth"].num_rows
        n_wire = inp["wire_truth"].num_rows
        state: dict = {}

        def incremental():
            return incremental_load(spark, read(p["base"]), sink)

        def incremental_ok(rep):
            return (rep.rows_loaded == datagen.N_BASE
                    and len(rep.partitions_loaded) == 12,
                    {"rows_loaded": rep.rows_loaded})

        def sink_matches(_):
            return sorted(_ids(sink)) == self.truth_ids, {}

        def damage():
            state["gone"] = damage_sink(sink, inp["sink_damage"])

        def repaired(rep):
            ok = (state["gone"] == len(inp["sink_damage"])
                  == rep.rows_repaired
                  and sorted(_ids(sink)) == self.truth_ids)
            return ok, {"damaged": state["gone"],
                        "repaired": rep.rows_repaired}

        def clean(rep):
            return (not rep.mismatched_partitions and not rep.rows_repaired,
                    {"mismatched": rep.mismatched_partitions})

        def backfilled(rep):
            want = sum(1 for m in inp["truth"].column("month").to_pylist()
                       if m == "March")
            return (rep.rows_in == n_truth and rep.rows_written == want,
                    {"rows_written": rep.rows_written})

        def es_write():
            src = read(p["truth"])
            es_wire.create_index(url, index, src.schema)
            return es_wire.write_df(src, url, index, id_col="id",
                                    optimize_for_bulk=True)

        def indexed(rep):
            got = self.es.docs(index)
            ok = (rep.rows_sent == n_truth and not rep.rows_failed
                  and len(got) == n_truth
                  and _digest(got.values()) == self.truth_docs)
            return ok, {"rows_sent": rep.rows_sent}

        def arrive():
            shutil.copytree(p["arrival"], landing)

        def stream_epoch():
            return incremental_stream.incremental_stream_to_es(
                spark, landing, url, index, os.path.join(d, "ckpt_es"),
                id_col="id")

        def streamed(reps):
            rows = sum(r.rows_sent for r in reps)
            return (rows == datagen.N_ARRIVALS
                    and len(self.es.docs(index)) == n_wire), {"rows": rows}

        def wire_damage():
            state["wire_gone"] = self.es.delete_docs(index,
                                                     inp["wire_damage"])

        def wire_reconcile():
            return reconcile_wire(spark, read(p["wire_truth"]), url, index)

        def wire_repaired(rep):
            got = self.es.docs(index)
            ok = (state["wire_gone"] == len(inp["wire_damage"])
                  == rep.rows_repaired and len(got) == n_wire
                  and _digest(got.values()) == self.wire_docs)
            return ok, {"damaged": state["wire_gone"],
                        "repaired": rep.rows_repaired}

        def drop():
            shutil.copy(p["drop_file"], os.path.join(drops, "0.parquet"))

        def ingest():
            lsh_ingest_stream(spark, drops, os.path.join(docs, "corpus"),
                              os.path.join(docs, "index"),
                              os.path.join(docs, "ckpt"))

        def admitted_ok(_):
            admitted = sorted(ds.dataset(
                os.path.join(docs, "corpus"), format="parquet",
                partitioning="hive").to_table(columns=["doc_id"])
                .column("doc_id").to_pylist())
            if self.admitted is None:
                self.admitted = admitted
            ok = (bool(admitted) and admitted == self.admitted
                  and admitted[-1] < datagen.N_DROP_DOCS
                  and not set(admitted) & set(inp["planted_copies"]))
            return ok, {"admitted": len(admitted)}

        os.makedirs(drops, exist_ok=True)
        reconcile_truth = lambda: reconcile(  # noqa: E731
            spark, read(p["truth"]), sink)
        return [
            Step("incremental_load", incremental, incremental_ok),
            Step("late_upsert",
                 lambda: upsert_by_key(spark, read(p["late"]), sink),
                 sink_matches),
            Step("reconcile_damaged", reconcile_truth, repaired, damage),
            Step("reconcile_clean", reconcile_truth, clean),
            Step("backfill_partition",
                 lambda: backfill_partition(
                     spark, read(p["truth"]), os.path.join(d, "backfill"),
                     only_value="March"), backfilled),
            Step("es_write", es_write, indexed),
            Step("stream_epoch", stream_epoch, streamed, arrive),
            Step("reconcile_wire_damaged", wire_reconcile, wire_repaired,
                 wire_damage),
            Step("reconcile_wire_clean", wire_reconcile, clean),
            Step("lsh_ingest", ingest, admitted_ok, drop),
        ]

    def end_pass(self, pass_no: int) -> None:
        self.es.drop_index(f"serving-{pass_no}")
        shutil.rmtree(os.path.join(self.work, f"pass{pass_no}"),
                      ignore_errors=True)
