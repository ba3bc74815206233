"""Seeded input generators for the benchmark, written with pyarrow.

The program under test sees only the files these functions write.

* :func:`write_star_tables` writes the ten tables the registry queries
  read (``region`` … ``embeddings``), in the layout of the engine's
  test data: one parquet file per table, one row group, naive
  microsecond timestamps.  Sizes follow the sf0.01 test tables.  The
  tables are generated from a FIXED seed so the expected answers in
  ``expected.json`` apply to every run; the workload seed only permutes
  the order of operations.
* :func:`make_pipeline_inputs` builds the reference-schema records for
  the ``pipeline`` workload from the workload seed: the base load, the
  late files, the newly arrived files, the damage sets and the
  document drop.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Seed of the analytics/curation tables (the expected answers in
#: expected.json were computed on exactly these tables).
TABLE_SEED = 42

N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15000, 60000, 10000
N_DOCUMENTS, N_EMBEDDINGS, EMBEDDING_DIMS = 500, 500, 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PART_ADJ = ("small", "large", "red", "blue", "old", "new", "hot", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil",
             "spring")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
WORDS = ("a", "the", "data", "query", "table", "row", "column", "key",
         "value", "join", "group", "sort", "hash", "merge", "scan", "filter",
         "window", "stream", "batch", "spark", "agg", "order", "customer",
         "part", "line", "vector", "fast", "slow", "big", "small")

MONTHS = ("January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December")
CITIES = ("Delhi", "Mumbai", "Pune", "Chennai", None)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(rng, start: dt.date, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _documents(rng) -> pa.Table:
    """Random word sequences, with planted exact copies, near copies
    and shared 12-token spans so the dedup operators find work."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i >= 20 and r < 0.04:  # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 20 and r < 0.12:  # near copy: a few words swapped
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 25)):
                toks[int(rng.integers(0, len(toks)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
            continue
        toks = [WORDS[j] for j in rng.integers(0, len(WORDS),
                                               int(rng.integers(8, 90)))]
        if i >= 20 and r < 0.25:  # share a span with an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            if len(src) >= 12:
                at = int(rng.integers(0, len(src) - 11))
                toks[len(toks) // 2:len(toks) // 2] = src[at:at + 12]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in
                          rng.integers(0, len(LANGS), N_DOCUMENTS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.normal(size=(10, EMBEDDING_DIMS))
    vecs = centers[labels] + 0.6 * rng.normal(
        size=(N_EMBEDDINGS, EMBEDDING_DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_star_tables(out_dir: str) -> None:
    """Write the ten registry tables under ``out_dir`` (a directory
    laid out like the engine's ``sf_dir``)."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}),
           os.path.join(out_dir, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           os.path.join(out_dir, "nation.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in
                                  rng.integers(0, 5, N_CUSTOMER)]),
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, N_SUPPLIER)),
    }), os.path.join(out_dir, "supplier.parquet"))
    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
        "p_brand": pa.array([f"Brand#{j}" for j in
                             rng.integers(1, 26, N_PART)]),
        "p_type": pa.array([PART_TYPES[j] for j in
                            rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(
            [900.0 + (i % 1000) / 10.0 for i in range(N_PART)]),
    }), os.path.join(out_dir, "part.parquet"))

    orderdate = _days(rng, dt.date(1995, 1, 1), 2404, N_ORDERS)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS),
                              pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in
                                   rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(money(1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in
                                     rng.integers(0, 5, N_ORDERS)]),
    }), os.path.join(out_dir, "orders.parquet"))

    l_order = rng.integers(0, N_ORDERS, N_LINEITEM)
    quantity = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    l_part = rng.integers(0, N_PART, N_LINEITEM)
    shipdate = orderdate[l_order] + rng.integers(
        1, 122, N_LINEITEM).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(
            quantity * (900.0 + (l_part % 1000) / 10.0)
            * rng.uniform(0.9, 1.1, N_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in
                                  rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in
                                  rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))

    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86400 * 10**6, N_EVENTS).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in
                                rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)
                          + 0.01),
        "props": pa.array([f'{{"k": {j}}}' for j in
                           rng.integers(0, 100, N_EVENTS)]),
    }), os.path.join(out_dir, "events.parquet"))

    _write(_documents(rng), os.path.join(out_dir, "documents.parquet"))
    _write(_embeddings(rng), os.path.join(out_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# pipeline inputs (reference schema)
# ---------------------------------------------------------------------------

#: Row counts of the pipeline inputs.
N_BASE, N_LATE, N_ARRIVALS, N_DAMAGE, N_WIRE_DAMAGE = 8000, 600, 1000, 150, 150
N_DROP_DOCS = 300

RECORD_SCHEMA = pa.schema([
    ("id", pa.string()), ("month_num", pa.int32()), ("value", pa.int32()),
    ("temperature", pa.float64()), ("humidity", pa.float64()),
    ("ts", pa.int64()), ("city", pa.string()), ("date", pa.string()),
    ("month", pa.string()),
])


def _records(rng, ids: list[str]) -> pa.Table:
    n = len(ids)
    month_num = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    temp = np.round(rng.uniform(15.0, 35.0, n), 1)
    hum = np.round(rng.uniform(40.0, 90.0, n), 1)
    return pa.table({
        "id": pa.array(ids, pa.string()),
        "month_num": pa.array(month_num, pa.int32()),
        "value": pa.array(rng.integers(0, 1000, n), pa.int32()),
        "temperature": pa.array(temp, mask=rng.random(n) < 0.03),
        "humidity": pa.array(hum, mask=rng.random(n) < 0.03),
        "ts": pa.array(1_700_000_000 + rng.integers(0, 31_536_000, n),
                       pa.int64()),
        "city": pa.array([CITIES[j] for j in rng.integers(0, 5, n)],
                         pa.string()),
        "date": pa.array([f"2025-{m:02d}-{d:02d}"
                          for m, d in zip(month_num, day)]),
        "month": pa.array([MONTHS[m - 1] for m in month_num]),
    }, schema=RECORD_SCHEMA)


def write_partitioned(table: pa.Table, root: str, tag: str) -> None:
    """Append ``table`` under ``root`` as hive ``month=<name>``
    partitions, one file per month named after ``tag``."""
    months = table.column("month").to_pylist()
    for m in sorted(set(months)):
        part = table.filter(pc.equal(table.column("month"), m))
        d = os.path.join(root, f"month={m}")
        os.makedirs(d, exist_ok=True)
        _write(part.drop(["month"]), os.path.join(d, f"{tag}.parquet"))


def _doc_drop(rng, n: int) -> tuple[pa.Table, list[int]]:
    """A document drop for the ingest stream: random texts plus planted
    exact copies of earlier texts in the drop, which dedup-at-ingest
    must never admit."""
    texts, copies = [], []
    for i in range(n):
        if texts and rng.random() < 0.1:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            copies.append(i)
            continue
        texts.append(" ".join(WORDS[j] for j in rng.integers(
            0, len(WORDS), int(rng.integers(12, 60)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), copies


def _damage(rng, table: pa.Table, months, n: int) -> list[str]:
    """``n`` ids of ``table`` drawn from the given months."""
    hit = table.filter(pc.is_in(table.column("month"),
                                value_set=pa.array(list(months))))
    return sorted(rng.choice(hit.column("id").to_pylist(), n,
                             replace=False))


def make_pipeline_inputs(seed: int) -> dict:
    """All ``pipeline`` inputs for one seed, as in-memory tables and id
    lists; :func:`write_pipeline_inputs` puts them on disk."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(10**7)[:N_BASE + N_LATE + N_ARRIVALS]
    ids = [f"id_{i:08d}" for i in perm]
    base = _records(rng, ids[:N_BASE])
    # late data: new ids plus re-sent (updated) versions of old ids
    late_new = _records(rng, ids[N_BASE:N_BASE + N_LATE // 2])
    late_old = _records(rng, list(rng.choice(ids[:N_BASE], N_LATE // 2,
                                             replace=False)))
    late = pa.concat_tables([late_new, late_old])
    lo = N_BASE + N_LATE
    arrival = _records(rng, ids[lo:lo + N_ARRIVALS])
    drop, copies = _doc_drop(rng, N_DROP_DOCS)
    # what the serving table holds after the late upsert: base with the
    # re-sent ids replaced, plus the new ids
    resent = pc.is_in(base.column("id"), value_set=late.column("id"))
    truth = pa.concat_tables([base.filter(pc.invert(resent)), late])
    # damage hits a few months, the way a lost partial load would
    months = rng.permutation(MONTHS)
    return {
        "base": base, "late": late, "arrival": arrival, "truth": truth,
        "wire_truth": pa.concat_tables([truth, arrival]),
        "sink_damage": _damage(rng, base, months[:2], N_DAMAGE),
        "wire_damage": _damage(rng, base, months[2:4], N_WIRE_DAMAGE),
        "drop": drop, "planted_copies": copies,
    }


def write_pipeline_inputs(inputs: dict, root: str) -> dict:
    """Write the read-only ``pipeline`` inputs under ``root``; return
    their paths.

    * ``base``: the first load (hive ``month=`` partitions);
    * ``late``: late rows, new ids plus re-sent versions of old ids;
    * ``truth``: what the serving table must hold after the late
      upsert (base with re-sent ids replaced, plus the new ids);
    * ``arrival``: files that arrive for the streaming ES epoch;
    * ``wire_truth``: what the ES index must hold after the epoch;
    * ``drops/0.parquet``: the document drop.
    """
    paths = {k: os.path.join(root, k)
             for k in ("base", "late", "truth", "wire_truth", "arrival",
                       "drops")}
    write_partitioned(inputs["base"], paths["base"], "base")
    write_partitioned(inputs["late"], paths["late"], "late")
    write_partitioned(inputs["truth"], paths["truth"], "truth")
    write_partitioned(inputs["truth"], paths["wire_truth"], "truth")
    write_partitioned(inputs["arrival"], paths["arrival"], "arrival")
    write_partitioned(inputs["arrival"], paths["wire_truth"], "arrival")
    os.makedirs(paths["drops"])
    paths["drop_file"] = os.path.join(paths["drops"], "0.parquet")
    _write(inputs["drop"], paths["drop_file"])
    return paths
