"""Elasticsearch double owned by the benchmark.

It serves the wire subset the engine speaks (``_bulk``, index create,
``_mapping``, ``_settings``, point-in-time open/close, sliced
``search_after`` pages and single-source composite aggregations) from
an in-memory store, on a localhost port, in a thread of the benchmark
process.

A search page costs O(page): each point-in-time snapshot is sorted and
split into slices once, on the first page that asks for that
(slice count, query); later pages bisect to their ``search_after`` key.
The double counts its busy time and requests per endpoint, so its own
time can be kept apart from the program's, and records for each
point in time the span from its first to its last page request: the
wall time of the program's sliced scan through it.
"""

from __future__ import annotations

import bisect
import json
import threading
import time
import zlib
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _matches(query: dict, doc: dict) -> bool:
    """The query-DSL subset the engine's reader pushes down, with
    filter-context semantics (a clause on a null field matches
    nothing)."""
    (kind, spec), = query.items()
    if kind == "match_all":
        return True
    if kind == "bool":
        return (all(_matches(c, doc) for c in spec.get("filter", []))
                and not any(_matches(c, doc)
                            for c in spec.get("must_not", [])))
    if kind == "term":
        (col, val), = spec.items()
        return doc.get(col) == val
    if kind == "terms":
        (col, vals), = spec.items()
        return doc.get(col) in set(vals)
    if kind == "range":
        (col, bounds), = spec.items()
        v = doc.get(col)
        if v is None:
            return False
        ops = {"gt": v.__gt__, "gte": v.__ge__, "lt": v.__lt__,
               "lte": v.__le__}
        return all(ops[op](bound) for op, bound in bounds.items())
    if kind == "exists":
        return doc.get(spec["field"]) is not None
    if kind == "prefix":
        (col, want), = spec.items()
        want = want["value"] if isinstance(want, dict) else want
        v = doc.get(col)
        return isinstance(v, str) and v.startswith(want)
    raise ValueError(f"es double: unsupported query kind {kind!r}")


def _slice_of(doc_id: str, n: int) -> int:
    return zlib.crc32(doc_id.encode()) % n


class _Snapshot:
    """A point-in-time copy of one index, with its sorted slices built
    on first use."""

    def __init__(self, index: str, docs: dict):
        self.index = index
        self.docs = docs
        self.first_page = self.last_page = None
        self.slices: dict[tuple, tuple[list, list]] = {}
        self.lock = threading.Lock()

    def page(self, field: str, n: int, sl: int, query: dict,
             after, size: int) -> list:
        key = (field, n, json.dumps(query, sort_keys=True))
        with self.lock:
            if key not in self.slices:
                parts = [[] for _ in range(n)]
                for k, d in self.docs.items():
                    if _matches(query, d):
                        v = k if field == "_id" else d.get(field)
                        parts[_slice_of(k, n)].append((v, k))
                for p in parts:
                    p.sort()
                self.slices[key] = [([v for v, _ in p], p) for p in parts]
            keys, rows = self.slices[key][sl]
        lo = 0 if after is None else bisect.bisect_right(keys, after[0])
        return [(v, k, self.docs[k]) for v, k in rows[lo:lo + size]]


class ESDouble:
    """``with ESDouble() as es: ... es.url ... es.docs(index)``"""

    def __init__(self):
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self.server.double = self
        self.server.daemon_threads = True
        self.lock = threading.Lock()
        self.store: dict[str, dict] = {}
        self.mappings: dict[str, dict] = {}
        self.settings: dict[str, dict] = {}
        self.pits: dict[str, _Snapshot] = {}
        self.pit_seq = 0
        self.scan_s = 0.0  # spans of closed or dropped points in time
        self.busy_s: dict[str, float] = defaultdict(float)
        self.requests: dict[str, int] = defaultdict(int)
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)

    @property
    def url(self) -> str:
        host, port = self.server.server_address
        return f"http://{host}:{port}"

    def docs(self, index: str) -> dict:
        return self.store.get(index, {})

    def delete_docs(self, index: str, ids) -> int:
        """Damage: remove ``ids`` from ``index`` behind the program's
        back. Returns how many were present."""
        with self.lock:
            store = self.store.get(index, {})
            return sum(store.pop(i, None) is not None for i in ids)

    def drop_index(self, index: str) -> None:
        with self.lock:
            self.store.pop(index, None)
            self.mappings.pop(index, None)
            self.settings.pop(index, None)
            for k in [k for k, s in self.pits.items() if s.index == index]:
                self._retire(self.pits.pop(k))

    def counters(self) -> tuple[float, int, float]:
        """(busy seconds, requests, scan seconds) so far."""
        with self.lock:
            open_spans = sum(s.last_page - s.first_page
                             for s in self.pits.values()
                             if s.first_page is not None)
            return (sum(self.busy_s.values()), sum(self.requests.values()),
                    self.scan_s + open_spans)

    def _retire(self, snap: "_Snapshot") -> None:
        if snap.first_page is not None:
            self.scan_s += snap.last_page - snap.first_page

    # -- endpoint handlers: each returns (status, body) -------------------

    def bulk(self, body: bytes):
        lines = [ln for ln in body.decode("utf-8").split("\n") if ln]
        items, i = [], 0
        with self.lock:
            while i < len(lines):
                (verb, action), = json.loads(lines[i]).items()
                index, doc_id = action["_index"], action.get("_id")
                store = self.store.setdefault(index, {})
                if verb == "delete":
                    existed = store.pop(doc_id, None) is not None
                    items.append({"delete": {
                        "_index": index, "_id": doc_id,
                        "status": 200 if existed else 404,
                        "result": "deleted" if existed else "not_found"}})
                    i += 1
                    continue
                if doc_id is None:
                    raise ValueError("es double: bulk index without _id")
                store[doc_id] = json.loads(lines[i + 1])
                items.append({verb: {"_index": index, "_id": doc_id,
                                     "status": 200}})
                i += 2
        return 200, {"errors": False, "items": items}

    def open_pit(self, index: str):
        with self.lock:
            self.pit_seq += 1
            pit_id = f"pit-{self.pit_seq}"
            self.pits[pit_id] = _Snapshot(
                index, dict(self.store.get(index, {})))
        return 200, {"id": pit_id}

    def close_pit(self, pit_id: str):
        with self.lock:
            snap = self.pits.pop(pit_id, None)
            if snap is not None:
                self._retire(snap)
        freed = snap is not None
        return 200, {"succeeded": freed, "num_freed": int(freed)}

    def search(self, index: str | None, body: dict):
        if "pit" in body:
            if index is not None:
                return 400, {"error": "[indices] cannot be used with pit"}
            with self.lock:
                snap = self.pits.get((body["pit"] or {}).get("id"))
            if snap is None:
                return 404, {"error": "search_context_missing_exception"}
        elif index is None:
            return 400, {"error": "/_search without an index needs a pit"}
        elif body.get("slice") is not None:
            return 400, {"error": "[slice] needs a point in time"}
        else:
            with self.lock:
                snap = _Snapshot(index, dict(self.store.get(index, {})))
        query = body.get("query") or {"match_all": {}}
        aggs = body.get("aggs") or body.get("aggregations")
        if aggs:
            return self._composite(snap, aggs, query)
        t0 = time.perf_counter()
        spec = (body.get("sort") or [{"_id": "asc"}])[0]
        field = next(iter(spec)) if isinstance(spec, dict) else spec
        sl = body.get("slice") or {"id": 0, "max": 1}
        rows = snap.page(field, int(sl["max"]), int(sl["id"]), query,
                         body.get("search_after"),
                         int(body.get("size", 10)))
        hits = [{"_index": snap.index, "_id": k, "_source": d, "sort": [v]}
                for v, k, d in rows]
        if "pit" in body:
            with self.lock:
                if snap.first_page is None:
                    snap.first_page = t0
                snap.last_page = time.perf_counter()
        return 200, {"took": 1, "timed_out": False, "hits": {"hits": hits}}

    def _composite(self, snap: _Snapshot, aggs: dict, query: dict):
        (name, spec), = aggs.items()
        comp = spec["composite"]
        (src,) = comp["sources"]
        (src_name, src_def), = src.items()
        field = src_def["terms"]["field"]
        ftype = ((self.mappings.get(snap.index) or {}).get("properties", {})
                 .get(field, {}).get("type"))
        if ftype == "text":
            return 400, {"error": f"text field [{field}] is not aggregatable"}
        counts: dict = defaultdict(int)
        for d in snap.docs.values():
            v = d.get(field)
            if v is not None and _matches(query, d):
                counts[v] += 1
        keys = sorted(counts)
        after = comp.get("after")
        if after is not None:
            keys = keys[bisect.bisect_right(keys, after[src_name]):]
        page = keys[:int(comp.get("size", 10))]
        buckets = [{"key": {src_name: k}, "doc_count": counts[k]}
                   for k in page]
        out = {"buckets": buckets}
        if buckets:
            out["after_key"] = buckets[-1]["key"]
        return 200, {"took": 1, "timed_out": False, "hits": {"hits": []},
                     "aggregations": {name: out}}

    def create_index(self, index: str, body: dict):
        with self.lock:
            if index in self.mappings or index in self.store:
                return 400, {"error": "resource_already_exists_exception"}
            self.mappings[index] = body.get("mappings", {})
        return 200, {"acknowledged": True, "index": index}

    def mapping(self, index: str):
        with self.lock:
            m = self.mappings.get(index)
        if m is None:
            return 404, {"error": "index_not_found_exception"}
        return 200, {index: {"mappings": m}}

    def get_settings(self, index: str):
        with self.lock:
            return 200, {index: {"settings": {
                "index": dict(self.settings.get(index, {}))}}}

    def put_settings(self, index: str, body: dict):
        with self.lock:
            cur = self.settings.setdefault(index, {})
            for k, v in body.get("index", body).items():
                if v is None:
                    cur.pop(k, None)
                else:
                    cur[k] = v
        return 200, {"acknowledged": True}


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args):
        pass

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    def _json(self) -> dict:
        raw = self._body()
        return json.loads(raw) if raw else {}

    def _route(self, method: str):
        d = self.server.double
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        t0 = time.perf_counter()
        endpoint = method + " " + (parts[-1] if parts and parts[-1]
                                   .startswith("_") else "index")
        if method == "POST" and parts[-1:] == ["_bulk"]:
            status, out = d.bulk(self._body())
        elif method == "POST" and parts == ["_search"]:
            status, out = d.search(None, self._json())
        elif method == "POST" and len(parts) == 2 and parts[1] == "_search":
            status, out = d.search(parts[0], self._json())
        elif method == "POST" and len(parts) == 2 and parts[1] == "_pit":
            status, out = d.open_pit(parts[0])
        elif method == "DELETE" and parts == ["_pit"]:
            status, out = d.close_pit(self._json().get("id"))
        elif method == "PUT" and len(parts) == 1:
            status, out = d.create_index(parts[0], self._json())
        elif method == "HEAD" and len(parts) == 1:
            with d.lock:
                known = parts[0] in d.mappings or parts[0] in d.store
            status, out = (200 if known else 404), None
        elif len(parts) == 2 and parts[1] == "_mapping" and method == "GET":
            status, out = d.mapping(parts[0])
        elif len(parts) == 2 and parts[1] == "_settings" and method == "GET":
            status, out = d.get_settings(parts[0])
        elif len(parts) == 2 and parts[1] == "_settings" and method == "PUT":
            status, out = d.put_settings(parts[0], self._json())
        else:
            self._body()
            status, out = 404, {"error": f"es double: no route {self.path}"}
        payload = b"" if out is None else json.dumps(out).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        if method != "HEAD":
            self.wfile.write(payload)
        with d.lock:
            d.busy_s[endpoint] += time.perf_counter() - t0
            d.requests[endpoint] += 1

    def do_GET(self):
        self._route("GET")

    def do_POST(self):
        self._route("POST")

    def do_PUT(self):
        self._route("PUT")

    def do_DELETE(self):
        self._route("DELETE")

    def do_HEAD(self):
        self._route("HEAD")
