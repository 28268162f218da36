"""The ``service`` workload: a reader, then a store writer, over REST.

Reader: a read-only ``make_server`` (no auth token) over a real socket,
driven by one closed-loop client that runs whole shuffled decks of a
seeded read mix until its time is up. Every answer is checked against
DuckDB or against the golden answer taken before the timed blocks.

Writer: a ``make_server`` with an auth token and its own
``CorrelationAPI``. One client runs whole mutation cycles: register
generated batches, IVF append, probe, SCD2 merges (a dense and a
three-user sparse CDC cohort), point-in-time snapshots, delete plus
compact, and a status read. The live vector count is checked after
every write; at the end the SCD2 store must equal a full rebuild of
the base events plus every merged batch.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads

import datagen
from common import SF, Clock, Meter
from tracer import covered_ms

TOKEN = "perfbench-token"
NUMERIC_LI = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
IVF_CELLS = 8
APPEND_ROWS = 40
# read routes from the slowest to the cheapest
COLD_ORDER = ["spearman", "dedup", "distribution", "kendall", "rolling",
              "lagged", "similar_exact", "matrix", "pearson", "variables",
              "datasets"]


# -- HTTP ------------------------------------------------------------------


def call(port: int, method: str, path: str, body=None, token=None,
         op: str | None = None) -> tuple[int, object, int]:
    """One request on a fresh connection: (status, payload, bytes)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    headers = {}
    raw = None
    if body is not None:
        raw = json.dumps(body).encode()
        headers["Content-Type"] = "application/json"
    if token:
        headers["Authorization"] = f"Bearer {token}"
    if op:
        headers["X-Perfbench-Op"] = op
    try:
        conn.request(method, path, body=raw, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, json.loads(data), len(data)
    finally:
        conn.close()


def serve(server) -> threading.Thread:
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t


class _OpLocal(threading.local):
    op: str | None = None


class TracedAPI:
    """CorrelationAPI stand-in for the traced run: each method call
    becomes an ``api.<method>`` span whose Spark jobs carry the
    request's job group."""

    def __init__(self, api, tracer, local: _OpLocal):
        self._api, self._tracer, self._local = api, tracer, local

    def __getattr__(self, name):
        target = getattr(self._api, name)
        if not callable(target):
            return target

        def wrapped(*args, **kwargs):
            op = self._local.op or f"anon-{threading.get_ident()}"
            self._tracer.begin(op)
            t0 = time.time()
            try:
                return target(*args, **kwargs)
            finally:
                t1 = time.time()
                self._tracer.end()
                self._tracer.span(f"api.{name}", op, t0, t1,
                                  parent="client.request")

        return wrapped


def make(api, tracer, token=None):
    """``make_server`` over ``api``; in a traced run the handler also
    hands the request's op id (a header) to :class:`TracedAPI`."""
    from correlationapi_spark.http_api import make_server

    if tracer is None:
        return make_server(api, port=0, auth_token=token)
    local = _OpLocal()
    server = make_server(TracedAPI(api, tracer, local), port=0,
                         auth_token=token)
    base = server.RequestHandlerClass

    class Handler(base):
        def do_GET(self):  # noqa: N802 (http.server API)
            local.op = self.headers.get("X-Perfbench-Op")
            super().do_GET()

        def do_POST(self):  # noqa: N802
            local.op = self.headers.get("X-Perfbench-Op")
            super().do_POST()

    server.RequestHandlerClass = Handler
    return server


# -- answers -----------------------------------------------------------------


def close(a, b, tol: float = 2e-6) -> bool:
    """Structural equality; floats within ``tol``, relative above 1."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k], tol) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y, tol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))
    return a == b


def duckdb_expected(con, req: dict):
    """Independent answer for DuckDB-computable requests, else None."""
    kind = req["kind"]
    q = req.get("query", {})
    if kind == "pearson":
        x, y = q["x"], q["y"]
        return con.execute(
            f"SELECT round(corr({x}, {y}), 6) FROM {q['dataset']}"
        ).fetchone()[0]
    if kind == "spearman":
        x, y = q["x"], q["y"]
        return con.execute(
            f"""SELECT round(corr(rx, ry), 6) FROM (
                SELECT rank() OVER (ORDER BY {x})
                       + (count(*) OVER (PARTITION BY {x}) - 1) / 2.0 AS rx,
                       rank() OVER (ORDER BY {y})
                       + (count(*) OVER (PARTITION BY {y}) - 1) / 2.0 AS ry
                FROM {q['dataset']})"""
        ).fetchone()[0]
    if kind == "distribution":
        ps = [float(p) for p in q["percentiles"].split(",")]
        row = con.execute(
            "SELECT " + ", ".join(
                f"round(quantile_cont({q['var']}, {p}), 6)" for p in ps
            ) + f" FROM {q['dataset']}"
        ).fetchone()
        return {str(p): v for p, v in zip(ps, row)}
    return None


def answer_ok(req: dict, payload, expect) -> bool:
    kind = req["kind"]
    if kind in ("pearson", "spearman"):
        return close(payload.get("correlation"), expect["duck"])
    if kind == "distribution":
        return close(payload.get("percentiles"), expect["duck"]) and close(
            payload, expect["golden"]
        )
    return close(payload, expect["golden"])


# -- read deck -----------------------------------------------------------------


def read_deck(rng) -> list[dict]:
    """The seeded read mix: 13 requests, the same route multiset for
    every seed. Parameters that change a route's cost (the spearman
    pair, the distribution variable, the lag and the window) are fixed;
    the seed varies the pearson pairs, the matrix columns, the probe
    ids and, per client, the order.

    The multiset is chosen so that the median request falls inside a
    run of similar-cost routes (lagged, kendall, rolling, similar),
    not on a boundary between a cheap and an expensive route, where one
    or two samples would decide the median."""
    def pair():
        x, y = rng.choice(NUMERIC_LI, 2, replace=False)
        return str(x), str(y)

    def probes():
        return ",".join(str(int(p)) for p in rng.choice(500, 2, replace=False))

    emb = {"dataset": "embeddings", "id": "vec_id", "vector": "embedding"}
    deck = [
        {"kind": "datasets", "method": "GET", "path": "/datasets"},
        {"kind": "variables", "method": "GET",
         "path": f"/datasets/{rng.choice(['lineitem', 'events'])}/variables"},
    ]
    for _ in range(2):
        x, y = pair()
        deck.append({"kind": "pearson", "method": "GET", "path": "/correlate",
                     "query": {"dataset": "lineitem", "x": x, "y": y}})
    deck.append({"kind": "spearman", "method": "GET", "path": "/correlate",
                 "query": {"dataset": "lineitem", "x": "l_quantity",
                           "y": "l_extendedprice", "method": "spearman"}})
    deck.append({"kind": "kendall", "method": "GET", "path": "/correlate",
                 "query": {"dataset": "events", "x": "user_id", "y": "value",
                           "method": "kendall"}})
    cols = [str(c) for c in rng.permutation(NUMERIC_LI)[:3]]
    deck.append({"kind": "matrix", "method": "POST", "path": "/matrix",
                 "body": {"dataset": "lineitem", "variables": cols}})
    deck.append({"kind": "distribution", "method": "GET",
                 "path": "/distribution",
                 "query": {"dataset": "lineitem", "var": "l_extendedprice",
                           "percentiles": "0.1,0.5,0.9"}})
    deck.append({"kind": "lagged", "method": "GET", "path": "/lagged",
                 "query": {"dataset": "events", "time": "ts", "value": "value",
                           "lag": "1"}})
    deck.append({"kind": "rolling", "method": "GET", "path": "/rolling",
                 "query": {"dataset": "events", "time": "ts", "value": "value",
                           "window": "14"}})
    for _ in range(2):
        deck.append({"kind": "similar_exact", "method": "GET",
                     "path": "/similar",
                     "query": {**emb, "probes": probes(), "k": "5"}})
    deck.append({"kind": "dedup", "method": "GET", "path": "/dedup",
                 "query": {"dataset": "documents", "id": "doc_id",
                           "text": "text", "method": "exact"}})
    for i, r in enumerate(deck):
        r["rid"] = i
        if "query" in r:
            r["url"] = r["path"] + "?" + urlencode(r["query"])
        else:
            r["url"] = r["path"]
    return deck


# -- store files ---------------------------------------------------------------


def tree_sizes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def new_bytes(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or rewritten."""
    files = [p for p, n in after.items() if before.get(p) != n]
    return len(files), sum(after[p] for p in files)


def scd2_rows(spark, path: str) -> tuple[list[tuple], int]:
    """Every dimension row of the store's live layout, read straight
    from the bucket objects its pointer names, and their Arrow bytes."""
    from correlationapi_spark.storeio import StoreIO, pointer_read

    lay = pointer_read(StoreIO(path, spark), path)
    tables = [
        pads.dataset(os.path.join(path, d), format="parquet").to_table()
        for d in sorted(lay["buckets"].values())
    ]
    t = pa.concat_tables(tables, promote_options="default")
    cols = sorted(t.column_names)
    rows = list(zip(*(t.column(c).to_pylist() for c in cols)))
    return sorted(rows, key=repr), t.nbytes


# -- workload ------------------------------------------------------------------


class Service:
    def __init__(self, args, work: str, fixture: str):
        self.args = args
        self.work = work
        self.fixture = fixture
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lock = threading.Lock()
        self._batches: dict[int, dict] = {}
        # writer state, carried from cycle to cycle
        self.live = set(range(datagen.row_counts(SF)["embeddings"]))
        self.cdc: list = []
        self.ops: list[dict] = []
        self.n_cycles = 0
        self.input_bytes = self.files_written = self.bytes_written = 0
        self.touched = self.total = 0

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; record ``what`` if it failed."""
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(what)
        return ok

    def setup_round(self, i: int, start_spark) -> dict:
        """A SparkSession, a CorrelationAPI and dataset registration."""
        from correlationapi_spark.api import CorrelationAPI

        clock = Clock()
        spark = start_spark()
        session_s = clock.s()
        api = CorrelationAPI(spark)
        for name in ("lineitem", "events", "embeddings", "documents"):
            api.register_dataset(
                name, os.path.join(self.fixture, f"{name}.parquet")
            )
        return {"spark": spark, "api": api, "session_s": session_s,
                "register_ms": (clock.s() - session_s) * 1e3}

    def build_stores(self, st: dict) -> float:
        """Base IVF index and base SCD2 store, built side by side."""
        from pyspark.sql import functions as F

        from correlationapi_spark.io import load_tables
        from correlationapi_spark.operators.analytics import scd2_merge

        clock = Clock()
        st["ivf"] = os.path.join(self.work, "ivf")
        st["scd2"] = os.path.join(self.work, "scd2")
        ev = load_tables(st["spark"], self.fixture)["events"]
        with ThreadPoolExecutor(max_workers=2) as pool:
            builds = [
                pool.submit(st["api"].index_build, "embeddings", "vec_id",
                            "embedding", st["ivf"], n_cells=IVF_CELLS),
                pool.submit(scd2_merge, st["spark"], ev, F.lit(False),
                            _store_path=st["scd2"]),
            ]
            for b in builds:
                b.result()
        return clock.s()

    # -- reads -----------------------------------------------------------

    def goldens(self, port: int, deck: list[dict]) -> dict[int, dict]:
        """Expected answers, taken before the timed phase: DuckDB for
        the computable ones, the service's first answer for the rest."""
        from correlationapi_spark.testing import duckdb_connect

        con = duckdb_connect(self.fixture)
        expect: dict[int, dict] = {}

        def one(req):
            op = f"g-{req['rid']}"
            status, payload, _ = call(port, req["method"], req["url"],
                                      req.get("body"),
                                      op=op if self.tracer else None)
            if self.tracer:
                self.tracer.harvest(op, "golden", "api")
            return req, status, payload

        # longest first, so the slowest cold request does not start last
        order = sorted(deck, key=lambda r: COLD_ORDER.index(r["kind"]))
        with ThreadPoolExecutor(max_workers=4) as pool:
            results = list(pool.map(one, order))
        for req, status, payload in results:
            e = {"golden": payload, "duck": duckdb_expected(con, req)}
            expect[req["rid"]] = e
            self.check(
                status == 200 and (e["duck"] is None
                                   or answer_ok(req, payload, e)),
                f"golden {req['kind']}: {status} {str(payload)[:200]}")
        con.close()
        return expect

    def read_phase(self, port: int, deck: list[dict], expect,
                   seconds: float):
        """One closed-loop client runs whole shuffled decks until
        ``seconds`` have passed (at least one deck). Returns a record
        per request, with its wall and CPU time."""
        clock = Clock()
        lat: list[dict] = []
        rng = np.random.default_rng([self.args.seed, 3])
        while not lat or clock.s() < seconds:
            for j in rng.permutation(len(deck)):
                req = deck[int(j)]
                op = f"r-{len(lat)}"
                with Meter() as m:
                    t0 = time.time()
                    status, payload, nbytes = call(
                        port, req["method"], req["url"], req.get("body"),
                        op=op if self.tracer else None,
                    )
                    t1 = time.time()
                ok = self.check(
                    status == 200 and answer_ok(req, payload,
                                                expect[req["rid"]]),
                    f"{req['kind']}: {status} {str(payload)[:200]}")
                lat.append({"op": op, "kind": req["kind"], "start": t0,
                            "end": t1, "wall": t1 - t0, "cpu": m.cpu,
                            "ok": ok,
                            "status": status, "bytes": nbytes})
                if self.tracer:
                    self.tracer.span("client.request", op, t0, t1,
                                     route=req["path"])
                    self.tracer.harvest(op, "read", "api")
        return lat

    # -- store writes ----------------------------------------------------

    def batches(self, c: int) -> dict:
        """Cycle ``c``'s generated inputs (written once, then cached):
        40 embeddings with new ids, a dense CDC cohort over a third of
        the users and a sparse one over three users. Every CDC timestamp
        is later than all earlier ones."""
        if c in self._batches:
            return self._batches[c]
        d = os.path.join(self.work, "batches")
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng([self.args.seed, 4, c])
        users = datagen.n_users(SF)
        ids = np.arange(1_000_000 + APPEND_ROWS * c,
                        1_000_000 + APPEND_ROWS * (c + 1))
        slot = np.datetime64("2024-02-01T00:00:00", "us") + np.timedelta64(
            2 * c, "D")
        day = np.timedelta64(1, "D")
        b = {
            "ids": ids,
            "emb": datagen.embedding_batch(
                rng, ids, rng.integers(0, 10, len(ids)),
                datagen.label_centers(self.args.seed)),
            "dense": datagen.events_table(
                rng, 10_000_000 + 100_000 * c, 200, slot, slot + day, users,
                user_ids=rng.choice(users, max(3, users // 3),
                                    replace=False)),
            "sparse": datagen.events_table(
                rng, 10_050_000 + 100_000 * c, 12, slot + day,
                slot + 2 * day, users,
                user_ids=rng.choice(users, 3, replace=False)),
            "end": {"dense": slot + day, "sparse": slot + 2 * day},
            "bytes": 0,
            "rng": rng,
        }
        for name in ("emb", "dense", "sparse"):
            path = os.path.join(d, f"{name}{c}.parquet")
            b["bytes"] += datagen.write_table(b[name], path)
            b[f"{name}_path"] = path
        self._batches[c] = b
        return b

    def rebuild(self, spark, cycles: int) -> list:
        """Rows of a full ``scd2_merge`` rebuild over the base events plus
        the CDC batches of the first ``cycles`` cycles."""
        from pyspark.sql import functions as F

        from correlationapi_spark.operators.analytics import scd2_merge

        base = pads.dataset(os.path.join(self.fixture, "events.parquet"),
                            format="parquet").to_table()
        cols = base.column_names
        parts = [base] + [self.batches(c)[k].select(cols)
                          for c in range(cycles) for k in ("dense", "sparse")]
        path = os.path.join(self.work, f"rebuild-{cycles}.parquet")
        datagen.write_table(pa.concat_tables(parts), path)
        store = os.path.join(self.work, f"rebuild-{cycles}")
        op = f"rebuild-{cycles}"
        if self.tracer:
            self.tracer.begin(op)
        try:
            scd2_merge(spark, spark.read.parquet(path), F.lit(False),
                       _store_path=store)
        finally:
            if self.tracer:
                self.tracer.end()
                self.tracer.harvest(op, "check", "check")
        return scd2_rows(spark, store)[0]

    def write_cycle(self, port: int, st: dict) -> Meter:
        """One mutation cycle through the token-auth server: register
        the cycle's batches, IVF append, probe, a dense and a sparse
        SCD2 merge each followed by a snapshot, delete plus compact,
        and a status read. The cycle's inputs are generated before its
        meter starts; the store's file sizes are read around each write
        (inside the meter, a few milliseconds)."""
        ivf, scd2 = st["ivf"], st["scd2"]
        c = self.n_cycles
        b = self.batches(c)
        rng = b["rng"]
        self.input_bytes += b["bytes"]
        live = self.live

        def req(kind, method, path, body=None, check=None, write=False):
            op = f"s-{len(self.ops)}"
            before = (
                {**tree_sizes(ivf), **tree_sizes(scd2)} if write else None
            )
            t0 = time.time()
            status, payload, nbytes = call(port, method, path, body,
                                           token=TOKEN,
                                           op=op if self.tracer else None)
            t1 = time.time()
            ok = self.check(
                status in (200, 201) and (check is None or check(payload)),
                f"{kind}: {status} {str(payload)[:200]}")
            if before is not None:
                f, nb = new_bytes(before, {**tree_sizes(ivf),
                                           **tree_sizes(scd2)})
                self.files_written += f
                self.bytes_written += nb
            self.ops.append({"op": op, "kind": kind, "start": t0, "end": t1,
                             "ok": ok, "status": status, "bytes": nbytes,
                             "write": write})
            if self.tracer:
                self.tracer.span("client.request", op, t0, t1, route=path)
                self.tracer.harvest(op, "write" if write else "read", "api")
            return payload if ok else None

        def live_is(expected):
            return lambda p: p.get("n_vectors") == expected

        with Meter() as meter:
            for name in ("emb", "dense", "sparse"):
                req("register", "POST", f"/datasets/b_{name}{c}",
                    {"path": b[f"{name}_path"]})
            live |= {int(i) for i in b["ids"]}
            req("append", "POST", "/index/append",
                {"dataset": f"b_emb{c}", "id": "vec_id",
                 "vector": "embedding", "path": ivf},
                check=live_is(len(live)), write=True)
            probe_ids = [int(i) for i in rng.choice(b["ids"], 2,
                                                    replace=False)]
            req("probe", "POST", "/index/probe",
                {"path": ivf, "probe_ids": probe_ids, "k": 5},
                check=lambda p: probe_ok(p, probe_ids, live, 5))
            for name in ("dense", "sparse"):
                self.cdc.append(b[name])
                res = req("merge", "POST", "/scd2/merge",
                          {"dataset": f"b_{name}{c}", "user": "user_id",
                           "event": "event_type", "time": "ts",
                           "order": "event_id", "path": scd2},
                          check=lambda p: 1 <= p.get("touched", 0)
                          <= p.get("total", 0),
                          write=True)
                if res:
                    self.touched += res["touched"]
                    self.total += res["total"]
                who = sorted({int(u) for u in
                              b[name].column("user_id").to_pylist()})[:3]
                want = last_states(self.cdc, who)
                ts = str(b["end"][name] - np.timedelta64(1, "s"))
                req("snapshot", "POST", "/scd2/snapshot",
                    {"path": scd2, "ts": ts.replace("T", " "), "users": who},
                    check=lambda p, want=want: snapshot_ok(p, want))
            gone = [int(i) for i in rng.choice(sorted(live), 10,
                                               replace=False)]
            live -= set(gone)
            req("delete", "POST", "/index/delete",
                {"path": ivf, "ids": gone}, check=live_is(len(live)),
                write=True)
            req("compact", "POST", "/index/compact", {"path": ivf},
                check=live_is(len(live)), write=True)
            req("status", "GET", f"/index/status?path={ivf}",
                check=live_is(len(live)))
        self.n_cycles += 1
        return meter

    def store_state(self, st: dict) -> dict:
        after = {**tree_sizes(st["ivf"]), **tree_sizes(st["scd2"])}
        return {"live": len(self.live), "live_files": len(after),
                "live_bytes": sum(after.values())}

    def check_scd2(self, st: dict, expected) -> float:
        """The merged store must equal ``expected``, the rows of a full
        rebuild over the base events plus every merged batch. Returns
        the raw bytes of the dimension rows."""
        got, nbytes = scd2_rows(st["spark"], st["scd2"])
        self.check(got == expected, f"scd2 store != rebuild ({len(got)} "
                   f"vs {len(expected)} rows)")
        return nbytes


def probe_ok(p: dict, probe_ids, live, k: int) -> bool:
    nb = p.get("neighbors", {})
    for pid in probe_ids:
        rows = nb.get(str(pid), [])
        if len(rows) != k or any(r["id"] not in live for r in rows):
            return False
        cos = [r["cosine"] for r in rows]
        if cos != sorted(cos, reverse=True):
            return False
    return True


def last_states(cdc_tables, users) -> dict[int, str]:
    """Each user's latest event type over the merged CDC batches."""
    t = pa.concat_tables([x.select(["user_id", "ts", "event_id",
                                    "event_type"]) for x in cdc_tables])
    best: dict[int, tuple] = {}
    for u, ts, eid, et in zip(*(t.column(c).to_pylist()
                                for c in t.column_names)):
        if u in users and (u not in best or (ts, eid) > best[u][:2]):
            best[u] = (ts, eid, et)
    return {u: v[2] for u, v in best.items()}


def snapshot_ok(p: dict, want: dict[int, str]) -> bool:
    rows = p.get("rows", [])
    got = {r["user_id"]: r["state"] for r in rows}
    return len(rows) == len(want) and got == want


def latency_metrics(recs, api_spans, tracer) -> dict:
    """Per-layer timings over the given request records."""
    http_over, api_self = [], []
    for r in recs:
        span = api_spans.get(r["op"])
        if span is None:
            continue
        http_over.append((r["end"] - r["start"] - (span[1] - span[0])) * 1e3)
        ivs = tracer.ops.get(r["op"], {}).get("intervals", [])
        api_self.append((span[1] - span[0]) * 1e3
                        - covered_ms(ivs, span[0], span[1]))
    return {"http_over": http_over, "api_self": api_self}
