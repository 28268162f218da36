"""The ``batch_keys`` workload: one client runs registry keys.

The key set is every ``bench=True`` registry key that does not touch a
persisted store — ``bench.py``'s headline set minus q_sim_index_append,
q_scd2_merge and q_sim_topk_pq. Each pass runs the keys in sorted order
and drains each key's output to Python. The first pass is a warm-up
whose outputs are compared with DuckDB (oracled keys) or required to be
non-empty (rows-only keys); every timed pass must return the same rows
as the first.
"""

from __future__ import annotations

import time

from common import Meter
from correlationapi_spark.testing import compare_frames

STORE_KEYS = ("q_sim_index_append", "q_scd2_merge", "q_sim_topk_pq")


def key_set(registry) -> list[str]:
    return sorted(k for k, s in registry.items()
                  if s.bench and k not in STORE_KEYS)


class Batch:
    def __init__(self, args, fixture: str):
        from correlationapi_spark.registry import load_registry

        self.args = args
        self.fixture = fixture
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.registry = load_registry()
        self.keys = key_set(self.registry)

    def oracle_frames(self) -> dict:
        """DuckDB's answer for every oracled key, on one thread."""
        from correlationapi_spark.testing import duckdb_connect

        con = duckdb_connect(self.fixture)
        con.execute("SET threads TO 1")
        out = {k: con.execute(self.registry[k].oracle).df()
               for k in self.keys if self.registry[k].oracle is not None}
        con.close()
        return out

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; record ``what`` if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def setup_round(self, i: int, start_spark) -> dict:
        """A SparkSession and registration of the ten tables."""
        from correlationapi_spark.io import load_tables

        t0 = time.perf_counter()
        spark = start_spark()
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        tables = load_tables(spark, self.fixture)
        tables["region"].count()
        register_ms = (time.perf_counter() - t1) * 1e3
        return {"spark": spark, "session_s": session_s,
                "register_ms": register_ms}

    def run(self, spark, seconds: float, oracles) -> list[dict]:
        """A first pass that warms the JVM, not timed, then timed passes
        until ``seconds`` have passed (at least one). A cold pass takes
        1.5 to 2 times the CPU of the next one, most of it JIT
        compilation, so timing it would measure the JIT. ``oracles`` is
        a future of DuckDB's answers, computed during the first pass;
        each pass's answers are checked after it, outside the meters."""
        outs = self._pass(spark, "w", "warm")[1]
        oracles = oracles.result()
        first = {}
        for key, (pdf, err) in outs.items():
            spec = self.registry[key]
            if err is not None:
                self.check(False, f"{key}: {err}")
            elif spec.oracle is None:
                first[key] = pdf
                self.check(len(pdf) > 0, f"{key}: rows-only: 0 rows")
            else:
                first[key] = pdf
                res = compare_frames(key, pdf, oracles[key])
                self.check(res.ok, f"{key}: {res.detail}")
        passes: list[dict] = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            meters, outs = self._pass(spark, f"p{len(passes)}", "key")
            for key, (pdf, err) in outs.items():
                self.check(err is None and key in first
                           and compare_frames(key, pdf, first[key]).ok,
                           f"{key}: {err or 'rows differ from the first pass'}")
            passes.append(meters)
        return passes

    def _pass(self, spark, tag: str, kind: str) -> tuple[dict, dict]:
        """Every key once in sorted order (a fixed order: a cold key
        pays for JIT and reader set-up that later keys reuse). Returns
        each key's :class:`common.Meter` and its (rows, error)."""
        meters, outs = {}, {}
        for key in self.keys:
            op = f"{tag}-{key}"
            if self.tracer:
                self.tracer.begin(op)
            t0 = time.time()
            with Meter() as m:
                try:
                    pdf = self.registry[key].fn(spark, self.fixture).toPandas()
                    err = None
                except Exception as e:  # noqa: BLE001 - a failed key is counted
                    pdf, err = None, f"{type(e).__name__}: {str(e)[:200]}"
            if self.tracer:
                self.tracer.end()
                self.tracer.span("key.run", op, t0, t0 + m.wall, key=key)
                self.tracer.harvest(op, kind, "key.run")
                self.tracer.harvest_plan(op)
            meters[key], outs[key] = m, (pdf, err)
        return meters, outs
