#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload service --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with per-operation Spark attribution and prints the per-layer
metrics (see perfbench/README.md). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the environment stamp. Full results (and the trace spans) are written
under ``.perfbench_results/`` in the checkout. Any wrong answer makes
the exit code 1; a checkout without the engine exits 2 with no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("service", "batch_keys")
SETUP_ROUNDS = 3

API_METHODS = (
    "list_datasets", "variables", "correlate", "correlation_matrix",
    "distribution", "lagged_correlation", "rolling_correlation", "similar",
    "dedup", "register_dataset", "index_append", "index_probe",
    "index_delete", "index_compact", "index_status", "scd2_merge",
    "scd2_snapshot",
)
SPARK_COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "job_ms",
    "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
BATCH_KEYS = (
    "q_agg_corr", "q_agg_group", "q_attribution_multi", "q_corr_matrix",
    "q_corr_matrix_gram", "q_cpu_fold", "q_dedup_exact", "q_dedup_keep_best",
    "q_dedup_ngram", "q_flagship", "q_join_multi", "q_pack_bpeish",
    "q_sim_topk", "q_stream_tumbling", "q_text_tfidf", "q_tpch_q1",
    "q_tpch_q3", "q_tpch_q8", "q_win_frame_rows",
)
STORE_OPS = ("append", "merge", "compact", "probe", "snapshot", "delete")

END_TO_END = {
    "setup_s": "s", "read_cpu_ms": "ms", "batch_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER: dict[str, str] = {
    "http_api.overhead_ms": "ms", "http_api.response_bytes": "B",
    "http_api.non2xx": "count", "api.self_ms": "ms",
    **{f"api.ms.{m}": "ms" for m in API_METHODS},
    **{f"spark.{c}": ("ms" if c.endswith("_ms") else
                      "B" if c.endswith("_bytes") else "count")
       for c in SPARK_COUNTERS},
    "spark.jobs_unattributed": "count",
    **{f"key.{k}.{m}": u for k in BATCH_KEYS
       for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "plan.python_eval_ms": "ms", "plan.broadcast_build_ms": "ms",
    "plan.exchanges": "count",
    **{f"store.{o}_ms": "ms" for o in STORE_OPS},
    "store.jobs_per_write": "count", "store.files_written": "count",
    "store.bytes_written": "B", "store.live_files": "count",
    "store.live_bytes": "B", "store.build_s": "s",
    "scd2.touched_ratio": "ratio",
    "write_p50_ms": "ms", "write_tail_ms": "ms", "write_amp": "ratio",
    "space_amp": "ratio", "read_p50_ms": "ms", "read_tail_ms": "ms",
    "read_tail_q": "ratio", "read_rps": "1/s", "batch_wall_s": "s",
    "error_rate": "ratio", "io.register_ms": "ms", "session.start_s": "s",
    "trace.self_ms": "ms", "trace.overhead_read_cpu_ms": "ms",
    "trace.overhead_batch_cpu_s": "s", "trace.overhead_read_p50_ms": "ms",
    "trace.baseline_found": "count",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Session:
    """Starts and stops the benchmark's SparkSessions and, at the end,
    the JVM behind them."""

    def __init__(self, fixture_ready):
        self.spark = None
        self.proc = None
        self.fixture_ready = fixture_ready

    def start(self):
        """The first call launches the JVM and the SparkContext; each
        later call opens a fresh SparkSession on that context, with its
        own temp views and its own engine-side table cache."""
        if self.spark is None:
            from pyspark import SparkContext

            from correlationapi_spark.session import get_spark

            self.spark = get_spark("perfbench", cpus=common.cpus())
            common.quiet(self.spark)
            self.proc = getattr(SparkContext._gateway, "proc", None)
            self.fixture_ready.result()  # written while the JVM started
            return self.spark
        return self.spark.newSession()

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        if self.proc is not None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def cleanup(work: str) -> None:
    """Remove this run's scratch directory (and its parent once empty)."""
    os.chdir(common.ROOT)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def setup_s(rounds) -> float:
    """JVM and SparkContext launch (first round only) plus the median
    registration time over the rounds."""
    return rounds[0]["session_s"] + common.median(
        [r["register_ms"] / 1e3 for r in rounds])


def results_dir() -> str:
    d = os.path.join(common.ROOT, ".perfbench_results")
    os.makedirs(d, exist_ok=True)
    return d


def run_service(args, work, fixture, sess, out):
    import numpy as np

    import service as sv
    from correlationapi_spark.api import CorrelationAPI

    w = sv.Service(args, work, fixture)
    phases = {}
    clock = common.Clock()
    rounds = [w.setup_round(i, sess.start) for i in range(SETUP_ROUNDS)]
    st = rounds[-1]
    phases["setup"] = clock.s()
    jvm = common.jvm_pid(st["spark"])
    if args.trace:
        from tracer import Tracer

        w.tracer = Tracer(st["spark"])
    read_srv = sv.make(st["api"], w.tracer)
    # the writer's batches are registered on their own CorrelationAPI, so
    # the read server's dataset list stays what the readers expect
    write_srv = sv.make(CorrelationAPI(st["spark"]), w.tracer, token=sv.TOKEN)
    threads = [sv.serve(read_srv), sv.serve(write_srv)]
    read_port = read_srv.server_address[1]
    write_port = write_srv.server_address[1]
    try:
        deck = sv.read_deck(np.random.default_rng([args.seed, 1]))
        w.batches(0)
        # Not timed: the base stores are built while the read server
        # answers the goldens (one request per route, four at a time,
        # which also warms each route) and the full SCD2 rebuild that
        # the final check compares with is made. Then the reader and the
        # writer are timed one after the other, each alone, so each
        # meter holds only its own work.
        with ThreadPoolExecutor(max_workers=2) as pool:
            rebuilt = pool.submit(w.rebuild, st["spark"], 1)
            goldens = pool.submit(w.goldens, read_port, deck)
            build_s = w.build_stores(st)
            expect = goldens.result()
            expected_scd2 = rebuilt.result()
        phases["build"] = clock.s() - phases["setup"]
        if w.tracer:
            # the base-store builds run under no operation
            w.tracer.start_window()
        t0 = clock.s()
        lat = w.read_phase(read_port, deck, expect, args.seconds / 2)
        phases["read"] = clock.s() - t0
        t0 = clock.s()
        cycles = []
        while not cycles or clock.s() - t0 < args.seconds / 2:
            cycles.append(w.write_cycle(write_port, st))
        phases["write"] = clock.s() - t0
        unattributed = w.tracer.unattributed_jobs() if w.tracer else 0
        store = w.store_state(st)
        t0 = clock.s()
        if len(cycles) != 1:
            expected_scd2 = w.rebuild(st["spark"], len(cycles))
        dim_bytes = w.check_scd2(st, expected_scd2)
        phases["check"] = clock.s() - t0
    finally:
        for s in (read_srv, write_srv):
            s.shutdown()
            s.server_close()
        for t in threads:
            t.join()
    read_ms = [r["wall"] * 1e3 for r in lat]
    writes = [o for o in w.ops if o["write"]]
    write_ms = [(o["end"] - o["start"]) * 1e3 for o in writes]
    q, read_tail = common.tail(read_ms)
    e2e = {
        "setup_s": setup_s(rounds) + build_s,
        "read_cpu_ms": 1e3 * sum(r["cpu"] for r in lat) / len(lat),
        "batch_cpu_s": common.median([m.cpu for m in cycles]),
        "peak_rss_mb": common.peak_rss_mb(jvm),
    }
    ivf_raw = store["live"] * (8 + 4 * 64)
    layer = {
        "read_p50_ms": common.median(read_ms),
        "read_tail_ms": read_tail, "read_tail_q": q,
        # one closed-loop client: its requests over its busy time
        "read_rps": len(lat) / sum(r["wall"] for r in lat),
        "batch_wall_s": common.median([m.wall for m in cycles]),
        "write_p50_ms": common.median(write_ms),
        "write_tail_ms": common.tail(write_ms)[1],
        "write_amp": w.bytes_written / max(1, w.input_bytes),
        "space_amp": store["live_bytes"] / max(1, ivf_raw + dim_bytes),
        "store.files_written": w.files_written,
        "store.bytes_written": w.bytes_written,
        "store.live_files": store["live_files"],
        "store.live_bytes": store["live_bytes"],
        "store.build_s": build_s,
        "scd2.touched_ratio": w.touched / max(1, w.total),
        "http_api.response_bytes": common.median([r["bytes"] for r in lat]),
        "http_api.non2xx": sum(1 for r in lat + w.ops
                               if not 200 <= r["status"] < 300),
        "io.register_ms": common.median([r["register_ms"] for r in rounds]),
        "session.start_s": rounds[0]["session_s"],
    }
    for o in STORE_OPS:
        layer[f"store.{o}_ms"] = common.median(
            [(x["end"] - x["start"]) * 1e3 for x in w.ops
             if x["kind"] == o])
    if w.tracer:
        tr = w.tracer
        timed = {r["op"] for r in lat + w.ops}  # not the goldens
        api_spans = {}
        by_method: dict[str, list] = {}
        for s in tr.spans:
            if s["name"].startswith("api.") and s["op"] in timed:
                api_spans[s["op"]] = (s["start"], s["end"])
                by_method.setdefault(s["name"][4:], []).append(
                    (s["end"] - s["start"]) * 1e3)
        lm = sv.latency_metrics(lat, api_spans, tr)
        layer["http_api.overhead_ms"] = common.median(lm["http_over"])
        layer["api.self_ms"] = common.median(lm["api_self"])
        for m, v in by_method.items():
            layer[f"api.ms.{m}"] = common.median(v)
        reads = [tr.ops[r["op"]] for r in lat if r["op"] in tr.ops]
        for c in SPARK_COUNTERS:
            layer[f"spark.{c}"] = float(np.mean([o.get(c, 0) for o in reads]))
        wops = [tr.ops[o["op"]] for o in writes if o["op"] in tr.ops]
        layer["store.jobs_per_write"] = float(
            np.mean([o.get("jobs", 0) for o in wops])) if wops else 0.0
        layer["spark.jobs_unattributed"] = unattributed
        layer["trace.self_ms"] = tr.self_s * 1e3 / max(1, len(tr.ops))
        tr.dump(os.path.join(results_dir(),
                             f"spans-service-s{args.seed}.jsonl"))
    by_kind: dict[str, list] = {}
    for r in lat:
        by_kind.setdefault(r["kind"], []).append((r["end"] - r["start"]) * 1e3)
    out.update(e2e=e2e, layer=layer, w=w, phases=phases,
               rounds=[r["session_s"] + r["register_ms"] / 1e3
                       for r in rounds],
               detail={"cycles": len(cycles), "reads": len(lat),
                       "read_ms_by_kind": {
                           k: round(common.median(v), 1)
                           for k, v in by_kind.items()}})


def run_batch(args, work, fixture, sess, out):
    import numpy as np

    import batch as bt

    w = bt.Batch(args, fixture)
    clock = common.Clock()
    rounds = [w.setup_round(i, sess.start) for i in range(SETUP_ROUNDS)]
    spark = rounds[-1]["spark"]
    phases = {"setup": clock.s()}
    jvm = common.jvm_pid(spark)
    if args.trace:
        from tracer import Tracer

        w.tracer = Tracer(spark)
        w.tracer.start_window()
    with ThreadPoolExecutor(max_workers=1) as pool:
        passes = w.run(spark, args.seconds, pool.submit(w.oracle_frames))
    phases["passes"] = clock.s() - phases["setup"]
    per_key = [m for p in passes for m in p.values()]
    e2e = {
        "setup_s": setup_s(rounds),
        "read_cpu_ms": 1e3 * sum(m.cpu for m in per_key) / len(per_key),
        "batch_cpu_s": common.median(
            [sum(m.cpu for m in p.values()) for p in passes]),
        "peak_rss_mb": common.peak_rss_mb(jvm),
    }
    q, t = common.tail([m.wall * 1e3 for m in per_key])
    layer = {
        "read_p50_ms": common.median([m.wall * 1e3 for m in per_key]),
        "read_tail_ms": t, "read_tail_q": q,
        "read_rps": len(per_key) / sum(m.wall for m in per_key),
        "batch_wall_s": common.median(
            [sum(m.wall for m in p.values()) for p in passes]),
        "io.register_ms": common.median([r["register_ms"] for r in rounds]),
        "session.start_s": rounds[0]["session_s"],
    }
    for k in w.keys:
        layer[f"key.{k}.wall_s"] = common.median([p[k].wall for p in passes])
    if w.tracer:
        tr = w.tracer
        ops = [o for o in tr.ops.values() if o.get("kind") == "key"]
        for c in SPARK_COUNTERS:
            layer[f"spark.{c}"] = float(np.mean([o.get(c, 0) for o in ops]))
        for k in w.keys:
            layer[f"key.{k}.jobs"] = tr.ops.get(f"p0-{k}", {}).get("jobs", 0)
        for m in ("python_eval_ms", "broadcast_build_ms", "exchanges"):
            layer[f"plan.{m}"] = sum(
                o.get(f"plan.{m}", 0) for o in ops) / len(passes)
        layer["spark.jobs_unattributed"] = tr.unattributed_jobs()
        layer["trace.self_ms"] = tr.self_s * 1e3 / max(1, len(tr.ops))
        tr.dump(os.path.join(results_dir(),
                             f"spans-batch_keys-s{args.seed}.jsonl"))
    out.update(e2e=e2e, layer=layer, w=w, phases=phases,
               rounds=[r["session_s"] + r["register_ms"] / 1e3
                       for r in rounds],
               detail={"passes": len(passes)})


def main(argv=None) -> int:
    args = parse_args(argv)
    load_before = os.getloadavg()[0]
    work = os.path.join(common.ROOT, ".perfbench_work", f"run-{os.getpid()}")
    common.prepare_process(work)
    try:
        import pyspark

        import correlationapi_spark.api  # noqa: F401 - engine present?
        import correlationapi_spark.http_api  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable: {e}", file=sys.stderr)
        cleanup(work)
        return 2

    import datagen

    fixture = os.path.join(work, f"sf{common.SF}")
    out: dict = {}
    def write_fixture() -> float:
        t0 = time.perf_counter()
        datagen.write_fixture(fixture, args.seed, common.SF)
        return time.perf_counter() - t0

    with ThreadPoolExecutor(max_workers=1) as pool:
        ready = pool.submit(write_fixture)
        sess = Session(ready)
        try:
            (run_service if args.workload == "service" else run_batch)(
                args, work, fixture, sess, out)
        finally:
            t0 = time.perf_counter()
            sess.close()
            cleanup(work)
            out.setdefault("phases", {})["close"] = time.perf_counter() - t0
    w = out["w"]
    e2e, layer = out["e2e"], out["layer"]
    layer["error_rate"] = w.failed / max(1, w.attempted)

    base_path = os.path.join(
        results_dir(), f"{args.workload}-s{args.seed}-t0.json")
    if args.trace:
        base = None
        if os.path.exists(base_path):
            with open(base_path) as f:
                base = json.load(f)
        layer["trace.baseline_found"] = int(base is not None)
        for m in ("read_cpu_ms", "batch_cpu_s"):
            layer[f"trace.overhead_{m}"] = e2e[m] - base["e2e"][m] if base else 0.0
        layer["trace.overhead_read_p50_ms"] = (
            layer["read_p50_ms"] - base["layer"]["read_p50_ms"] if base else 0.0)
    names = PER_LAYER if args.trace else END_TO_END
    values = {**e2e, **layer} if args.trace else e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
               for n, u in names.items()}
    stamp = {
        "workload": args.workload, "seed": args.seed, "sf": common.SF,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "setup_rounds_s": [round(r, 3) for r in out["rounds"]],
        "phases_s": {k: round(v, 3) for k, v in
                     {"datagen": ready.result(), **out["phases"]}.items()},
        "failures": w.failures,
    }
    with open(os.path.join(
            results_dir(),
            f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "e2e": e2e, "layer": layer,
                   "detail": out.get("detail", {})}, f, indent=1)
    result = {"correct": w.failed == 0, "attempted": w.attempted,
              "failed": w.failed, "metrics": metrics}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0 if w.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
