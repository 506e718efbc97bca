"""The measured process: one closed-loop client on one Spark session. It sets
up (session, catalog, warm-up pass — which publishes the serve artifacts),
then runs timed passes over the workload's queries, one query at a time,
each started after the previous result is collected. Every execution is
checked against its DuckDB digest. With --trace 1 the layer probes are
installed and spans are kept; otherwise nothing is wrapped.

Started by run.py as a fresh process; writes its record as JSON to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS, pass_orders  # noqa: E402

MAX_PASSES = 500
#: timed passes every run makes, however short --seconds is; the passes
#: after these run until --seconds have passed. BENCHMARK.json's
#: run_seconds is shorter than any two passes, so every run times the same
#: count: each pass is faster than the one before while the JIT warms up,
#: and runs with different counts would not be comparable
MIN_PASSES = 2


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, spark, registry, dirs, oracles, digest, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.dirs = dirs
        self.oracles = oracles
        self.digest = digest
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._group = 0

    def _set_group(self, phase: str, name: str) -> str:
        self._group += 1
        gid = f"perfbench-{self._group}-{phase}"
        self.sc.setJobGroup(gid, f"{name}:{phase}")
        return gid

    def run_query(self, name: str, dataset: str) -> dict:
        """Execute one query: construct (``Query.fn``), then action (collect).
        The digest check and cache release happen after the clock stops."""
        q = self.registry[name]
        sf_dir = self.dirs[dataset]
        tr = self.tracer
        key = f"{name}@{dataset}"
        rec: dict = {"name": key}
        rows = cols = df = None
        error = None
        if tr is not None:
            persisted0 = self.sc._jsc.getPersistentRDDs().size()
            before = tr.snapshot()
            qspan = tr.open("query", query=name)
        t0 = time.perf_counter()
        try:
            if tr is not None:
                tr.phase = "construct"
                g_construct = self._set_group("construct", name)
                sid = tr.open("construct")
            df = q.fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            if tr is not None:
                tr.close(sid)
                tr.phase = "action"
                g_action = self._set_group("action", name)
                sid = tr.open("action")
            rows = df.collect()
            t2 = time.perf_counter()
            if tr is not None:
                tr.close(sid)
            cols = list(df.columns)
        except Exception as exc:  # noqa: BLE001 — a failed execution is counted, not fatal
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc()
            t1 = t2 = time.perf_counter()
            if tr is not None:
                while tr._stack and tr._stack[-1] != qspan:
                    tr.close(tr._stack[-1])
        if tr is not None:
            tr.phase = ""
            tr.close(qspan)
        rec.update(construct_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)

        self.attempted += 1
        ok = error is None and self.check(key, cols, rows)
        if not ok:
            self.failed += 1
            self.failures.append(f"{key}: {error or 'digest mismatch'}")
        rec["ok"] = ok
        rec["rows"] = len(rows) if rows is not None else 0

        if tr is not None and error is None:
            from probes import job_counts, plan_metrics

            rec["construct_jobs"] = job_counts(self.sc, g_construct)[0]
            rec["action_jobs"], rec["action_stages"], rec["action_tasks"] = job_counts(self.sc, g_action)
            rec["sql"] = dict(plan_metrics(df))
        self.sc.setJobGroup("perfbench-harness", "harness")
        # queries are independent: drop what a query left cached and let the
        # JVM collect, so the ContextCleaner frees shuffle/broadcast state
        # before the next query (the repo's bench.py does the same)
        self.spark.catalog.clearCache()
        self.sc._jvm.System.gc()
        if tr is not None:
            after = tr.snapshot()
            rec["persisted_left"] = self.sc._jsc.getPersistentRDDs().size() - persisted0
            rec["layers"] = {
                "calls": dict(Counter(after["calls"]) - Counter(before["calls"])),
                "busy": {k: v - before["busy"].get(k, 0.0) for k, v in after["busy"].items()},
                "serve_reused": after["serve_reused"] - before["serve_reused"],
                "collects": after["collects"] - before["collects"],
                "collect_rows": after["collect_rows"] - before["collect_rows"],
            }
        return rec

    def check(self, key: str, cols, rows) -> bool:
        want = self.oracles[key]
        got_cols, got = self.digest(cols, [tuple(r) for r in rows])
        return got_cols == want["cols"] and got == want["digest"]

    def run_pass(self, order: list[str], label: str) -> dict:
        sid = self.tracer.open("pass", label=label) if self.tracer else None
        recs = [self.run_query(name, dataset) for name, dataset in order]
        if self.tracer:
            self.tracer.close(sid)
        return {"label": label, "pass_s": sum(r["latency_s"] for r in recs), "queries": recs}


def layer_metrics(passes: list[dict], setup: dict) -> dict:
    """Per-layer metrics: per-pass sums, median over the timed passes."""

    def per_pass(fn):
        return median([sum(fn(r) for r in p["queries"]) for p in passes])

    def calls(layer):
        return per_pass(lambda r: r.get("layers", {}).get("calls", {}).get(layer, 0))

    def busy(layer):
        return per_pass(lambda r: r.get("layers", {}).get("busy", {}).get(layer, 0.0))

    def sql(key):
        return per_pass(lambda r: r.get("sql", {}).get(key, 0))

    pass_s = median([p["pass_s"] for p in passes])
    action_s = per_pass(lambda r: r["action_s"])

    def share(layer):
        return 100.0 * busy(layer) / pass_s if pass_s else 0.0

    def per_action_s(key):
        return sql(key) / action_s if action_s else 0.0

    serve_calls = calls("artifact.serve")
    reused = per_pass(lambda r: r.get("layers", {}).get("serve_reused", 0))
    m = {
        "session.get_session_s": (setup["get_session_s"], "s"),
        "registry.load_all_s": (setup["load_all_s"], "s"),
        "plans.construct_s": (per_pass(lambda r: r["construct_s"]), "s"),
        "plans.construct_jobs": (per_pass(lambda r: r.get("construct_jobs", 0)), "count"),
        "plans.driver_collects": (per_pass(lambda r: r.get("layers", {}).get("collects", 0)), "count"),
        "plans.driver_rows": (per_pass(lambda r: r.get("layers", {}).get("collect_rows", 0)), "count"),
        "action.execute_s": (action_s, "s"),
        "action.jobs": (per_pass(lambda r: r.get("action_jobs", 0)), "count"),
        "action.stages": (per_pass(lambda r: r.get("action_stages", 0)), "count"),
        "action.tasks": (per_pass(lambda r: r.get("action_tasks", 0)), "count"),
        "action.scan_rows": (sql("scan_rows"), "count"),
        "action.scan_bytes": (sql("scan_bytes"), "bytes"),
        "action.shuffle_write_bytes": (sql("shuffle_write_bytes"), "bytes"),
        "action.spill_bytes": (sql("spill_bytes"), "bytes"),
        "action.codegen_ms_per_s": (per_action_s("codegen_pipeline_ms"), "ms/s"),
        "action.python_init_ms_per_s": (per_action_s("python_init_ms"), "ms/s"),
        "action.python_total_ms_per_s": (per_action_s("python_total_ms"), "ms/s"),
        "result.rows": (per_pass(lambda r: r["rows"]), "count"),
        "io.load_calls": (calls("io.load"), "count"),
        "io.load_s": (busy("io.load"), "s"),
        "similarity.calls": (calls("similarity"), "count"),
        "similarity.time_share": (share("similarity"), "%"),
        "artifact.setup_publish_calls": (setup["publish_calls"], "count"),
        "artifact.publish_calls": (calls("artifact.publish"), "count"),
        "artifact.publish_time_share": (share("artifact.publish"), "%"),
        "artifact.serve_calls": (serve_calls, "count"),
        "artifact.serve_time_share": (share("artifact.serve"), "%"),
        "artifact.reuse_ratio": (reused / serve_calls if serve_calls else 0.0, "ratio"),
        "kmeans.fit_calls": (calls("kmeans.fit"), "count"),
        "kmeans.fit_time_share": (share("kmeans.fit"), "%"),
        "graph.calls": (calls("graph"), "count"),
        "graph.time_share": (share("graph"), "%"),
        "dedup.calls": (calls("dedup"), "count"),
        "dedup.time_share": (share("dedup"), "%"),
        "pipelines.calls": (calls("pipelines"), "count"),
        "pipelines.time_share": (share("pipelines"), "%"),
        "storage.persisted_rdds_left": (per_pass(lambda r: r.get("persisted_left", 0)), "count"),
        "trace.pass_s": (pass_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spec", required=True, help="JSON: data dirs and oracle digests")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.join(args.root, "scripts"))
    wl = WORKLOADS[args.workload]
    with open(args.spec) as fh:
        spec = json.load(fh)

    tracer = originals = None
    if args.trace:
        from probes import Tracer, install, rebind

        tracer = Tracer()
        run_span = tracer.open("run", workload=wl.name, seed=args.seed)
        setup_span = tracer.open("setup")
        originals = install(tracer)

    from oracle_check import digest

    from nocouncil_etl_spark.registry import load_all
    from nocouncil_etl_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench")
    get_session_s = time.perf_counter() - t
    t = time.perf_counter()
    registry = load_all()
    load_all_s = time.perf_counter() - t
    if originals is not None:
        rebind(originals)

    runner = Runner(spark, registry, spec["dirs"], spec["oracles"], digest, tracer)
    orders = pass_orders(wl.queries, args.seed, MAX_PASSES)
    warmup = runner.run_pass(list(wl.queries), "warmup")
    setup_done = time.monotonic()
    setup = {
        "get_session_s": get_session_s,
        "load_all_s": load_all_s,
        "publish_calls": sum(
            r.get("layers", {}).get("calls", {}).get("artifact.publish", 0) for r in warmup["queries"]
        ),
    }
    if tracer:
        tracer.close(setup_span)

    passes = []
    deadline = time.perf_counter() + args.seconds
    for i, order in enumerate(orders, start=1):
        passes.append(runner.run_pass(order, f"pass{i}"))
        if len(passes) >= MIN_PASSES and time.perf_counter() >= deadline:
            break

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "setup_done": setup_done,
        "setup": setup,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "failures": runner.failures,
        "warmup": warmup,
        "passes": passes,
    }
    if tracer:
        tracer.close(run_span)
        record["layer_metrics"] = layer_metrics(passes, setup)
        record["self_times"] = tracer.self_times()
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump(tracer.spans, fh)
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
