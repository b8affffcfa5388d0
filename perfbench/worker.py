"""Benchmark worker: set-up, passes, output checks and metrics for one
workload, in one Spark driver process.

``run.py`` starts it with the repository root as working directory, so
the engine package imports on the driver and on Python workers alike.
It writes its result as JSON to ``--out``; spans of a traced run go to
``--spans``.

Timeline of a run:

1. seven set-ups: the first from process start (JVM launch), then six
   session re-creations on the running JVM after stopping the previous
   session; each is ``get_spark()`` plus a warm-up probe (count the
   workload table);
2. pass 0, untimed: every call once, outputs collected and checked;
   then a wait until the JIT compiler is idle;
3. timed passes until ``--seconds`` is used, at least one. With
   ``--trace 1`` there are at least three, alternating untraced,
   traced, untraced: per-layer numbers come from the traced passes,
   throughputs from the untraced ones, and the difference of their
   median pass times is the tracing overhead (the untraced passes on
   both sides cancel a warm-up trend).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import platform
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from datetime import datetime, timezone

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import checks  # noqa: E402
from workloads import (  # noqa: E402
    GROUPS,
    MODULES,
    PKG,
    STREAM_METRICS,
    STREAM_OPS,
    WORKLOADS,
    per_layer_metrics,
)

SETUPS = 7


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


def wrap_module_calls(tracer: Tracer, engine_modules: list, name: str, layer: str, totals: dict):
    """Replace every engine module's binding of function ``name`` with a
    wrapper that records a span and sums its time under ``layer``."""
    orig = getattr(sys.modules[f"{PKG}.{layer}"], name)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        if not tracer.on:
            return orig(*args, **kwargs)
        t0 = time.perf_counter()
        with tracer.span(f"{layer}.{name}"):
            try:
                return orig(*args, **kwargs)
            finally:
                totals[f"{layer}.{name}_s"] = totals.get(f"{layer}.{name}_s", 0.0) + time.perf_counter() - t0

    for mod in engine_modules:
        if getattr(mod, name, None) is orig:
            setattr(mod, name, traced)


def make_listener(spark):
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: list[str] = []
            self.progress: dict[str, dict[int, dict]] = {}
            self.terminated: set[str] = set()
            self.cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self.cv:
                self.started.append(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "timestamp": p.timestamp,
                "durationMs": dict(p.durationMs),
                "numInputRows": p.numInputRows,
                "state": [
                    (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs, s.numRowsDroppedByWatermark)
                    for s in p.stateOperators
                ],
            }
            with self.cv:
                self.progress.setdefault(str(p.runId), {})[p.batchId] = rec

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.cv:
                self.terminated.add(str(event.runId))
                self.cv.notify_all()

        def wait(self, run_ids: list[str], timeout: float = 15.0) -> list[dict]:
            """Wait for the runs to terminate; return their batches in order."""
            with self.cv:
                self.cv.wait_for(lambda: set(run_ids) <= self.terminated, timeout)
                return [b for r in run_ids for _, b in sorted(self.progress.get(r, {}).items())]

    listener = BatchListener()
    spark.streams.addListener(listener)
    return listener


def job_counts(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under the given job groups."""
    st = sc.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), len(stages), tasks


def stream_metrics(batches: list[dict], expected_rows: int, out_rows: int) -> dict[str, float]:
    """Per-call micro-batch numbers from the listener's progress events."""
    def dur(k: str) -> float:
        return float(sum(b["durationMs"].get(k, 0) for b in batches))

    data = [b for b in batches if b["numInputRows"] > 0]
    nodata = [b for b in batches if b["numInputRows"] == 0]
    return {
        "addBatch_ms": dur("addBatch"),
        "queryPlanning_ms": dur("queryPlanning"),
        "walCommit_ms": dur("walCommit"),
        "commitOffsets_ms": dur("commitOffsets"),
        "data_batch_ms": float(sum(b["durationMs"].get("triggerExecution", 0) for b in data)),
        "nodata_batch_ms": float(sum(b["durationMs"].get("triggerExecution", 0) for b in nodata)),
        "micro_batches": float(len(batches)),
        "input_rows": float(sum(b["numInputRows"] for b in batches)),
        "output_rows": float(out_rows),
        "state_rows_total": float(max((sum(s[0] for s in b["state"]) for b in batches), default=0)),
        "state_memory_bytes": float(max((sum(s[1] for s in b["state"]) for b in batches), default=0)),
        "state_commit_ms": float(sum(s[2] for b in batches for s in b["state"])),
        "rows_dropped_by_watermark": float(sum(s[3] for b in batches for s in b["state"])),
        "kept_ratio": out_rows / expected_rows if expected_rows else 0.0,
    }


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).astimezone(timezone.utc).timestamp()


def settle_jit(spark, quiet_s: float = 1.0, limit_s: float = 8.0) -> float:
    """Wait until the JVM's JIT compiler has been idle for ``quiet_s``
    (at most ``limit_s``), so compilations queued by the cold pass do
    not compete with the timed passes for cores. Returns the wait."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last, quiet_since = bean.getTotalCompilationTime(), t0
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.25)
        now = bean.getTotalCompilationTime()
        if now != last:
            last, quiet_since = now, time.perf_counter()
        elif time.perf_counter() - quiet_since >= quiet_s:
            break
    return time.perf_counter() - t0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def build_checkers(w, data_dir: str, truth: dict, oracles: dict):
    """query name -> callable(cols, rows) -> None | reason."""
    import pyarrow.parquet as pq

    con = duckdb.connect()
    path = os.path.join(data_dir, f"{w.table}.parquet")
    con.execute(f"CREATE VIEW {w.table} AS SELECT * FROM read_parquet('{path}')")
    tbl = pq.read_table(path)
    out = {q: functools.partial(checks.check_oracle, con, oracles[q]) for q in w.queries if q in oracles}
    if w.table == "events":
        bkeys = set(zip(*(tbl.column(c).to_pylist() for c in ("user_id", "event_type", "value"))))
        kept = set(truth["ttl_kept_ids"])
        out["dedup_stream_watermark"] = functools.partial(checks.check_watermark, business_keys=bkeys)
        out["dedup_stream_custom_ttl"] = functools.partial(checks.check_ttl, kept_ids=kept)
        out["dedup_batch_custom_ttl"] = functools.partial(checks.check_ttl, kept_ids=kept)
    else:
        ids = set(tbl.column("doc_id").to_pylist())
        copy_of = {int(k): v for k, v in truth["copy_of"].items()}
        out["dedup_text_minhash"] = functools.partial(checks.check_minhash, input_ids=ids, copy_of=copy_of)
        out["dedup_clusters_cc"] = functools.partial(checks.check_clusters, input_ids=ids, copy_of=copy_of)
    missing = set(w.queries) - set(out)
    if missing:
        raise RuntimeError(f"no output check for {sorted(missing)}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    w = WORKLOADS[args.workload]
    with open(os.path.join(args.data, "truth.json")) as fh:
        truth = json.load(fh)
    tracer = Tracer()
    tracer.on = bool(args.trace)
    totals: dict[str, float] = {}
    per_layer: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------
    setups, get_spark_s, warmup_s = [], [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.time()
        with tracer.span("session.setup", index=i):
            with tracer.span("session.get_spark"):
                if i == 0:
                    import minefields_kafka_streams_deduplication_spark as engine
                t1 = time.time()
                spark = engine.get_spark("perfbench")
                t2 = time.time()
            with tracer.span("session.warmup"):
                engine.load_table(spark, args.data, w.table).count()
            t3 = time.time()
        get_spark_s.append(t2 - t1)
        warmup_s.append(t3 - t2)
        setups.append(t3 - (args.spawn_time if i == 0 else t0))
    if tracer.on:
        tracer.spans[0]["start"] = args.spawn_time
    sc = spark.sparkContext
    per_layer["session.cold_start_s"] = setups[0]
    per_layer["session.get_spark_s"] = median(get_spark_s)
    per_layer["session.warmup_s"] = median(warmup_s)

    queries = engine.get_queries()
    engine_modules = [m for n, m in sys.modules.items() if n.startswith(PKG) and m is not None]
    module_of = {q: queries[q].__module__[len(PKG) + 1 :] for q in w.queries}
    if args.trace:
        wrap_module_calls(tracer, engine_modules, "load_table", "catalog", totals)
        wrap_module_calls(tracer, engine_modules, "read_events_stream", "streaming.source", totals)
    checkers = build_checkers(w, args.data, truth, engine.get_oracles())
    expected = truth["expected_rows"]
    listener = make_listener(spark) if args.trace else None

    attempted = failed = 0
    correct = True
    out_rows: dict[str, int] = {}
    pass0: dict[str, tuple] = {}

    def call(q: str, p: int, check: bool, traced: bool) -> dict | None:
        """One query call; returns its timings and counts, None if it raised."""
        nonlocal attempted, failed, correct
        attempted += 1
        group = f"perfbench-{p}-{q}"
        sc.setJobGroup(group, q)
        n_started = len(listener.started) if traced else 0
        try:
            with tracer.span("call", query=q, pass_index=p) as sid:
                t0 = time.perf_counter()
                with tracer.span("build"):
                    df = queries[q](spark, args.data)
                t1 = time.perf_counter()
                with tracer.span("exec"):
                    if check:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if check:
                    with tracer.span("check"):
                        out_rows[q] = len(rows)
                        reason = checkers[q](df.columns, rows)
                    pass0[q] = (round(t2 - t0, 3), round(time.perf_counter() - t2, 3))
                    if reason:
                        print(f"CHECK FAILED {q}: {reason}", file=sys.stderr, flush=True)
                        failed += 1
                        correct = False
        except Exception:
            traceback.print_exc()
            failed += 1
            correct = False
            return None
        finally:
            spark.catalog.clearCache()
        rec = {"build_s": t1 - t0, "exec_s": t2 - t1, "call_s": t2 - t0}
        if traced:
            run_ids = list(dict.fromkeys(listener.started[n_started:]))
            batches = listener.wait(run_ids)
            rec["jobs"], rec["stages"], rec["tasks"] = job_counts(sc, [group, *run_ids])
            if q in STREAM_OPS:
                rec["stream"] = stream_metrics(batches, expected[q], out_rows.get(q, 0))
            if tracer.on:
                for b in batches:
                    start = _ts(b["timestamp"])
                    tracer.add(
                        "micro_batch",
                        start,
                        start + b["durationMs"].get("triggerExecution", 0) / 1000.0,
                        sid,
                        input_rows=b["numInputRows"],
                    )
        return rec

    # -- pass 0: warm-up and output checks ---------------------------------
    t0 = time.perf_counter()
    with tracer.span("pass", index=0, checked=True):
        for q in w.queries:
            call(q, 0, check=True, traced=bool(args.trace))
    per_layer["bench.first_pass_s"] = time.perf_counter() - t0
    per_layer["bench.jit_settle_s"] = settle_jit(spark)

    # -- timed passes --------------------------------------------------------
    passes: list[dict] = []  # {"traced": bool, "calls": {q: rec}, "gc_s": float}
    t_start = time.perf_counter()
    while True:
        traced = bool(args.trace) and len(passes) % 2 == 1
        tracer.on = traced
        sc._jvm.System.gc()
        totals.clear()
        gc0 = jvm_gc_s(spark) if traced else 0.0
        calls = {}
        with tracer.span("pass", index=len(passes) + 1):
            for q in w.queries:
                rec = call(q, len(passes) + 1, check=False, traced=traced)
                if rec is not None:
                    calls[q] = rec
        passes.append(
            {
                "traced": traced,
                "calls": calls,
                "gc_s": jvm_gc_s(spark) - gc0 if traced else 0.0,
                "layers": dict(totals),
            }
        )
        elapsed = time.perf_counter() - t_start
        est = elapsed / len(passes)
        if len(passes) >= (3 if args.trace else 1) and elapsed + est > args.seconds:
            break

    def pass_s(ps: list[dict]) -> float:
        return median([sum(r["call_s"] for r in p["calls"].values()) for p in ps])

    untraced = [p for p in passes if not p["traced"]]
    traced_ps = [p for p in passes if p["traced"]]
    if not args.trace:
        metrics = {"setup_s": median(setups), "pass_s": pass_s(untraced)}
    else:
        per_layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        per_layer["jvm.gc_s"] = median([p["gc_s"] for p in traced_ps])
        per_layer["bench.timed_passes"] = len(passes)
        per_layer["bench.timed_calls"] = sum(len(p["calls"]) for p in passes)
        per_layer["bench.untraced_pass_s"] = pass_s(untraced)
        per_layer["bench.traced_pass_s"] = pass_s(traced_ps)
        per_layer["bench.trace_overhead_s"] = pass_s(traced_ps) - pass_s(untraced)
        for key in ("catalog.load_table_s", "streaming.source.read_events_stream_s"):
            per_layer[key] = median([p["layers"].get(key, 0.0) for p in traced_ps])

        def med(q: str, k: str, ps: list[dict] = traced_ps) -> float:
            return median([p["calls"][q][k] for p in ps if q in p["calls"]])

        per_layer["registry.build_s"] = median(
            [sum(r["build_s"] for r in p["calls"].values()) for p in traced_ps]
        )
        rows = truth["rows"]
        for q in w.queries:
            per_layer[f"{q}.build_s"] = med(q, "build_s")
            per_layer[f"{q}.exec_s"] = med(q, "exec_s")
            per_layer[f"{q}.tasks"] = med(q, "tasks")
            per_layer[f"{q}.out_ratio"] = out_rows.get(q, 0) / rows
        for q, op in STREAM_OPS.items():
            if q in w.queries:
                for k in STREAM_METRICS:
                    per_layer[f"dedup_stream.{op}.{k}"] = median(
                        [p["calls"][q]["stream"][k] for p in traced_ps if q in p["calls"]]
                    )
        for mod in MODULES:
            qs = [q for q in w.queries if module_of[q] == mod]
            for k in ("call_s", "jobs", "stages", "tasks"):
                per_layer[f"{mod}.{k}"] = sum(med(q, k) for q in qs)
        for g in w.groups:
            t = sum(med(q, "call_s", untraced) for q in GROUPS[g])
            per_layer[f"{g}.rows_per_s"] = rows / t if t else 0.0
        # Layers the workload does not run did no work: report 0.
        metrics = {k: float(per_layer.get(k, 0.0)) for k in per_layer_metrics()}
        with open(args.spans, "w") as fh:
            json.dump(tracer.spans, fh)

    env = {
        "spark_version": spark.version,
        "pyspark_version": __import__("pyspark").__version__,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "spark.master": sc.master,
        "setups_s": setups,
        "jit_settle_s": per_layer["bench.jit_settle_s"],
        "timed_passes": len(passes),
        "pass_s_each": [round(sum(r["call_s"] for r in p["calls"].values()), 4) for p in passes],
        "pass0_call_check_s": pass0,
        "call_s_each": {q: [round(p["calls"][q]["call_s"], 4) for p in passes if q in p["calls"]] for q in w.queries},
    }
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics, "env": env},
            fh,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
