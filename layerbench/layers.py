"""The traced run: per-layer metrics.

Units alternate untraced and traced; the difference of their median wall
times is ``trace.overhead_s``. Around each traced unit the run reads the
counters (status-store jobs and stages, GC time, cached blocks, Python
worker CPU), attributes each job to the innermost span open when it was
submitted, and prints the unit's self time per layer. Those self times
sum to the unit's wall time because the unit itself is the root span.

Every per-layer metric is reported on every workload; a layer the
workload does not load reads 0. The layer-to-metric map is in NOTES.md.
"""

from __future__ import annotations

import os
import statistics
import time

from layerbench import harness
from layerbench.tracing import (
    NullTracer,
    SparkCounters,
    descendants,
    innermost,
    jvm_pid,
    peak_rss_mb,
    self_times,
    tree_cpu_seconds,
)

# name -> unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    "sources.csv.scan_s": "s",
    "pipeline.filter_s": "s",
    "pipeline.rows_in": "count",
    "pipeline.rows_valid": "count",
    "pipeline.rows_fraud": "count",
    "streaming.trigger_overhead_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.empty_batches": "count",
    "snapshot.commit_s": "s",
    "snapshot.commit_growth": "ratio",
    "snapshot.manifest_bytes": "bytes",
    "snapshot.read_s": "s",
    "snapshot.data_files": "count",
    "snapshot.stored_bytes_per_input_byte": "ratio",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.slot_utilization": "ratio",
    "exec.failed_tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "operators.pyworker_cpu_s": "s",
    "jvm.gc_s": "s",
    "blocks.leaked_bytes": "bytes",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

MIN_PAIRS = 3  # (untraced, traced) unit pairs, however short --seconds is

# progress durationMs key -> metric
_STREAM_KEYS = {
    "latestOffset": "streaming.latest_offset_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
}


def traced_run(spark, wl, tracer, seconds: float) -> dict[str, tuple[float, str]]:
    counters = SparkCounters(spark)
    t_end = time.perf_counter() + seconds
    walls = {False: [], True: []}
    per_unit: list[dict[str, float]] = []
    unit = 0
    pair = 0
    while pair < MIN_PAIRS or time.perf_counter() < t_end:
        # alternate which goes first, so a trend within the run cancels
        for traced in (False, True) if pair % 2 == 0 else (True, False):
            if traced:
                per_unit.append(_traced_unit(spark, wl, tracer, counters, unit))
                walls[True].append(per_unit[-1]["_wall"])
            else:
                t0 = time.perf_counter()
                wl.unit(spark, NullTracer())
                walls[False].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            unit += 1
        pair += 1

    out = {k: 0.0 for k in PER_LAYER}
    for k in per_unit[0]:
        if k in out:
            out[k] = statistics.median(u[k] for u in per_unit)
    starts = [s.duration for s in tracer.spans if s.name == "session.get_spark"]
    out["session.start_s"] = statistics.median(starts)
    out["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    pids = [os.getpid(), jvm_pid()] + descendants(jvm_pid())
    out["process.peak_rss_mb"] = peak_rss_mb(pids)
    if wl.name == "fraud_ingest":
        out.update(_batch_probes(spark, wl, tracer, unit))
    return {k: (float(v), PER_LAYER[k]) for k, v in out.items()}


def pyworker_cpu() -> float:
    """CPU seconds of every process under the JVM: the Python daemon and
    workers, including workers already reaped; 0 before the JVM starts."""
    pid = jvm_pid()
    return 0.0 if pid is None else tree_cpu_seconds(descendants(pid))


def _traced_unit(spark, wl, tracer, counters: SparkCounters, unit: int) -> dict[str, float]:
    tracer.unit = unit
    counters.drain_events()
    j0 = counters.last_job_id()
    gc0, cpu0, cached0 = counters.gc_seconds(), pyworker_cpu(), counters.cached_bytes()
    with tracer.span("unit") as root:
        u = wl.unit(spark, tracer)
    counters.drain_events()
    m: dict[str, float] = {
        "_wall": root.duration,
        "jvm.gc_s": counters.gc_seconds() - gc0,
        "operators.pyworker_cpu_s": pyworker_cpu() - cpu0,
        "blocks.leaked_bytes": counters.cached_bytes() - cached0,
    }
    spark.catalog.clearCache()

    spans = tracer.unit_spans(unit)
    selfs = self_times(spans)
    m["plans.build_s"] = selfs.get("plans.build", 0.0)
    m["catalyst.plan_s"] = selfs.get("catalyst.plan", 0.0)
    m["exec.action_s"] = selfs.get("exec.noop_write", 0.0)
    m["streaming.trigger_overhead_s"] = selfs.get("streaming.run_fraud_stream", 0.0)
    m["snapshot.commit_s"] = selfs.get("sink.foreach_batch", 0.0)
    m["snapshot.read_s"] = selfs.get("snapshot.read", 0.0)

    jobs = counters.jobs_since(j0)
    stages = [s for j in jobs for s in j["stages"]]
    where = [innermost(spans, j["submitted"]) for j in jobs]
    m["plans.eager_jobs"] = sum(1 for s in where if s is not None and s.name == "plans.build")
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = sum(s["tasks"] for s in stages)
    m["exec.failed_tasks"] = sum(s["failed_tasks"] for s in stages)
    m["exec.task_run_s"] = sum(s["run_s"] for s in stages)
    m["exec.slot_utilization"] = m["exec.task_run_s"] / (root.duration * harness.cores())
    m["shuffle.write_bytes"] = sum(s["shuffle_write"] for s in stages)
    m["shuffle.read_bytes"] = sum(s["shuffle_read"] for s in stages)
    m["shuffle.spill_bytes"] = sum(s["spill"] for s in stages)

    if wl.name == "fraud_ingest":
        m.update(_stream_metrics(u))

    if wl.name == "query_mix":
        _print_per_query(unit, spans, where)

    total = sum(selfs.values())
    layers = ", ".join(f"{k} {v:.3f}" for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]))
    print(f"layerbench: unit {unit} wall {root.duration:.3f} s = sum of self times {total:.3f} s: {layers}")
    return m


def _print_per_query(unit: int, spans, job_spans) -> None:
    """Each query's builder seconds, eager jobs and Python-worker CPU, so
    the JVM-only and the LLM-data queries can be told apart in the mix."""
    rows: dict[str, dict[str, float]] = {}
    for s in spans:
        q = s.attrs.get("query")
        if q is None:
            continue
        r = rows.setdefault(q, {"build_s": 0.0, "eager_jobs": 0, "pyworker_cpu_s": 0.0})
        if s.name == "plans.build":
            r["build_s"] += s.duration
        if s.name != "catalyst.plan":  # plan forcing runs no Python workers
            r["pyworker_cpu_s"] += s.attrs["at_end"] - s.attrs["at_start"]
    for s in job_spans:
        if s is not None and s.name == "plans.build":
            rows[s.attrs["query"]]["eager_jobs"] += 1
    for q, r in rows.items():
        print(f"layerbench: unit {unit} query {q} build_s {r['build_s']:.3f} "
              f"eager_jobs {r['eager_jobs']} pyworker_cpu_s {r['pyworker_cpu_s']:.2f}")


def _stream_metrics(drain: dict) -> dict[str, float]:
    from fraud_detection_etl_project_spark import snapshot

    prog = drain["progress"]
    m = {}
    for key, name in _STREAM_KEYS.items():
        m[name] = statistics.median((p.durationMs or {}).get(key, 0) for p in prog)
    m["streaming.empty_batches"] = sum(1 for p in prog if p.numInputRows == 0)
    commits = drain["commits"]
    k = max(1, len(commits) // 10)
    m["snapshot.commit_growth"] = statistics.median(commits[-k:]) / statistics.median(commits[:k])
    table = drain["table"]
    v = snapshot.current_version(table)
    mpath = os.path.join(table, "_manifests", f"v{v:05d}.json")
    m["snapshot.manifest_bytes"] = os.path.getsize(mpath)
    m["snapshot.data_files"] = len(snapshot.read_manifest(table, v)["files"])
    m["snapshot.stored_bytes_per_input_byte"] = drain["stored_bytes"] / drain["input_bytes"]
    return m


def _batch_probes(spark, wl, tracer, unit: int) -> dict[str, float]:
    """The scan and the filters run fused inside each micro-batch, so the
    traced run times them apart with the package's batch entry points over
    the last drain's landed files: a scan alone (``read_transactions``
    into the noop sink) and the whole batch job (``pipeline.run_batch``,
    whose observed counts give the row metrics). Medians of three."""
    from fraud_detection_etl_project_spark.pipeline import run_batch
    from fraud_detection_etl_project_spark.sources.csv import read_transactions

    landing = wl.drains[-1]["landing"]
    tracer.unit = unit
    scans, batches = [], []
    for _ in range(3):
        with tracer.span("sources.csv.read_transactions") as s:
            read_transactions(spark, landing).write.format("noop").mode("overwrite").save()
        scans.append(s.duration)
        with tracer.span("pipeline.run_batch") as s:
            rep = run_batch(spark, landing)
        batches.append(s.duration)
    wl.check_batch_report(rep)
    scan = statistics.median(scans)
    return {
        "sources.csv.scan_s": scan,
        "pipeline.filter_s": max(0.0, statistics.median(batches) - scan),
        "pipeline.rows_in": rep.rows_fetched,
        "pipeline.rows_valid": rep.rows_valid,
        "pipeline.rows_fraud": rep.rows_fraud,
    }
