"""The two workloads. Each is a closed loop with one client: the next
unit of work starts only when the previous one has finished.

- ``fraud_ingest``: the reference's own job. Seeded PaySim CSVs land in a
  directory and ``streaming.file_pipeline.run_fraud_stream`` drains them,
  one file per micro-batch, into a fresh snapshot table through
  ``snapshot.foreach_batch_writer``; every few commits a ``snapshot.read``
  fraud-by-type aggregate reads the table being written.
- ``query_mix``: registered queries run through the ``noop`` sink: JVM-only
  relational ones and LLM-data ones with an eager builder and a
  Python-worker kernel.

A unit is one drain (ingest) or one pass over the query mix.
``unit(spark, tracer)`` runs one; with a tracer it also records spans.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from layerbench import inputs, oracle
from layerbench.harness import INPUT_CACHE
from layerbench.tracing import NullTracer

# -- fraud_ingest ---------------------------------------------------------------

# Short drains, so a run holds four or five and their lower quartile does
# not rest on one or two.
INGEST_FILES = 6  # micro-batches (commits) per drain
INGEST_ROWS_PER_FILE = 2000
READ_EVERY = 3  # commits between periodic reads
# Warm-up is a fixed amount of work, not of time, so every run starts
# measuring at the same point of the JVM's warm-up whatever the host's
# speed: a short drain, then WARM_DRAINS full ones.
WARM_FILES = 5
WARM_DRAINS = 3


class FraudIngest:
    name = "fraud_ingest"

    def __init__(self, seed: int, data_dir: str, tiny: bool = False) -> None:
        self.data_dir = data_dir
        n_files, rows, self.read_every = (8, 200, 4) if tiny else (INGEST_FILES, INGEST_ROWS_PER_FILE, READ_EVERY)
        self.files = inputs.paysim_files(INPUT_CACHE, seed, n_files, rows)
        self.drains: list[dict] = []
        self._unchecked: list[dict] = []
        self.units: list[float] = []
        self.ops: dict[str, list[float]] = {"commit": [], "read": []}
        self.attempted = 0
        self.failures: list[str] = []
        self._n = 0

    def prepare(self, spark) -> None:
        """Nothing beyond the session: each drain makes its own table."""

    def warm(self, spark) -> None:
        self._drain(spark, self.files[:WARM_FILES], NullTracer())
        for _ in range(WARM_DRAINS):
            self._drain(spark, self.files, NullTracer())

    def unit(self, spark, tracer) -> dict:
        d = self._drain(spark, self.files, tracer)
        self.drains.append(d)
        self.units.append(d["drain_s"])
        self.ops["commit"] += d["commits"]
        self.ops["read"] += [r[1] for r in d["reads"]]
        return d

    def _drain(self, spark, files: list[str], tracer) -> dict:
        from pyspark.sql import functions as F

        from fraud_detection_etl_project_spark import snapshot
        from fraud_detection_etl_project_spark.streaming.file_pipeline import run_fraud_stream

        self._n += 1
        root = os.path.join(self.data_dir, f"drain-{self._n}")
        landing, table, ckpt = (os.path.join(root, x) for x in ("landing", "table", "ckpt"))
        os.makedirs(landing)
        base = time.time() - len(files) - 10
        for i, p in enumerate(files):  # distinct mtimes fix the landing order
            dst = os.path.join(landing, os.path.basename(p))
            shutil.copyfile(p, dst)
            os.utime(dst, (base + i, base + i))

        write = snapshot.foreach_batch_writer(table)
        commits: list[float] = []
        reads: list[tuple[int, float, dict]] = []

        def sink(batch_df, batch_id: int) -> None:
            with tracer.span("sink.foreach_batch"):
                t0 = time.perf_counter()
                write(batch_df, batch_id)
                commits.append(time.perf_counter() - t0)
            if (batch_id + 1) % self.read_every == 0:
                with tracer.span("snapshot.read"):
                    t0 = time.perf_counter()
                    rows = (
                        snapshot.read(spark, table)
                        .groupBy("type")
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.sum(F.round(F.col("amount") * 100).cast("long")).alias("cents"),
                        )
                        .collect()
                    )
                    reads.append((batch_id, time.perf_counter() - t0, {r.type: (r.n, r.cents) for r in rows}))

        with tracer.span("streaming.run_fraud_stream"):
            t0 = time.perf_counter()
            q = run_fraud_stream(spark, landing, ckpt, sink, available_now=True, max_files_per_trigger=1)
            drain_s = time.perf_counter() - t0
        d = {
            "drain_s": drain_s,
            "commits": commits,
            "reads": reads,
            "progress": q.recentProgress,
            "table": table,
            "ckpt": ckpt,
            "landing": landing,
            "stored_bytes": _du(table),
            "input_bytes": sum(os.path.getsize(p) for p in files),
        }
        self._unchecked.append(d)
        return d

    def latencies(self) -> list[float]:
        """Samples of the p50/p90 diagnostics: the commits (reads, a third
        as many and slower, would put p90 on their boundary)."""
        return self.ops["commit"]

    def finish(self, spark) -> None:
        """Untimed, after the measured units: check every drain."""
        for d in self._unchecked:
            self._check(spark, d["table"], d["ckpt"], d["landing"], d["reads"])
        self._unchecked.clear()

    def _check(self, spark, table, ckpt, landing, reads) -> None:
        """The final table and every periodic read against pandas."""
        from fraud_detection_etl_project_spark import snapshot
        from tools.check_queries import frames_match

        by_batch = oracle.batch_files(ckpt)
        landed = sorted(os.path.realpath(os.path.join(landing, f)) for f in os.listdir(landing))
        seen = sorted(os.path.realpath(p) for ps in by_batch.values() for p in ps)
        self.attempted += 1
        if seen != landed:
            self.failures.append(f"stream read {len(seen)} files, {len(landed)} landed")
        for batch_id, _, got in reads:
            self.attempted += 1
            prefix = [p for b in range(batch_id + 1) for p in by_batch.get(b, [])]
            want = oracle.fraud_by_type(oracle.reference_fraud_rows(prefix))
            if got != want:
                self.failures.append(f"read after batch {batch_id}: {got} != {want}")
        self.attempted += 1
        err = frames_match(snapshot.read(spark, table).toPandas(), oracle.reference_fraud_rows(seen))
        if err:
            self.failures.append(f"final table: {err}")

    def check_batch_report(self, rep) -> None:
        """Untimed: ``pipeline.run_batch``'s counts over the landed files."""
        landing = self.drains[-1]["landing"]
        files = sorted(os.path.join(landing, f) for f in os.listdir(landing))
        rows_in = sum(len(pd.read_csv(p, usecols=["step"])) for p in files)
        want = (rows_in, len(oracle.reference_fraud_rows(files)))
        self.attempted += 1
        if (rep.rows_fetched, rep.rows_fraud) != want:
            self.failures.append(f"run_batch counts {(rep.rows_fetched, rep.rows_fraud)} != {want}")

def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- query mixes ----------------------------------------------------------------

# Star-schema size: about a thirtieth of TPC-H scale factor 1.
STAR_SIZES = {
    "customer": 5000,
    "supplier": 400,
    "part": 8000,
    "orders": 50000,
    "events": 40000,
    "users": 500,
    "documents": 1000,
    "embeddings": 500,
}

# For the self-check only.
TINY_SIZES = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "events": 2000,
    "users": 30,
    "documents": 200,
    "embeddings": 100,
}

# Chosen by measured spread (NOTES.md lists the ones left out, with theirs).
QUERIES = [
    # JVM-only relational: Catalyst, whole-stage execution, shuffle
    "q21_sole_return_supplier",
    "sliding_weekly_active_users",
    "pricing_summary",
    # a builder that runs Spark jobs eagerly: a power iteration looped
    # from Python, 8 jobs per build (ROADMAP D2)
    "nation_trade_pagerank",
    # LLM-data: a mapInArrow Python-worker kernel
    "simhash_signatures",
]
WARM_PASSES = 2  # untimed noop passes after the checking pass (fixed work, as for ingest)


class QueryMix:
    name = "query_mix"

    def __init__(self, seed: int, tiny: bool = False) -> None:
        from fraud_detection_etl_project_spark.plans import REGISTRY

        self.specs = [REGISTRY[q] for q in QUERIES]
        self.sf_dir = inputs.star_tables(INPUT_CACHE, seed, TINY_SIZES if tiny else STAR_SIZES)
        # the oracle needs only the inputs, so it runs while the session starts
        pool = ThreadPoolExecutor(max_workers=1)
        self._oracle = pool.submit(oracle.oracle_results, self.sf_dir, self.specs)
        pool.shutdown(wait=False)
        self.units: list[float] = []
        self.ops: dict[str, list[float]] = {s.name: [] for s in self.specs}
        self.attempted = 0
        self.failures: list[str] = []

    def prepare(self, spark) -> None:
        """Open every fixture table (schema resolution happens here)."""
        from fraud_detection_etl_project_spark.schemas import FIXTURE_TABLES
        from fraud_detection_etl_project_spark.sources.parquet import load_table

        for t in FIXTURE_TABLES:
            load_table(spark, self.sf_dir, t)

    def warm(self, spark) -> None:
        """One untimed pass that is also the correctness check: each
        query's collected result against its DuckDB oracle result."""
        from tools.check_queries import frames_match

        want = self._oracle.result()
        for spec in self.specs:
            self.attempted += 1
            try:
                err = frames_match(spec.fn(spark, self.sf_dir).toPandas(), want[spec.name])
            except Exception as e:  # a failing query is a failed operation, not a crash
                err = f"error: {str(e)[:300]}"
            if err:
                self.failures.append(f"{spec.name}: {err}")
        spark.catalog.clearCache()
        for _ in range(WARM_PASSES):
            for spec in self.specs:
                spec.fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    def latencies(self) -> list[float]:
        """Samples of the p50/p90 diagnostics: every query execution."""
        return [t for v in self.ops.values() for t in v]

    def finish(self, spark) -> None:
        """Nothing: the warm-up pass already checked every query."""

    def unit(self, spark, tracer) -> dict:
        t_pass = time.perf_counter()
        times = {}
        for spec in self.specs:
            t0 = time.perf_counter()
            with tracer.span("plans.build", query=spec.name):
                df = spec.fn(spark, self.sf_dir)
            if tracer.enabled:
                with tracer.span("catalyst.plan", query=spec.name):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec.noop_write", query=spec.name):
                df.write.format("noop").mode("overwrite").save()
            times[spec.name] = time.perf_counter() - t0
        self.units.append(time.perf_counter() - t_pass)
        for n, t in times.items():
            self.ops[n].append(t)
        return times


def e2e_metrics(wl, setup_s: float) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics, defined alike on every workload: a unit is
    one drain or one query pass; an operation is one commit or periodic
    read (ingest) or one query execution (query mix). Also prints each
    operation kind's median and spread, a diagnostic for NOTES.md."""
    for kind, v in wl.ops.items():
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
        print(f"layerbench: op {kind} n={len(v)} median={statistics.median(v):.4f}s "
              f"iqr/median={(q[2] - q[0]) / statistics.median(v):.3f}")
    print(f"layerbench: units {' '.join(f'{u:.3f}' for u in wl.units)} median={statistics.median(wl.units):.4f}s")
    pooled = wl.latencies()
    # Lower quartiles are reported, and medians and p90 are printed as
    # diagnostics: other tenants of a shared host slow some operations of a
    # run and not others, which moves the upper part of the distribution
    # from run to run far more than its lower quartile (NOTES.md). p90
    # also has fewer than ten samples beyond it in a run. Each operation
    # kind gets its own quartile: a quartile pooled over kinds of different
    # cost jumps from one kind to the next as the number of passes changes.
    print(f"layerbench: op pooled n={len(pooled)} p50={statistics.median(pooled):.4f}s "
          f"p90={statistics.quantiles(pooled, n=10)[8]:.4f}s "
          f"geomean-of-medians={statistics.geometric_mean(statistics.median(v) for v in wl.ops.values()):.4f}s")
    return {
        "setup_s": (setup_s, "s"),
        "unit_p25_s": (_p25(wl.units), "s"),
        "op_p25_s": (statistics.geometric_mean(_p25(v) for v in wl.ops.values()), "s"),
    }


def _p25(values: list[float]) -> float:
    """Lower quartile, interpolated between samples (defined for one)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[0]


def make(name: str, seed: int, data_dir: str, tiny: bool = False):
    if name == "fraud_ingest":
        return FraudIngest(seed, data_dir, tiny)
    if name == "query_mix":
        return QueryMix(seed, tiny)
    raise ValueError(f"unknown workload {name!r}")
