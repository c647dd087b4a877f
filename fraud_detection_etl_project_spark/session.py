"""SparkSession factory with scale-oriented defaults.

The reference runs single-threaded inside one 128 MB Lambda container
(``/root/reference/Terraform/provisioning.tf:134-157``); this engine replaces
that envelope with a Spark cluster posture. The defaults here are the ones
that matter at 100 TB:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting);
- case-insensitive column resolution (the reference's intended semantics —
  it reads ``oldbalanceorg`` against a camelCase CSV header, see
  ``/root/reference/Lambda Function/lambda_function_aws.py:44-45`` vs
  ``Sample File/test_aws.csv:1``);
- UTC session timezone so timestamp semantics are stable across clusters;
- Arrow-backed pandas interop for the few Pandas-UDF escape hatches;
- timestamp-affinity confs so parquet timestamps always surface as session-TZ
  ``TimestampType`` regardless of how the writer annotated them (NANOS
  precision → long + source-side conversion; un-adjusted µs → LTZ, not NTZ).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe and desirable in both local tests and cluster deploys.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Case-insensitive resolution is Spark's default; pinned because the
    # reference's semantics depend on it (SURVEY.md §1.3).
    "spark.sql.caseSensitive": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # TIMESTAMP(NANOS) parquet columns are rejected by vanilla Spark
    # (PARQUET_TYPE_ILLEGAL); read as long, convert in the source.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps with isAdjustedToUTC=false would otherwise surface
    # as TIMESTAMP_NTZ (Spark 4 default), which time-instant functions
    # (unix_micros, window, watermarks) reject; with a UTC session the LTZ
    # reading preserves the stored wall-clock values exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Respect partition-size targets rather than fixed task counts; AQE
    # coalesces small shuffles, this caps big scans.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.compression.codec": "zstd",
    # Plan construction cost. With DataFrame debugging on (PySpark's
    # default), every ``F.*`` call captures its Python call site and sends
    # it to the JVM, about six py4j round trips per call. Off, building
    # pricing_summary takes 265 py4j calls instead of 815 and
    # q21_sole_return_supplier 395 instead of 593. The cost: JVM error
    # messages lose their ``== DataFrame ==`` call-site fragment; the
    # Python traceback still points at the failing line.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "fraud-detection-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) for
    the test/bench harness; on a real cluster callers pass ``None`` master via
    ``spark-submit`` and this just applies engine confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is None:
        # local harness: one shuffle partition per core is the sweet spot at
        # test scale; a cluster deploy overrides (AQE coalesces anyway).
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.setdefault("spark.ui.enabled", "false")
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
