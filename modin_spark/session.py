"""SparkSession management.

One shared session per process. Local-mode defaults are tuned for the test
harness (local[N] threads, AQE on, Arrow on); on a real cluster the caller
builds their own session and we pick it up via ``getActiveSession``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE re-plan (coalesce) stages that sit on top of persisted
    # intermediates — the transpose/apply-axis0 caches otherwise pin their
    # consumers to the raw shuffle-partition count (off by default only to
    # keep cached-plan output partitioning reusable, which nothing here
    # relies on)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    # pandas/numpy semantics: integer arithmetic wraps (MinHash universal
    # hashing relies on it), casts coerce instead of throwing
    "spark.sql.ansi.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bigger Arrow batches for the pandas_udf/applyInPandas boundary: fewer
    # per-batch transpose/serialize round trips for narrow numeric/string
    # data (apply-axis0 measured ~6% faster at 100k). Safe for wide blob
    # rows because Spark 4's maxBytesPerBatch (64 MB default) caps batch
    # BYTES independently of the record count.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
    # split even tiny files into >= #cores scan partitions: a small dimension
    # table read as ONE split would otherwise serialize every downstream
    # pandas_udf/regex stage onto a single core (at real scale files exceed
    # maxPartitionBytes and this floor is a no-op). MODIN_SPARK_MIN_SCAN_
    # PARTITIONS overrides (the test harness lowers it: thousands of tiny
    # scans at 32 splits each are pure scheduling overhead there).
    "spark.sql.files.minPartitionNum": os.environ.get(
        "MODIN_SPARK_MIN_SCAN_PARTITIONS", os.environ.get("SPARK_GRAFT_CPUS", "32")),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    # PySpark 4 captures the Python call site on EVERY Column/DataFrame API
    # call when dataFrameDebugging is on (the default): each F.col/select
    # costs ~15-20 extra py4j round-trips to set/clear PySparkCurrentOrigin.
    # Measured on this engine's rank builder: 2024 -> ~150 bridge commands,
    # cutting plan-build latency ~10x. Error messages lose the Python-line
    # origin enrichment only — semantics are unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

SPREAD_BYTES_PER_TASK = 96 * 1024


def get_spark() -> SparkSession:
    """Return the active SparkSession, creating a local one if absent."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName("modin_spark")
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    # ~#cores shuffle partitions locally; a real cluster overrides this (or
    # relies on AQE coalescing, which we leave enabled). NPartitions.put()
    # records its choice in MODIN_SPARK_SHUFFLE_PARTITIONS; read it at
    # session-BUILD time, not module import — the module imports on
    # `import modin_spark.pandas`, before any user put() can run
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        os.environ.get("MODIN_SPARK_SHUFFLE_PARTITIONS",
                       os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spread_target(spark: SparkSession, input_bytes: int | None = None) -> int:
    """Partition count for round-robining a SMALL input ahead of
    expression/UDF-heavy stages (guide §2.5 input skew — the unsplittable-
    file case — and §2.2 scale-adaptive partitioning).

    Derived from input size (~``SPREAD_BYTES_PER_TASK`` = 96 KiB of input
    per task) and capped at the session's parallelism, instead of the raw
    core count: on a tiny corpus a 32-way spread leaves
    ~15 ms of real work per task, so scheduling dominates — the r16
    quiet-window bench measured the spread pipelines FASTER at 8 cores than
    32 (docs_topk_ngrams 0.24 s vs 0.66 s). With the byte rule the same
    query costs the same at any core count on small inputs, and at real
    scale (GB+ per table) the rule saturates every core long before the
    cap."""
    par = spark.sparkContext.defaultParallelism
    if input_bytes is None or input_bytes <= 0:
        return par
    tasks = (int(input_bytes) + SPREAD_BYTES_PER_TASK - 1) // SPREAD_BYTES_PER_TASK
    return max(1, min(par, tasks))


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
