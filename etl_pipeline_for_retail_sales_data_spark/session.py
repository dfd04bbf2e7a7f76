"""SparkSession construction and runtime configuration.

The driver may hand us an already-built session, so anything semantically
load-bearing (session timezone for the DuckDB oracle comparison, AQE,
shuffle parallelism) is applied via runtime-settable confs in
``configure_session`` rather than builder-time config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied defensively to any session we receive.
_RUNTIME_CONFS = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so timestamp
    # values compare bit-for-bit in the oracle differential.
    "spark.sql.session.timeZone": "UTC",
    # AQE: coalesce shuffle partitions, runtime skew-join handling —
    # the right defaults for the 100 TB design point.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    # rejects outright; read as raw nanos long and convert with
    # `timestamp_micros(ts DIV 1000)` (sources/readers.py:load_events) —
    # verified bit-equal to DuckDB's epoch_us truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build. Idempotent."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; never fail
            # a query over a tuning knob.
            pass
    return spark


def get_spark(app_name: str = "retail-sales-spark-engine") -> SparkSession:
    """Local session for tests/bench: local[N] with shuffle partitions ~ cores.

    On a real cluster the driver owns the session; this is only the
    local-mode entry point.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # iterative operators finalize to RELIABLE checkpoints
        # (cachectl.shared_frame); with reference tracking the
        # ContextCleaner deletes checkpoint files once the frame is
        # garbage collected, so a long-lived session reclaims disk too
        # (builder-time only — the cleaner reads it at startup)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    return configure_session(builder.getOrCreate())
