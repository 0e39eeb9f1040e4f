"""SparkSession factory with scale-oriented defaults.

The reference delegates execution to Postgres (SURVEY.md §4); our physical
layer is Spark: whole-stage codegen, AQE, partition pruning. These defaults
are chosen for the local[N] test harness but mirror what we would set on a
1000-executor cluster (AQE on, generous broadcast threshold, Arrow transfers,
UTC session time so results are engine-portable).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

# Sized for the driver harness (local[32], 128 GiB host). On a real cluster
# shuffle.partitions should be ~2-3x total cores and is auto-coalesced by AQE.
_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB: every dimension table in the star schema (region/nation/
    # customer/supplier, and the GWAS `study` table) broadcasts.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Engine-portable semantics: naive parquet timestamps == wall-clock.
    "spark.sql.session.timeZone": "UTC",
    # Write timestamps as INT64 micros, not deprecated INT96 — readable by
    # every engine (and by our own footer-driven ts-unit branch).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(app_name: str = "gwasdb_spark", master: str | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession.

    `SPARK_GRAFT_CPUS` controls local parallelism (driver contract); an
    existing active session is reused with its config (the driver owns the
    session during verification runs).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(*fns):
    """Run each callable on its own driver thread, so their Spark jobs
    overlap instead of each job's tail idling the cluster. Waits for all
    of them, returns their results in argument order, and re-raises the
    first failure in argument order once every call has finished."""
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(fn) for fn in fns]
    return [f.result() for f in futures]
