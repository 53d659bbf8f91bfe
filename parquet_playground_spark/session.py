"""SparkSession factory and the engine's session configuration.

Scale notes (design target: 1000-executor cluster over ~100 TB):
  * AQE on — runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic broadcast conversion replace any hand-tuned
    plan at scale.
  * Arrow on — all pandas_udf / applyInPandas paths batch-transfer.
  * Parquet filter pushdown + nested schema pruning on — the engine's
    equivalent of the reference's manual footer column/row-group
    pruning (reference: MutableParquetMetadata.java:35-115), done by
    Catalyst instead of hand-trimmed footers.
  * UTC session timezone — determinism vs the DuckDB oracle.
  * shuffle.partitions is sized for local test SFs; on a real cluster
    AQE coalescing makes the static number mostly irrelevant.

SESSION_CONFS is the one table of the engine's SQL confs. get_spark's
builder holds only what must be fixed at JVM launch; every runtime conf
is applied by ensure_session_defaults, which also runs on the first
load_table of a session the caller built itself (the external driver
does), so both kinds of session run every query with the same confs.

A query that needs a different value for a while overrides it through
set_confs, which returns the restore. Two lifetimes use it:
  * conf_scope — eager work that finishes inside the query function
    (stream runs, writes): restored when the block exits;
  * registry.track_confs — confs the returned frame needs when the
    caller executes it (optimizer rules, AQE): restored when the next
    registered query starts, like the registry's persisted frames.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Set once the table has been applied to a session (spark.pp.* confs
# are engine markers, not tuning).
_DEFAULTS_MARKER = "spark.pp.session.defaults.applied"

SESSION_CONFS = {
    # --- determinism vs the oracle (SURVEY §7.3 rule 7) ---
    "spark.sql.session.timeZone": "UTC",
    # --- adaptive execution: coalesce shuffles, split skew, demote
    # sort-merge to broadcast at runtime ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing: a ceiling AQE coalesces down from, not a
    # schedule. 32 on every host: a 4-core A/B of the core count
    # against 32 helped one dedup key and slowed q5, q18, q21 and the
    # write/stream keys (CHANGES.md). Streams pin their own count
    # (streaming/stream_queries.py _stream_shuffle_partitions). ---
    "spark.sql.shuffle.partitions": "32",
    # --- scan-side pruning (Catalyst equivalent of reference footer
    # trimming, MutableParquetMetadata.java:35-115) ---
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # --- INT96 legacy timestamps (reference ParquetConverter.java:40-61)
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # --- timestamp[ns] columns (events.ts): Spark 4 rejects INT64
    # TIMESTAMP(NANOS) outright; read as long nanos and convert in
    # load_table (tables.py) — same lineage as the reference's manual
    # INT96 nano decode (ParquetConverter.java:40-61).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- Arrow for all pandas-UDF exchange ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- RocksDB state store: streaming state lives in native memory /
    # local disk, not the JVM heap. The default HDFSBackedStateStore
    # keeps every partition's state map on-heap — measured OOM at the
    # sf1 screen (6M events, session windows, 1g vanilla heap), and the
    # same failure shape a 100 TB stateful job hits whenever state
    # outgrows executor heap. rocksdbjni ships with Spark 4.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply SESSION_CONFS once per session.

    Static confs (classpath, master) cannot be fixed up after launch;
    a session built without them degrades gracefully instead."""
    try:
        if spark.conf.get(_DEFAULTS_MARKER, "") == "1":
            return
    except Exception:  # noqa: BLE001 — conf API unavailable: best effort
        return
    for key, value in SESSION_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # noqa: BLE001 — read-only in this deployment
            pass
    spark.conf.set(_DEFAULTS_MARKER, "1")


def set_confs(spark: SparkSession, confs: dict[str, str]) -> Callable[[], None]:
    """Set ``confs`` and return a function that puts each key back to
    its previous value, or unsets it if it had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def restore() -> None:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    return restore


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Hold ``confs`` for the work done inside the block."""
    restore = set_confs(spark, confs)
    try:
        yield
    finally:
        restore()


def get_spark(app_name: str = "parquet-playground-spark") -> SparkSession:
    """Create (or fetch) the tuned SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- bucketed-table warehouse outside the repo tree ---
        .config("spark.sql.warehouse.dir", "/tmp/ppspark_warehouse")
        # --- keep driver logs readable ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Parquet modular-encryption factory (sources/encrypted.py): the
    # pp-crypto.jar holds PlaygroundDecryptionFactory with the corpus's
    # published keys; classpath entries only apply at JVM launch, so an
    # already-running session simply leaves the encrypted reads gated.
    crypto_jar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "java", "pp-crypto.jar"
    )
    if os.path.exists(crypto_jar):
        builder = builder.config("spark.driver.extraClassPath", crypto_jar)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_session_defaults(spark)
    return spark
