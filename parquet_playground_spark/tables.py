"""Testdata table loader.

Tables are one parquet file per name under an sf dir
(/root/testdata/sf{0.001,0.01,0.1}). At 100 TB each "file" becomes a
partitioned directory; ``spark.read.parquet`` handles both shapes, so
nothing here changes at scale.
"""

from __future__ import annotations

import atexit
import glob as _glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_playground_spark.session import ensure_session_defaults


@atexit.register
def _cleanup_process_staging() -> None:
    """Remove this process's pid-suffixed staging dirs on exit.

    Staging paths carry os.getpid() so concurrent harness sessions
    can't clobber each other (sources/writes.py _tmp et al.); the
    flip side is that every process would otherwise leak its own tree
    in /tmp. Scoped strictly to this pid's dirs — other live sessions
    are untouched."""
    pat = os.path.join(tempfile.gettempdir(), f"ppspark_*_{os.getpid()}")
    for d in _glob.glob(pat):
        shutil.rmtree(d, ignore_errors=True)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Footer-schema-driven Parquet scan (reference: LoadParquet.java:49-53,
    ParquetConverter.java:98 — schema always from the footer, never
    user-declared). Vectorized, splittable, filter-pushdown-capable."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_defaults(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # events.ts stored as parquet timestamp[ns]; with
            # spark.sql.legacy.parquet.nanosAsLong it arrives as long
            # nanos. Convert to a microsecond timestamp (truncation
            # matches the date_trunc('second'|…) discipline every oracle
            # already applies; reference nano-decode lineage:
            # ParquetConverter.java:40-61). integer DIV (not double /):
            # nanos ~1.7e18 exceed double's 2^53 exact range, and a
            # ±128 ns rounding error can flip a second boundary under
            # the oracles' date_trunc('second').
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # events.ts stored as parquet timestamp[us] without UTC
            # adjustment — Spark 4 infers TIMESTAMP_NTZ. The session is
            # pinned to UTC, so casting to the session-TZ TIMESTAMP
            # keeps the stored wall clock as the same instant while
            # restoring the type every downstream query (unix_micros,
            # window(), watermarks) was written against.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
