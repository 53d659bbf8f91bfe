"""Shared fixtures: one SparkSession + one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def session_confs(spark) -> dict[str, str]:
    """The session's confs, without the engine's spark.pp.* markers."""
    return {
        k: v for k, v in spark.conf.getAll.items() if not k.startswith("spark.pp.")
    }


@pytest.fixture(scope="session")
def spark():
    from parquet_playground_spark import registry
    from parquet_playground_spark.session import get_spark

    registry.load_all()
    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
