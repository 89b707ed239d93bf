from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MEDIUM = os.environ.get("SPARK_GRAFT_SF_MEDIUM", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from ojo_daps_mirror_spark.session import get_spark

    spark = get_spark(app_name="ojo-tests", shuffle_partitions=8)
    yield spark
    # Reap the materialized stage and work dirs this session wrote
    # (ADVICE r4: clear_cache must be wired into session teardown).
    from ojo_daps_mirror_spark.operators.stagecache import clear_cache

    clear_cache(spark)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views."""
    import duckdb

    con = duckdb.connect()
    from ojo_daps_mirror_spark.sources import TABLES

    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    yield con
    con.close()
