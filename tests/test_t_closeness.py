"""t_closeness_audit ranks classes by an exact distance: its value and
rank must not depend on the order in which rows reach the sums, so the
plan hash-matches its oracle at any shuffle parallelism."""

from __future__ import annotations

import pytest

from ojo_daps_mirror_spark import plans

from .test_duckdb_parity import _canon

plans.load_all()


@pytest.mark.parametrize("partitions", [1, 3, 7, 16])
def test_t_closeness_matches_oracle_at_any_parallelism(
    spark, duck, sf_dir, partitions
):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        sdf = plans.QUERIES["t_closeness_audit"](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = _canon(sdf.toPandas(), cols)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    want = _canon(duck.sql(plans.ORACLES["t_closeness_audit"]).df(), cols)
    assert got == want
