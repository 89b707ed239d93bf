"""The sliding-window rule of near_dup_windowed / near_dup_adaptive.

A day's windows are computed by arithmetic (``_windows_of``), not by a
join against a window table. They must be exactly the windows of
``_windows_sql()``, the table the DuckDB oracles join against; a day
that no window covers yields no row (never a descending ``sequence``);
and a pair that shares two windows comes out once.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ojo_daps_mirror_spark import plans
from ojo_daps_mirror_spark.plans.enrich_plans import (
    _A20_ORACLE,
    HORIZON_DAYS,
    WINDOW_DAYS,
    WINDOW_STRIDE,
    _windows_of,
    _windows_sql,
)

plans.load_all()


def _table_windows(days) -> dict[int, set[int]]:
    rows = duckdb.sql(f"SELECT w, lo, hi FROM {_windows_sql()}").fetchall()
    return {d: {w for w, lo, hi in rows if lo <= d <= hi} for d in days}


def _arith_windows(spark, days) -> dict[int, set[int]]:
    lo, hi = min(days), max(days)
    got = {d: set() for d in days}
    for r in (
        spark.range(lo, hi + 1)
        .select(F.col("id").alias("day"), _windows_of(F.col("id")))
        .collect()
    ):
        got[r["day"]].add(r["w"])
    return got


def test_every_horizon_day_gets_the_table_windows(spark):
    days = range(HORIZON_DAYS)
    want = _table_windows(days)
    assert all(want.values())  # every day of the horizon is covered
    assert _arith_windows(spark, days) == want


def test_uncovered_days_yield_no_row(spark):
    # days before the first window and after the last: first > last,
    # where a bare sequence(first, last) would count down
    days = range(-2 * WINDOW_DAYS, HORIZON_DAYS + 2 * WINDOW_DAYS)
    want = _table_windows(days)
    assert not want[-WINDOW_STRIDE] and not want[HORIZON_DAYS + WINDOW_STRIDE]
    assert _arith_windows(spark, days) == want


def _corpus(tmp_path) -> str:
    """Six vectors: 30 and 40 (days 30 and 40, both in windows 0 and 1)
    are near-identical, 5 and 100 share no window, the rest are
    orthogonal noise."""
    rng = np.random.default_rng(0)
    base = rng.normal(size=16)
    emb = {
        30: base,
        40: base + 0.01 * rng.normal(size=16),
        5: base,
        100: base,
        60: rng.normal(size=16),
        70: rng.normal(size=16),
    }
    ids = sorted(emb)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [emb[i].astype(np.float32).tolist() for i in ids],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


def test_pair_in_two_windows_comes_out_once(spark, tmp_path):
    sf = _corpus(tmp_path)
    got = [
        (r["id_a"], r["id_b"], str(r["cos_sim"]))
        for r in plans.QUERIES["near_dup_windowed"](spark, sf).collect()
    ]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    want = [(a, b, str(c)) for a, b, c in con.sql(_A20_ORACLE).fetchall()]
    assert [(a, b) for a, b, _ in got].count((30, 40)) == 1
    assert (5, 100) not in [(a, b) for a, b, _ in got]
    assert got == want
