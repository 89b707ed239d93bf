"""Tests of the benchmark's input generator and output hash.

Run from the repository root:

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from oracle import value_hash  # noqa: E402

SMALL = gen.Scale(olap=2, docs=2, stream_files=2)


def test_same_seed_same_tables(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, SMALL)
    b = gen.generate(str(tmp_path / "b"), 7, SMALL)
    assert set(a) == set(gen.TABLES)
    assert a == b


def test_other_seed_other_tables(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, SMALL)
    b = gen.generate(str(tmp_path / "b"), 8, SMALL)
    # Fixed dimension tables may coincide; every seeded table differs.
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert a[t] != b[t], t


def test_replicas_keep_keys_apart(tmp_path):
    """Tiled facts offset their keys per replica, so every join stays
    inside its replica; documents repeat under a letter permutation, so
    no text is shared across replicas."""
    d = str(tmp_path / "d")
    gen.generate(d, 3, SMALL)
    one = gen._base(3)
    rows = gen.row_counts(d)
    assert rows["orders"] == 2 * len(one["orders"]["o_orderkey"])
    assert rows["events"] == 2 * len(one["events"]["event_id"])
    assert rows["documents"] == 2 * len(one["documents"]["doc_id"])
    orders = pq.read_table(os.path.join(d, "orders.parquet")).to_pandas()
    customer = pq.read_table(os.path.join(d, "customer.parquet")).to_pandas()
    assert orders["o_orderkey"].is_unique
    assert orders["o_custkey"].isin(customer["c_custkey"]).all()
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
    first = docs["doc_id"] < gen.ID_SPAN
    assert not set(docs.loc[first, "text"]) & set(docs.loc[~first, "text"])
    assert sorted(docs.loc[first, "n_chars"]) == sorted(docs.loc[~first, "n_chars"])
    events = pq.ParquetDataset(os.path.join(d, "events.parquet"))
    assert len(events.files) == SMALL.stream_files


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    b = pd.DataFrame({"v": ["y", "x"], "k": [2, 1]})
    assert value_hash(a) == value_hash(b)
    assert value_hash(a) != value_hash(a.assign(v=["x", "z"]))
