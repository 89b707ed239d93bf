"""Oracle parity of the numpy vector kernels' keys, and of the ANN keys
that score with the Catalyst ``cosine``, on degenerate embeddings: a
zero vector that is both a query and a neighbour, and more than k
exact duplicates of one query's nearest neighbour. The Catalyst divide
must give NULL for the zero vector, not raise under ANSI mode.

A pair with a zero side has no cosine (NULL in DuckDB), so it never
passes a threshold, ranks after every real cosine (ties by id) and is
emitted as NULL. Exact duplicates tie exactly, so the top-k must keep
the lowest ids of the tie, as the oracles' ROW_NUMBER does.
"""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ojo_daps_mirror_spark import plans
from ojo_daps_mirror_spark.sources import TABLES

from .test_duckdb_parity import _canon

plans.load_all()

QUERY = 50  # in every query panel (vec_id % 50 == 0 and % 5 == 0)
N_COPIES = 7  # > k = 5 duplicates of QUERY's nearest neighbour

KEYS = [
    "ann_topk_bruteforce",
    "near_dup_cosine",
    "near_dup_windowed",
    "hubness_audit",
    "ann_topk_blocked",
    "knn_label_eval",
    "matryoshka_recall",
    "contrastive_pair_mining",
    # consumers of near_dup_cosine
    "embedding_dedup_graph",
    "features_table",
    "dedup_weight_band",
    "neardup_transitivity_audit",
]


@pytest.fixture(scope="module")
def planted(tmp_path_factory, sf_dir):
    out = tmp_path_factory.mktemp("zero_ties")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    tab = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = tab.column("vec_id").to_numpy()
    X = np.stack(tab.column("embedding").to_numpy(zero_copy_only=False))
    X = X.astype(np.float32)
    X[ids == 0] = 0.0
    # QUERY's nearest neighbour, then copies of it under ids that no
    # panel holds, on both sides of its own id
    U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    sims = U @ U[ids == QUERY][0]
    sims[(ids == QUERY) | (ids == 0)] = -np.inf
    top = int(ids[np.argmax(sims)])
    free = [int(i) for i in ids if i % 5 and i != top]
    below = [i for i in free if i < top][:3]
    copies = below + [i for i in free if i > top][: N_COPIES - len(below)]
    X[np.isin(ids, copies)] = X[ids == top][0]
    emb = pa.array(list(X), type=tab.schema.field("embedding").type)
    pq.write_table(
        tab.set_column(tab.schema.get_field_index("embedding"), "embedding", emb),
        out / "embeddings.parquet",
    )
    return str(out)


@pytest.fixture(scope="module")
def planted_duck(planted):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{planted}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", KEYS)
def test_zero_vector_and_ties_match_oracle(spark, planted, planted_duck, key):
    sdf = plans.QUERIES[key](spark, planted)
    cols = sorted(sdf.columns)
    ddf = planted_duck.sql(plans.ORACLES[key]).df()
    assert cols == sorted(ddf.columns)
    assert _canon(sdf.toPandas(), cols) == _canon(ddf, cols)


@pytest.mark.parametrize("key", ["ann_lsh_bucketed", "ann_ivf"])
def test_approximate_ann_gives_zero_vector_null_cosine(spark, planted, key):
    # rows-only keys (no oracle): a pair with the zero vector 0 on
    # either side has a NULL cosine instead of raising DIVIDE_BY_ZERO
    # under ANSI mode; every other pair keeps a real cosine
    rows = plans.QUERIES[key](spark, planted).collect()
    zero = [r for r in rows if 0 in (r["query_id"], r["neighbor_id"])]
    assert zero and all(r["cos_sim"] is None for r in zero)
    assert all(r["cos_sim"] is not None for r in rows if r not in zero)


def test_planted_query_sees_the_tie_and_the_zero_vector(spark, planted):
    rows = [
        r
        for r in plans.QUERIES["ann_topk_blocked"](spark, planted).collect()
        if r["query_id"] in (0, QUERY)
    ]
    zero = [(r["neighbor_id"], r["cos_sim"]) for r in rows if r["query_id"] == 0]
    assert zero == [(i, None) for i in range(1, 6)]
    tied = [r["cos_sim"] for r in rows if r["query_id"] == QUERY]
    assert len(tied) == 5 and len(set(tied)) == 1
