"""numpy-only checks of the vector kernels in functions/vectors.py: the
row normaliser, the threshold kernel and the exact per-batch top-k,
against brute-force references that spell out the zero-vector rule
(a pair with a zero side has no cosine: NULL, ranked last)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from ojo_daps_mirror_spark.functions.vectors import (
    _pairs_at_least,
    top_k,
    unit_rows,
)


def _reference_top_k(Q, qids, X, ids, k):
    """Sorted() over (no-cosine last, -cos, id) per query, self excluded."""
    out = []
    for q, qid in zip(Q, qids):
        cands = []
        for x, xid in zip(X, ids):
            if xid == qid:
                continue
            nq, nx = np.linalg.norm(q), np.linalg.norm(x)
            cos = None if nq == 0 or nx == 0 else float(q @ x / (nq * nx))
            cands.append((cos is None, -(cos or 0.0), int(xid), cos))
        for _, _, xid, cos in sorted(cands)[:k]:
            out.append((int(qid), xid, cos))
    return out


def _rows(qid, nid, cos):
    return [
        (int(a), int(b), None if np.isnan(c) else float(c))
        for a, b, c in zip(qid, nid, cos)
    ]


def _close(got, want):
    assert len(got) == len(want)
    for (qa, na, ca), (qb, nb, cb) in zip(got, want):
        assert (qa, na) == (qb, nb)
        assert (ca is None) == (cb is None)
        if ca is not None:
            assert abs(ca - cb) < 1e-12


def test_unit_rows_leaves_zero_rows_at_zero():
    M = np.array([[3.0, 4.0], [0.0, 0.0], [0.0, -2.0]], dtype=np.float32)
    U = unit_rows(M)
    assert U.dtype == np.float64
    np.testing.assert_allclose(U, [[0.6, 0.8], [0.0, 0.0], [0.0, -1.0]])
    assert not np.isnan(U).any()


def test_unit_rows_matches_plain_division_on_nonzero_rows():
    rng = np.random.default_rng(0)
    M = rng.normal(size=(50, 16))
    want = M / np.linalg.norm(M, axis=1, keepdims=True)
    assert np.array_equal(unit_rows(M), want)


def test_top_k_breaks_a_tie_at_the_kth_place_by_id():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(40, 8))
    q = X[0]
    # eight exact copies of one vector, all tied right behind q's own
    # copy, so the k-th place falls inside the tie
    X[[31, 5, 22, 9, 17, 38, 13, 26]] = X[3]
    X[4] = q
    ids = np.arange(40)
    Xn = unit_rows(X)
    got = _rows(*top_k(Xn[:1], ids[:1], Xn, ids, 5))
    want = _reference_top_k(X[:1], ids[:1], X, ids, 5)
    _close(got, want)
    assert [n for _, n, _ in got][0] == 4


def test_top_k_matches_reference_on_planted_ties():
    rng = np.random.default_rng(2)
    X = rng.normal(size=(300, 6)).round(1)
    X[rng.integers(0, 300, 120)] = X[rng.integers(0, 300, 120)]
    ids = rng.permutation(300) + 1000
    Xn = unit_rows(X)
    q = np.arange(0, 300, 7)
    for k in (1, 5, 12):
        got = _rows(*top_k(Xn[q], ids[q], Xn, ids, k))
        _close(got, _reference_top_k(X[q], ids[q], X, ids, k))


def test_top_k_zero_query_and_zero_neighbours():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(20, 4))
    X[[0, 6, 11]] = 0.0
    ids = np.arange(20)
    Xn = unit_rows(X)
    q = np.array([0, 1, 2])
    got = _rows(*top_k(Xn[q], ids[q], Xn, ids, 19))
    _close(got, _reference_top_k(X[q], ids[q], X, ids, 19))
    # the zero query: no cosine anywhere, so the smallest other ids
    zero = [(n, c) for qid, n, c in got if qid == 0]
    assert zero[:3] == [(1, None), (2, None), (3, None)]
    # a real query ranks the zero neighbours last, by id
    assert [n for qid, n, _ in got if qid == 1][-3:] == [0, 6, 11]


def test_top_k_with_fewer_candidates_than_k():
    X = unit_rows(np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]))
    ids = np.array([7, 8, 9])
    got = _rows(*top_k(X, ids, X, ids, 5))
    assert [(q, n) for q, n, _ in got] == [
        (7, 9), (7, 8), (8, 9), (8, 7), (9, 7), (9, 8)
    ]
    empty = top_k(X, ids, X[:0], ids[:0], 5)
    assert all(len(a) == 0 for a in empty)


def _group(ids, vecs, blk, bx, by):
    return pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": list(vecs),
            "blk": blk,
            "bx": bx,
            "by": by,
        }
    )


def test_pairs_at_least_skips_zero_vectors_and_orders_ids():
    vecs = np.array(
        [[1.0, 0.0], [0.0, 0.0], [1.0, 0.1], [0.0, 1.0], [1.0, 0.0]]
    )
    ids = np.array([5, 1, 3, 2, 4])
    # one block: each pair once, id_a < id_b; the zero vector 1 pairs
    # with nothing even at a threshold of -1
    one = _pairs_at_least(_group(ids, vecs, 0, 0, 0), -1.0)
    assert set(one["id_a"]) | set(one["id_b"]) == {2, 3, 4, 5}
    assert (one["id_a"] < one["id_b"]).all() and len(one) == 6
    hi = _pairs_at_least(_group(ids, vecs, 0, 0, 0), 0.99)
    assert sorted(zip(hi["id_a"], hi["id_b"], hi["cos_sim"])) == [
        (3, 4, 0.995), (3, 5, 0.995), (4, 5, 1.0)
    ]
    # two blocks: only cross-block pairs, still id_a < id_b
    blk = np.array([0, 0, 1, 1, 0])
    cross = _pairs_at_least(_group(ids, vecs, blk, 0, 1), 0.99)
    assert sorted(zip(cross["id_a"], cross["id_b"])) == [(3, 4), (3, 5)]
