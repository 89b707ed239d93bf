"""Vector math: Catalyst array expressions, and the numpy kernels that
every Arrow-batched vector plan runs.

The reference ships 768-dim description vectors to a FAISS index inside
one batch job (labs/deduplication/faiss_utils.py). Here the primitives
(dot, norm, cosine) are Catalyst expressions over ``array<float>``
columns, so similarity joins stay JVM-side and distribute like any other
join. Arrays are cast to double before accumulating: both engines then
run the same left-to-right double summation, keeping parity with DuckDB
oracles at rounded precision.

The numpy half serves the plans whose similarity scan is one BLAS
matmul per block or Arrow batch (near-dup pairs, exact top-k, k-means
assignment). It holds the only copy of each kernel:

- ``unit_rows``: the row normaliser;
- ``block_pairs``: replicates every vector to the unordered block
  pairs that contain its block, so each vector pair meets in exactly
  one group;
- ``cosine_pairs``: the threshold kernel over those groups;
- ``top_k``: exact per-batch top-k by (cos desc, id asc), self
  excluded. A total order's top-k is merge-closed, so a global window
  over the per-batch rows gives the exact global top-k.

Zero-vector rule. A pair with a zero side has no cosine: DuckDB's
``dot / (norm * norm)`` (``sql_cosine``) gives NULL for it, and so does
the Catalyst ``cosine`` and every plan that divides ``dot`` by
precomputed norms, as long as the divide is a ``try_divide`` (a plain
``/`` raises DIVIDE_BY_ZERO under ANSI mode). The numpy kernels follow
the NULL rule, so such a pair

- never passes a threshold;
- ranks after every real cosine, ties broken by id;
- is emitted as NULL (NaN in pandas, which Arrow turns into NULL)
  wherever a key outputs the value.

``unit_rows`` leaves a zero row at zero, so an argmax assignment
against unit centroids sends a zero vector to cell 0 by definition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def l2_normalize(a: Column) -> Column:
    """v / ||v|| — normalise once upstream so joins only need dot()."""
    n = norm(a)
    return F.transform(as_double(a), lambda x: x / n)


# DuckDB twins (operate on a list column cast to DOUBLE[]).
def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def sql_norm(a: str) -> str:
    return f"sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[]))"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"


# ---------------------------------------------------------------- numpy


def unit_rows(M):
    """The rows of ``M`` as float64 scaled to unit L2 norm; a zero row
    stays zero."""
    import numpy as np

    M = np.asarray(M, dtype=np.float64)
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0.0, 1.0, n)


def block_pairs(df: DataFrame, nb: int) -> DataFrame:
    """``df`` plus ``blk`` = vec_id mod ``nb`` and one row per unordered
    block pair (``bx`` <= ``by``) that contains ``blk``.

    Grouped by (bx, by), every unordered vector pair lands in exactly
    one group, so an exact all-pairs scan needs no dedup. Shuffle
    volume is ``nb`` x the input: the cost of an EXACT all-pairs join.
    """
    blk = F.pmod(F.col("vec_id"), F.lit(nb)).cast("int").alias("blk")
    j = F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("j")
    return df.select("*", blk, j).select(
        *df.columns,
        "blk",
        F.least("blk", "j").alias("bx"),
        F.greatest("blk", "j").alias("by"),
    )


def _pairs_at_least(pdf, threshold: float):
    """One block-pair group -> its pairs with cosine >= ``threshold``:
    id_a < id_b, cos_sim rounded half-up to 4 dp after +1e-9 (the
    ``round_eps`` rule)."""
    import numpy as np
    import pandas as pd

    bx, by = int(pdf["bx"].iloc[0]), int(pdf["by"].iloc[0])
    ids = pdf["vec_id"].to_numpy()
    M = unit_rows(np.stack(pdf["embedding"].to_numpy()))
    nz = M.any(axis=1)  # a zero side has no cosine: never passes
    in_x = pdf["blk"].to_numpy() == bx
    a = in_x & nz
    b = a if bx == by else ~in_x & nz
    sims = M[a] @ M[b].T
    ai, bi = np.nonzero(sims >= threshold)
    ia, ib, vals = ids[a][ai], ids[b][bi], sims[ai, bi]
    # one block: the matrix is symmetric, take each pair once; two
    # blocks: every pair appears once already
    keep = (ia < ib) | (bx != by)
    return pd.DataFrame(
        {
            "id_a": np.minimum(ia, ib)[keep],
            "id_b": np.maximum(ia, ib)[keep],
            "cos_sim": np.floor((vals[keep] + 1e-9) * 1e4 + 0.5) / 1e4,
        }
    )


def cosine_pairs(
    df: DataFrame, nb: int, threshold: float, keys: tuple = ()
) -> DataFrame:
    """Exact vector pairs (id_a < id_b, cos_sim) with cosine >=
    ``threshold`` among the (vec_id, embedding) rows of ``df``:
    ``block_pairs`` and one BLAS matmul per (``keys``, bx, by) group.
    The ``keys`` columns come out with each pair, so a pair that shares
    several ``keys`` groups comes out once per group, tagged with it."""
    key_ddl = "".join(
        f"`{k}` {df.schema[k].dataType.simpleString()}, " for k in keys
    )
    return (
        block_pairs(df, nb)
        .groupBy(*keys, "bx", "by")
        .applyInPandas(
            lambda key, pdf: _pairs_at_least(pdf, threshold).assign(
                **dict(zip(keys, key))
            ),
            schema=key_ddl + "id_a bigint, id_b bigint, cos_sim double",
        )
    )


def top_k(Qn, qids, Xn, ids, k: int):
    """Exact top-``k`` of every query row of ``Qn`` among the rows of
    ``Xn`` (both from ``unit_rows``), ordered by (cos desc, id asc), a
    row never its own neighbour. Returns three aligned arrays
    (query id, neighbour id, cos), each query's rows in rank order;
    cos is NaN where a side is zero.

    Linear per query: cut at the k-th smallest rank key with
    ``np.partition``, keep every candidate at or above the cut (ties
    included), then sort only those.
    """
    import numpy as np

    qids, ids = np.asarray(qids), np.asarray(ids)
    r = -(Qn @ Xn.T)  # rank key: ascending
    r[~Qn.any(axis=1), :] = np.inf  # no cosine: after every real one
    r[:, ~Xn.any(axis=1)] = np.inf
    r[qids[:, None] == ids[None, :]] = np.nan  # self: never a neighbour
    kk = min(k, r.shape[1])
    if kk == 0:
        qi = xi = np.zeros(0, dtype=np.int64)
    else:
        cut = np.partition(r, kk - 1, axis=1)[:, kk - 1 : kk]  # NaN last
        # a NaN cut means the row has at most k candidates: keep them all
        qi, xi = np.nonzero((r <= cut) | (np.isnan(cut) & ~np.isnan(r)))
        order = np.lexsort((ids[xi], r[qi, xi], qi))
        qi, xi = qi[order], xi[order]
        rank = np.arange(len(qi)) - np.searchsorted(qi, qi)
        qi, xi = qi[rank < k], xi[rank < k]
    key = r[qi, xi]
    return qids[qi], ids[xi], np.where(np.isinf(key), np.nan, -key)
