"""Twenty-sixth sweep (SURVEY.md §2 C85–C86).

Top principal component of the embedding matrix by distributed power
iteration, and Efraimidis–Spirakis deterministic weighted sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round_eps, sql_round
from ..functions.text import hash64, sql_hash64
from ..sources import load_table, local_frame
from . import register

# ---------------------------------------------------------------- C85

PCA_ITERS = 10


def embedding_top_component(
    spark: SparkSession, sf_dir: str, iters: int = PCA_ITERS
):
    """Power iteration for the top principal component of the (centered)
    embedding matrix: v ← normalize(Xᵀ(Xv)) = normalize(Cv),
    from a deterministic all-ones start. Returns (v, eigenvalue_estimate).

    ONE Arrow pass computes the |dim|²-entry second-moment partials per
    task (the _pq_train trainer shape); the covariance
    C = ΣxᵢxᵢT − n·μμT then lives on the driver (dim² doubles — bounded
    by DIMENSION, not corpus) and every power iteration is a 64×64
    matvec there. The previous form ran 1 + iters distributed jobs,
    each a posexplode shuffle whose per-element transform re-inlined
    the xᵢ·v aggregate — an O(dim²) interpreted expression per ROW per
    iteration (11.8 s min-of-3 at sf0.1; 0.9 s after). Xᵀ(Xv) ≡ Cv
    exactly; FP-order drift is ~1e-12, far inside the 1e-9 numpy pin
    (tests/test_vectors.py::test_pca_power_iteration_matches_numpy,
    green on this shape).
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )

    def moment_partials(batches):
        for batch in batches:
            X = np.stack(batch["e"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "cnt": [int(X.shape[0])],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = emb.mapInPandas(
        moment_partials, schema="cnt long, s array<double>, ss array<double>"
    ).collect()
    if not parts:
        # Empty embeddings table (r7 ADVICE): fail descriptively instead
        # of IndexError on parts[0] below.
        raise ValueError("embedding_pca_top: embeddings table is empty")
    n = sum(r["cnt"] for r in parts)
    dim = len(parts[0]["s"])
    s = np.zeros(dim)
    ss = np.zeros((dim, dim))
    for r in parts:
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(dim, dim)
    mu = s / n
    cov = ss - n * np.outer(mu, mu)
    v = np.ones(dim) / np.sqrt(dim)
    lam = 0.0
    for _ in range(iters):
        w = cov @ v
        lam = float(np.linalg.norm(w))
        v = w / lam if lam > 0 else v
    return v, lam


@register("embedding_pca_top")
def embedding_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component + explained variance of the embedding
    corpus (the embedding-space health check: a dominant component
    usually means an uncentered or collapsed space). *rows-only*: the
    iterate is exactness-tested against dense numpy power iteration at
    1e-9 (tests/test_vectors.py shape); sign fixed by forcing the
    first nonzero coordinate positive so the output is deterministic.
    """
    import numpy as np

    v, lam = embedding_top_component(spark, sf_dir)
    if v[np.flatnonzero(np.abs(v) > 1e-12)[0]] < 0:
        v = -v
    rows = [(int(i), float(round(x + 1e-9, 6))) for i, x in enumerate(v)]
    out = local_frame(spark, rows, "dim int, loading double")
    return out.withColumn(
        "eigenvalue", F.round(F.lit(lam) + 1e-9, 4)
    ).orderBy("dim")


# ---------------------------------------------------------------- C86

WSAMPLE_K = 100

_C86_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ROUND(pow(
           ({sql_hash64("doc_id::VARCHAR || ':ws'")} % 1000000) / 1000000.0,
           1.0 / n_chars) + 1e-9, 8) AS skey
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, skey
FROM keyed
ORDER BY skey DESC, doc_id
LIMIT {WSAMPLE_K}
"""


@register("weighted_sample_es", oracle=_C86_ORACLE)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis
    A-Res: key = u^(1/w) with u a DETERMINISTIC md5-derived uniform
    (never rand() — reshard-stable, re-runnable), take the top
    {WSAMPLE_K} keys. Long documents (weight = n_chars) are
    proportionally more likely to be kept — the corpus-mixing primitive
    when inclusion probability must follow a quality/length weight.

    Map-side key computation + one TakeOrdered top-k: no sort of the
    corpus, no shuffle beyond the top-k merge. Keys round to 8 dp
    before ranking (doc_id tie-break) so the order is identical across
    engines despite last-ulp pow differences.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (
        hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))) % 1000000
    ) / 1000000.0
    skey = F.round(F.pow(u, 1.0 / F.col("n_chars")) + 1e-9, 8)
    return (
        docs.where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            skey.alias("skey"),
        )
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )
