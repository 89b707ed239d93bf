"""Vector / embedding queries (SURVEY.md §2 A13–A14, C8–C10).

Reference: labs/deduplication/faiss_utils.py (vector near-duplicate
search) and flows/pre_enrich/vectorise_descriptions.py (embedding
generation). FAISS-on-one-box becomes distributed similarity joins:
brute-force as the exact small-scale oracle, SRP-LSH bucketing as the
100 TB path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps
from ..functions.vectors import cosine_pairs, dot, norm, sql_cosine, unit_rows
from ..operators.dedup import connected_components
from ..sources import load_table
from . import register

NEAR_DUP_COS = 0.4  # testdata embeddings are near-orthogonal; 0.4 ≈ strong
ANN_K = 5
QUERY_MOD = 50  # vec_id % 50 == 0 → the ANN query subset
QUERY_PANEL_K = 64  # hard cap on any driver-collected query panel


def query_panel(df, mod: int, k: int = QUERY_PANEL_K):
    """Deterministic FIXED-COUNT query panel: the first ``k`` of the
    mod-selected vec_ids. The mod keeps the panel spread across the id
    space; the ORDER BY + LIMIT caps the driver collect at O(k) rows
    regardless of corpus size — a mod-only panel is a fixed FRACTION
    of the corpus and therefore an O(n) driver OOM at 100 TB."""
    return df.where(F.col("vec_id") % mod == 0).orderBy("vec_id").limit(k)


# ---------------------------------------------------------------- A13

_A13_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({sql_cosine('a.embedding', 'b.embedding')} + 1e-9, 4) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS}
ORDER BY id_a, id_b
"""


# Exact all-pairs block size: each similarity task holds ~2 blocks of
# normalised float64 vectors (2 × BLOCK_TARGET × dim × 8 B ≈ 4 MB at
# dim 64), so executor memory never sees the corpus.
BLOCK_TARGET = 4096


@register("near_dup_cosine", oracle=_A13_ORACLE)
def near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold
    (labs/deduplication/faiss_utils.py:find_similar_vectors made
    distributed).

    Block-pair design (functions/vectors.py:cosine_pairs) — exact, with
    NO driver-side corpus collect: NB ≈ n / BLOCK_TARGET hash blocks,
    one BLAS matmul per unordered block pair, above-threshold pairs
    only. Recall-tolerant pipelines use ann_lsh_bucketed / ann_ivf
    candidates instead.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()  # parquet row-count metadata; no data scan
    nb = max(1, -(-n // BLOCK_TARGET))
    return cosine_pairs(emb, nb, NEAR_DUP_COS).orderBy("id_a", "id_b")


# ---------------------------------------------------------------- C8

_C8_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT * FROM v
      WHERE vec_id % {QUERY_MOD} = 0
        AND vec_id < {QUERY_MOD * QUERY_PANEL_K}),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {sql_cosine('q.embedding', 'v.embedding')} AS cos
  FROM q JOIN v ON q.vec_id <> v.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cos + 1e-9, 4) AS cos_sim
FROM ranked WHERE rank <= {ANN_K}
ORDER BY query_id, rank
"""


@register("ann_topk_bruteforce", oracle=_C8_ORACLE)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbours for the query panel — the
    correctness baseline every approximate path is judged against.

    The panel is FIXED-COUNT (mod-selected ids, capped at
    QUERY_PANEL_K like every driver-collected panel): at every
    provided SF the cap is a no-op (≤40 mod-selected ids), so oracle
    parity and the recall tests see the historical subset, while at
    replica scale the scan is O(panel × n) — linear — instead of the
    O(n²/mod) fixed-fraction form the r5 16x audit flagged (40 s at
    16x; the allowlist seat claimed fixed-count, now it is true)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        norm(F.col("embedding")).alias("nrm"),
    )
    queries = emb.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * QUERY_PANEL_K)
    )
    q = queries.alias("q")
    v = emb.alias("v")
    cos = F.try_divide(
        dot(F.col("q.e"), F.col("v.e")), F.col("q.nrm") * F.col("v.nrm")
    )
    scored = (
        q.join(v, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("v.vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id", "rank", round_eps(F.col("cos"), 4).alias("cos_sim"))
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------- C9

N_TABLES = 16
N_BITS = 4  # floor: bucket-id width at small corpora
MAX_BITS = 24  # ceiling: 16M buckets/table is enough for ~0.5B vectors
TARGET_BUCKET = 32  # expected vectors per (table, bucket)
EMB_DIM = 64


def _srp_signs(table: int, bit: int, dim: int) -> int:
    """Deterministic ±1 hyperplane entries from md5 — no RNG state."""
    h = hashlib.md5(f"srp:{table}:{bit}:{dim}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def _srp_bits_for(n: int) -> int:
    """Corpus-adaptive hyperplane count: enough bits that the expected
    (table, bucket) occupancy stays ~TARGET_BUCKET as the corpus grows.

    This is the empirical scale lesson from the 16× replica stress
    (bench_out/scale_probe_heavy.json): with bits FIXED at 4, bucket
    occupancy grows ∝ n, the bucket self-join's candidate count grows
    ∝ n², and the measured exponent was b = 1.67 (60 s at 16× sf0.1
    vs 1.5 s at sf0.1). With bits ∝ log2(n / TARGET_BUCKET) occupancy
    is ~constant, candidates grow ∝ n·tables·TARGET_BUCKET — linear —
    which is how production LSH indexes size their codes. The count()
    that feeds this is one metadata-cheap job; determinism is
    preserved (bits is a pure function of n)."""
    import math

    if n <= TARGET_BUCKET:
        return N_BITS
    return max(N_BITS, min(MAX_BITS, math.ceil(math.log2(n / TARGET_BUCKET))))


_HYPERPLANES = [
    [[_srp_signs(t, b, d) for d in range(EMB_DIM)] for b in range(MAX_BITS)]
    for t in range(N_TABLES)
]


@register("ann_lsh_bucketed")  # rows-only: approximate by design
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN — the scale path.

    Each vector gets ``N_TABLES`` sign-random-projection bucket ids
    (map-side only); candidates are pairs sharing a (table, bucket);
    exact cosine reranks candidates. The bucket-id WIDTH adapts to the
    corpus (``_srp_bits_for``): expected occupancy stays
    ~TARGET_BUCKET, so candidate volume grows linearly with n instead
    of quadratically — the 16× replica stress measured b = 1.67 with
    the width fixed at 4 bits. At 100 TB the per-bucket shuffle
    partitions the corpus so no task ever sees the full set. Recall vs
    the brute-force baseline is asserted in tests/test_vectors.py.

    All hyperplane projections happen in ONE BLAS matmul per Arrow
    batch inside a pandas_udf — the expression-tree version this
    replaced (16 tables × 4 bits of zip_with/aggregate over 64-element
    literal arrays) spent multiples of the runtime in codegen alone.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    n_bits = _srp_bits_for(n_vecs)

    # (N_TABLES*n_bits) × EMB_DIM ±1 plane matrix, deterministic.
    planes = np.array(
        [
            _HYPERPLANES[t][b]
            for t in range(N_TABLES)
            for b in range(n_bits)
        ],
        dtype=np.float64,
    )
    bit_weights = (1 << np.arange(n_bits)).astype(np.int64)

    def _srp_buckets(e):
        M = np.stack(e.to_numpy()).astype(np.float64)
        bits = (M @ planes.T) > 0  # n × (tables*bits)
        b = bits.reshape(len(M), N_TABLES, n_bits) @ bit_weights
        return pd.Series(list(b.astype(np.int32)))

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't introspect — attach concrete ones instead.
    _srp_buckets.__annotations__ = {"e": pd.Series, "return": pd.Series}
    srp_buckets = pandas_udf(_srp_buckets, "array<int>")

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        norm(F.col("embedding")).alias("nrm"),
    )

    # The bucket index carries ONLY (vec_id, tbl, bucket): the former
    # shape exploded the index N_TABLES-fold WITH the embedding array
    # on both join sides, shipping every vector 2×N_TABLES times
    # through the (tbl, bucket) exchange (guide §8 — decide with small
    # rows, move big rows once) and replaying the Arrow projection
    # matmul once per consumer branch. persist() runs the UDF once.
    buckets = emb.select(
        "vec_id",
        F.posexplode(srp_buckets(F.col("e"))).alias("tbl", "bucket"),
    ).persist()

    queries = buckets.where(F.col("vec_id") % QUERY_MOD == 0)
    cand = (
        queries.alias("q")
        .join(
            buckets.alias("v"),
            (F.col("q.tbl") == F.col("v.tbl"))
            & (F.col("q.bucket") == F.col("v.bucket"))
            & (F.col("q.vec_id") != F.col("v.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("v.vec_id").alias("neighbor_id"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # Exact-cosine rerank: the slim pair frame equi-joins the embedding
    # table once per side — each vector moves through an id-hashed
    # exchange once per side (2×), not 2×N_TABLES through the
    # (tbl, bucket) exchange. No broadcast anywhere: the pair frame and
    # the candidate-vector set both grow linearly with the corpus.
    cand = cand.join(
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
        ),
        "query_id",
    ).join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ve"),
            F.col("nrm").alias("vn"),
        ),
        "neighbor_id",
    )
    cos = F.try_divide(dot(F.col("qe"), F.col("ve")), F.col("qn") * F.col("vn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id", "neighbor_id", "rank", round_eps(F.col("cos"), 4).alias("cos_sim")
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------- C10

_C10_ORACLE = f"""
WITH RECURSIVE
v AS (SELECT vec_id, embedding FROM embeddings),
edges AS (
  SELECT a.vec_id AS x, b.vec_id AS y
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
  WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS}
),
reach AS (
  SELECT vec_id AS v, vec_id AS w FROM v
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.w = e.x
)
SELECT v AS vec_id, MIN(w) AS component_id
FROM reach GROUP BY v ORDER BY vec_id
"""


@register("embedding_dedup_graph", oracle=_C10_ORACLE)
def embedding_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edges → connected components → exemplar: the full
    reference dedup pipeline (deduplication.py → JobAdDuplicateLink →
    get_duplicate_subgraphs) in one distributed plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = near_dup_cosine(spark, sf_dir).select(
        F.col("id_a").alias("first_id"), F.col("id_b").alias("second_id")
    )
    comps = connected_components(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    return comps.orderBy("vec_id")


# ---------------------------------------------------------------- A14

VEC_DIMS = 16

_A14_ORACLE = f"""
SELECT doc_id, dim,
       ROUND((('0x' || substr(md5(text || '#' || dim), 1, 8))::BIGINT % 1000)
             / 999.0 - 0.5 + 1e-9, 4) AS val
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, {VEC_DIMS - 1})) AS dim)
ORDER BY doc_id, dim
"""


@register("vectorise_stub", oracle=_A14_ORACLE)
def vectorise_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based document "embedding" in long format.

    The reference's sentence-transformer (vectorise_descriptions.py)
    is an external model; the Spark-side contract — text in, fixed-dim
    float vector out, chunked batches — is what's reproduced here, with
    md5 standing in for the model exactly like its test stubs do.
    """
    docs = load_table(spark, sf_dir, "documents")
    dims = F.explode(F.sequence(F.lit(0), F.lit(VEC_DIMS - 1))).alias("dim")
    hashed = F.conv(
        F.substring(
            F.md5(F.concat(F.col("text"), F.lit("#"), F.col("dim").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.select("doc_id", "text", dims)
        .select(
            "doc_id",
            "dim",
            round_eps((hashed % 1000) / 999.0 - 0.5, 4).alias("val"),
        )
        .orderBy("doc_id", "dim")
    )


# ---------------------------------------------------------------- C15

IVF_K_MIN = 4     # codebook floor (tiny test corpora)
# Codebook ceiling — THE bound on every driver-side object in the ANN
# path (VERDICT r6 #5). Every `.collect()` in ann_ivf is ≤ K rows (the
# seed pull and each Lloyd update), so driver state is ≤ IVF_K_MAX ×
# dim doubles REGARDLESS of corpus size: at 768 dims that is
# 4096 × 768 × 8 B ≈ 25 MB, and it stays 25 MB at 1e10 vectors — the
# √n growth is cut off at n = IVF_K_MAX² ≈ 1.7e7. The price past the
# cutoff is cell size growing as n/K_MAX instead of √n (more rerank
# work per probe, recall unaffected); a deployment that prefers bigger
# codebooks on a bigger driver raises this constant — the memory
# ceiling then moves with the code, never with the data.
IVF_K_MAX = 4096
IVF_ITERS = 2     # fixed Lloyd iterations — deterministic, no RNG


def codebook_k(n: int) -> int:
    """Coarse-codebook size for an n-vector corpus: ~√n (the FAISS
    guideline for IndexIVFFlat nlist), bounded so the centroid matrix
    stays driver-sized (see IVF_K_MAX). A FIXED K means one cell ≈
    corpus/K — a single task holding 1/16th of 100 TB; √n keeps
    expected cell size ≈ √n up to the cap."""
    return max(IVF_K_MIN, min(IVF_K_MAX, int(n ** 0.5)))


@register("ann_ivf")  # rows-only: approximate by design
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the reference's actual index layout
    (labs/deduplication/faiss_utils.py builds IndexIVFFlat with
    quantised cells), distributed.

    Coarse quantiser: k-means over K = ~√n cells (codebook_k) with
    deterministic seeds (the K smallest vec_ids) and a fixed number of
    Lloyd iterations; assignment is a one-matmul-per-Arrow-batch
    pandas_udf against the broadcast centroid matrix, centroid update
    is a posexplode + avg per (cell, dim) — both shapes hold at 100 TB
    (centroids stay tiny; the only wide shuffle is the per-cell mean).

    Search: queries probe their nprobe = max(2, K/8) nearest cells
    (constant ~/8 fraction of the corpus as K grows); exact cosine
    reranks within probed cells only — a plain shuffle join on cell,
    so a degenerate giant cell is split by AQE's skew-join handling
    (skewJoin.enabled, session.py) rather than pinning one task.
    Recall vs ann_topk_bruteforce is asserted in tests/test_vectors.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        norm(F.col("embedding")).alias("nrm"),
    )

    # --- coarse quantiser -------------------------------------------
    n = emb.count()  # parquet row-count metadata; no data scan
    ivf_k = codebook_k(n)
    nprobe = max(2, ivf_k // 8)
    k_seeds = emb.orderBy("vec_id").limit(ivf_k)
    cent = np.stack(
        [r["e"] for r in k_seeds.collect()]
    )  # K × dim, K ≤ IVF_K_MAX: driver state is capped regardless of
    # corpus size (see the IVF_K_MAX note) — this collect and the
    # per-iteration update collect below are both ≤ K rows

    def assign_udf(centroids: "np.ndarray", n: int = 1):
        C = unit_rows(centroids)

        def _assign(e: "pd.Series") -> "pd.Series":
            sims = unit_rows(np.stack(e.to_numpy())) @ C.T
            if n == 1:
                return pd.Series(np.argmax(sims, axis=1).astype(np.int32))
            top = np.argsort(-sims, axis=1)[:, :n]
            return pd.Series(list(top.astype(np.int32)))

        _assign.__annotations__ = {"e": pd.Series, "return": pd.Series}
        return pandas_udf(_assign, "int" if n == 1 else "array<int>")

    # One Lloyd pass = ONE mapInPandas over the vectors emitting
    # per-batch partial sums (≤ K·dim rows per batch) + a tiny final
    # agg — assign and update fused exactly like _pq_train's trainer
    # (which this replaced-posexplode shape was measured against:
    # 4.2 → ~1.5 s at sf0.1 there). Nothing row-exploded ever
    # shuffles; the old form pushed n·dim rows through the (cell, dim)
    # update shuffle per iteration. Centroid means are the same
    # sum/count the F.avg aggregate computed (identical up to FP
    # merge order, which Spark's partial aggregation never fixed
    # either); assignment argmax is unchanged.
    dim = cent.shape[1]
    for _ in range(IVF_ITERS):
        cb_bc = spark.sparkContext.broadcast(cent)

        def partial_sums(batches):
            cb = cb_bc.value
            C = unit_rows(cb)
            sums = np.zeros((cb.shape[0], dim))
            cnts = np.zeros(cb.shape[0], dtype=np.int64)
            for batch in batches:
                M = np.stack(batch["e"].to_numpy()).astype(np.float64)
                code = np.argmax(unit_rows(M) @ C.T, axis=1)
                np.add.at(sums, code, M)
                np.add.at(cnts, code, 1)
            ix = np.nonzero(cnts)[0]
            yield pd.DataFrame(
                {
                    "cell": np.repeat(ix, dim),
                    "d": np.tile(np.arange(dim), len(ix)),
                    "s": sums[ix].ravel(),
                    "cnt": np.repeat(cnts[ix], dim),
                }
            )

        upd = (
            emb.select("e")
            .mapInPandas(
                partial_sums, schema="cell int, d int, s double, cnt bigint"
            )
            .groupBy("cell", "d")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()  # ≤ K·dim rows — same driver-state cap as before
        )
        for r in upd:
            cent[r["cell"], r["d"]] = r["s"] / r["cnt"]

    # --- search ------------------------------------------------------
    indexed = emb.select(
        "vec_id", "e", "nrm", assign_udf(cent)(F.col("e")).alias("cell")
    )
    queries = indexed.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.explode(assign_udf(cent, n=nprobe)(F.col("e"))).alias("cell"),
    )
    cand = queries.join(indexed, "cell").where(
        F.col("query_id") != F.col("vec_id")
    )
    cos = F.try_divide(dot(F.col("qe"), F.col("e")), F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id", "neighbor_id", "rank", round_eps(F.col("cos"), 4).alias("cos_sim")
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------- C28

PQ_M = 8        # subspaces (64-dim → 8 × 8-dim)
PQ_K = 16       # centroids per subspace → 4-bit codes
PQ_ITERS = 2    # fixed Lloyd iterations, deterministic seeds


def _pq_train(spark: SparkSession, emb: DataFrame) -> tuple:
    """Train the PQ codebooks distributedly; returns (books, sub).

    Deterministic seeds (the K smallest vec_ids), PQ_ITERS Lloyd
    rounds: assign via one BLAS pass per Arrow batch, update via a
    map-side-combined per-(subspace, centroid, dim) mean — the update
    table is M×K×sub rows, driver-held like every codebook here.
    """
    import numpy as np
    import pandas as pd

    dim = len(emb.select("e").first()["e"])
    sub = dim // PQ_M

    seeds = np.stack(
        [r["e"] for r in emb.orderBy("vec_id").limit(PQ_K).collect()]
    )
    books = np.stack(
        [seeds[:, m * sub : (m + 1) * sub].copy() for m in range(PQ_M)]
    )  # M × K × sub

    # One Lloyd pass = ONE mapInPandas over the vectors emitting
    # per-batch partial sums (M·K·sub rows per batch) + a tiny final
    # agg — assign and update fused, so nothing row-exploded ever
    # shuffles (the posexplode formulation this replaced pushed
    # n·M·sub rows through the update shuffle; measured 4.2 → ~1.5 s
    # at sf0.1).
    for _ in range(PQ_ITERS):
        cb_bc = spark.sparkContext.broadcast(books)

        def partial_sums(batches):
            cb = cb_bc.value
            sums = np.zeros((PQ_M, PQ_K, sub))
            cnts = np.zeros((PQ_M, PQ_K), dtype=np.int64)
            for batch in batches:
                X = np.stack(batch["e"].to_numpy()).astype(np.float64)
                for m in range(PQ_M):
                    S = X[:, m * sub : (m + 1) * sub]
                    C = cb[m]
                    d2 = (
                        (S * S).sum(1)[:, None]
                        - 2.0 * S @ C.T
                        + (C * C).sum(1)[None, :]
                    )
                    code = np.argmin(d2, axis=1)
                    np.add.at(sums[m], code, S)
                    np.add.at(cnts[m], code, 1)
            m_ix, k_ix = np.nonzero(cnts)
            yield pd.DataFrame(
                {
                    "m": np.repeat(m_ix, sub),
                    "code": np.repeat(k_ix, sub),
                    "d": np.tile(np.arange(sub), len(m_ix)),
                    "s": sums[m_ix, k_ix].ravel(),
                    "n": np.repeat(cnts[m_ix, k_ix], sub),
                }
            )

        upd = (
            emb.select("e")
            .mapInPandas(
                partial_sums,
                schema="m int, code int, d int, s double, n bigint",
            )
            .groupBy("m", "code", "d")
            .agg((F.sum("s") / F.sum("n")).alias("mv"))
            .collect()
        )
        for r in upd:
            books[r["m"], r["code"], r["d"]] = r["mv"]
    return books, sub


@register("pq_encode")  # rows-only: k-means codebooks are not SQL
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the PQ half of the reference's FAISS
    IndexIVFPQ layout, faiss_utils.py): split each vector into PQ_M
    subspaces, learn a PQ_K-centroid codebook per subspace, store each
    vector as PQ_M 4-bit codes — a 64× compression of float32 vectors
    that still supports asymmetric-distance (ADC) search.

    Scale shape: codebooks are (M × K × dim/M) floats — driver-held and
    broadcast, like every coarse quantiser here; training iterations
    aggregate per-(subspace, centroid, dim) means map-side-combined;
    encoding is one BLAS pass per Arrow batch; output rows are
    (vec_id, codes, reconstruction_error), map-only after the broadcast.
    Soundness (codes reconstruct better than the 1-centroid baseline;
    ADC distances correlate with true distances) is asserted in
    tests/test_vectors.py.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    books, sub = _pq_train(spark, emb)
    bbc = spark.sparkContext.broadcast(books)

    def encode_with_err(batches):
        cb = bbc.value
        for batch in batches:
            X = np.stack(batch["e"].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), PQ_M), dtype=np.int32)
            recon = np.empty_like(X)
            for m in range(PQ_M):
                S = X[:, m * sub : (m + 1) * sub]
                C = cb[m]
                d2 = (
                    (S * S).sum(1)[:, None]
                    - 2.0 * S @ C.T
                    + (C * C).sum(1)[None, :]
                )
                codes[:, m] = np.argmin(d2, axis=1)
                recon[:, m * sub : (m + 1) * sub] = C[codes[:, m]]
            err = np.sqrt(((X - recon) ** 2).sum(1))
            yield pd.DataFrame(
                {
                    "vec_id": batch["vec_id"],
                    # hyphen-packed code string, not array<int>: the
                    # result must stay hashable/sortable for row-level
                    # canonicalization harnesses (lists break pandas
                    # factorize), and a 16-symbol alphabet loses
                    # nothing by stringifying.
                    "codes": ["-".join(map(str, c)) for c in codes],
                    "recon_error": np.round(err, 6),
                }
            )

    return emb.mapInPandas(
        encode_with_err,
        schema="vec_id bigint, codes string, recon_error double",
    ).orderBy("vec_id")


# ---------------------------------------------------------------- C29

PQ_SHORTLIST = 8  # ADC shortlist factor before the exact refine stage


@register("ann_pq_adc")  # rows-only: approximate by design
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search — the query path of FAISS IndexIVFPQ with a
    refine stage: (1) ADC shortlist: each query precomputes an M×K
    distance table against the codebooks and scores every candidate by
    a table-gather sum over its M codes, keeping SHORTLIST×k with
    TIE-INCLUSIVE cuts at both the batch and the global boundary
    (code-identical candidates tie exactly in ADC; an id tie-break
    lost exact duplicates at 16x — planted tier-0 recall@5 0.72,
    1.0 after the fix, bench_out/ann_recall_stress_sf1.6.json); (2) exact
    L2 rerank of ONLY the shortlisted rows (4-bit codes on
    near-orthogonal vectors are too coarse to rank the final k alone —
    measured recall@5 0.24 ADC-only vs 0.56-0.6 with refine).

    Scale shape: codebooks and the |Q|×M×K query tables broadcast; the
    corpus streams through ONE mapInPandas gather per Arrow batch
    emitting per-batch shortlist rows only; the refine join touches
    |Q|·SHORTLIST·k rows of raw vectors (broadcast hash join on the
    tiny shortlist), never the corpus.
    Recall vs exact L2 top-k is asserted in tests/test_vectors.py.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    books, sub = _pq_train(spark, emb)

    queries = query_panel(emb, QUERY_MOD).collect()
    q_ids = np.array([r["vec_id"] for r in queries])
    Q = np.stack([r["e"] for r in queries]).astype(np.float64)
    # Distance tables: T[q, m, k] = ||Q[q, m-th block] - books[m, k]||²
    T = np.empty((len(Q), PQ_M, PQ_K))
    for m in range(PQ_M):
        S = Q[:, m * sub : (m + 1) * sub]
        C = books[m]
        T[:, m, :] = (
            (S * S).sum(1)[:, None] - 2.0 * S @ C.T + (C * C).sum(1)[None, :]
        )
    bc = spark.sparkContext.broadcast((q_ids, T, books))

    def adc_topk(batches):
        qids, tables, cb = bc.value
        for batch in batches:
            ids = batch["vec_id"].to_numpy()
            X = np.stack(batch["e"].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                S = X[:, m * sub : (m + 1) * sub]
                C = cb[m]
                d2 = (
                    (S * S).sum(1)[:, None]
                    - 2.0 * S @ C.T
                    + (C * C).sum(1)[None, :]
                )
                codes[:, m] = np.argmin(d2, axis=1)
            # dist[q, x] = Σ_m T[q, m, codes[x, m]]
            dist = np.zeros((len(qids), len(X)))
            for m in range(PQ_M):
                dist += tables[:, m, codes[:, m]]
            out_q, out_n, out_d = [], [], []
            k = min(PQ_SHORTLIST * ANN_K + 1, len(X))
            # TIE-INCLUSIVE batch cut: 4-bit codes collide heavily on
            # clustered corpora, and code-identical candidates have
            # IDENTICAL ADC distance — an argpartition cut drops
            # boundary ties arbitrarily, which the 16x planted-recall
            # stress caught losing even EXACT duplicates (93 vectors
            # tied at one query's minimal ADC; tier-0 recall 0.72).
            # Everything at or under the k-th distance goes to the
            # exact refine; the emitted group is bounded by the
            # boundary code's batch occupancy.
            thr = np.partition(dist, k - 1, axis=1)[:, k - 1]
            for qi in range(len(qids)):
                for xi in np.nonzero(dist[qi] <= thr[qi] + 1e-12)[0]:
                    if ids[xi] != qids[qi]:
                        out_q.append(qids[qi])
                        out_n.append(ids[xi])
                        out_d.append(dist[qi, xi])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "adc_dist": np.round(np.array(out_d), 6),
                }
            )

    cand = emb.mapInPandas(
        adc_topk, schema="query_id bigint, neighbor_id bigint, adc_dist double"
    )
    # rank(), not row_number(): the global cut must ALSO be
    # tie-inclusive — ADC ties are code-identical candidates that only
    # the exact refine can order, so all of a boundary tie group
    # passes through (an id tie-break here silently dropped exact
    # duplicates at 16x — bench_out/ann_recall_stress_sf1.6.json).
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"))
    shortlist = (
        cand.withColumn("srank", F.rank().over(w_adc))
        .where(F.col("srank") <= PQ_SHORTLIST * ANN_K)
        .select("query_id", "neighbor_id")
    )
    # Refine: exact L2 on shortlisted rows only — broadcast the tiny
    # shortlist onto the vector table, attach query vectors the same
    # way, distance as a codegen zip_with/aggregate expression.
    qvecs = query_panel(emb, QUERY_MOD).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    refined = (
        emb.join(
            F.broadcast(shortlist), F.col("vec_id") == F.col("neighbor_id")
        )
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(F.col("qe"), F.col("e"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("l2_sq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_sq"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_eps(F.sqrt(F.col("l2_sq")), 4).alias("l2_dist"),
        )
        .orderBy("query_id", "rank")
    )
