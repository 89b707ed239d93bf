"""Forty-fifth sweep (SURVEY.md §2 B94, C103-C104).

HITS hub/authority scores on the bipartite trade graph (the
eigenvector pair next to C26's PageRank), a deterministic count-min
sketch with an overcount audit (the frequency member of the sketch
family: HLL=B13 distinct, bitmap=B59 exact distinct, CMS=frequency),
and a matryoshka prefix-dimension recall harness over the embedding
column (Kusupati et al. 2022 — how much ANN quality survives
truncating 64-dim vectors to 8/16/32 dims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.text import hash64, sql_hash64, sql_tokens, tokens
from ..functions.vectors import top_k, unit_rows
from ..operators.graph import HITS_ITERS, hits
from ..sources import load_table
from .vector_plans import QUERY_PANEL_K, query_panel
from . import register

# ---------------------------------------------------------------- B94


def _hits_oracle() -> str:
    """Unrolled alternating power iteration as chained MATERIALIZED
    CTEs (the C78 k-core recipe: MATERIALIZED stops DuckDB re-inlining
    round k's CTE into every later reference — without it the chain
    re-evaluates exponentially, the B86 list_reduce lesson)."""
    sql = """
WITH edges AS MATERIALIZED (
  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
hubs AS (SELECT DISTINCT src AS id FROM edges),
hn AS (SELECT COUNT(*) AS n FROM hubs),
h0 AS MATERIALIZED (SELECT id, 1.0 / hn.n AS score FROM hubs CROSS JOIN hn),
"""
    for i in range(1, HITS_ITERS + 1):
        sql += f"""a{i}_raw AS MATERIALIZED (
  SELECT e.dst AS id, SUM(e.w * h.score) AS raw
  FROM edges e JOIN h{i - 1} h ON e.src = h.id GROUP BY 1
),
a{i} AS MATERIALIZED (
  SELECT id, raw / (SELECT SUM(raw) FROM a{i}_raw) AS score FROM a{i}_raw
),
h{i}_raw AS MATERIALIZED (
  SELECT e.src AS id, SUM(e.w * a.score) AS raw
  FROM edges e JOIN a{i} a ON e.dst = a.id GROUP BY 1
),
h{i} AS MATERIALIZED (
  SELECT id, raw / (SELECT SUM(raw) FROM h{i}_raw) AS score FROM h{i}_raw
),
"""
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT id, kind, {sql_round('score', 6)} AS score FROM (
  SELECT id, 'hub' AS kind, score FROM h{HITS_ITERS}
  UNION ALL
  SELECT id, 'authority' AS kind, score FROM a{HITS_ITERS}
)
ORDER BY kind, score DESC, id
"""
    return sql


@register("hits_trade_graph", oracle=_hits_oracle())
def hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the DIRECTED buyer→seller trade graph: hub scores
    rank customers by how much central supply they buy, authority
    scores rank suppliers by how much big-buyer demand they serve —
    the two-sided centrality a single PageRank walk (C26) blends away.
    Fixed {HITS_ITERS} iterations, per-half-round sum normalisation;
    the same loop unrolled as chained CTEs is the oracle.

    Scale shape: one lineitem⋈orders shuffle collapses the facts to
    pair-grain edges; the loop (operators/graph.py:hits) checkpoints
    the edge list once and shuffles only the contribution groupBy per
    half-round, normalisers as 1-row broadcast aggregates.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    scores = hits(edges)
    return scores.select(
        "id", "kind", round_eps(F.col("score"), 6).alias("score")
    ).orderBy("kind", F.desc("score"), "id")


# ---------------------------------------------------------------- C103

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 64  # buckets per row
CMS_TOP = 10  # exact heavy hitters audited against the sketch

_C103_ORACLE = f"""
WITH tok AS (
  SELECT unnest({sql_tokens('text')}) AS t FROM documents
),
tt AS (SELECT t FROM tok WHERE t <> ''),
cells AS (
  SELECT r, {sql_hash64("t || '~' || r")} % {CMS_WIDTH} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tt CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS r)
  GROUP BY 1, 2
),
exact AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM tt GROUP BY t
  ORDER BY n DESC, t LIMIT {CMS_TOP}
),
probes AS (
  SELECT e.t, e.n, c.cnt
  FROM exact e
  CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS r) rr
  JOIN cells c
    ON c.r = rr.r
   AND c.bucket = {sql_hash64("e.t || '~' || rr.r")} % {CMS_WIDTH}
)
SELECT t AS token, n AS exact_n,
       CAST(MIN(cnt) AS BIGINT) AS cms_est,
       CAST(MIN(cnt) - n AS BIGINT) AS overcount
FROM probes GROUP BY t, n ORDER BY exact_n DESC, token
"""


@register("count_min_sketch", oracle=_C103_ORACLE)
def count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan) over the corpus token
    stream, audited on the top-{CMS_TOP} exact heavy hitters:
    est(t) = min_r cells[r, h_r(t)] with {CMS_DEPTH}x{CMS_WIDTH}
    md5-derived cells — always >= exact (the one-sided CMS guarantee;
    `overcount` measures collision inflation at this width). The
    frequency member of the sketch family: B13 HLL (approx distinct),
    B59 bitmaps (exact distinct), C56 approx_top_k (frequent items).

    Scale shape: the sketch is the POINT — the token stream folds into
    a fixed {CMS_DEPTH}·{CMS_WIDTH}-cell integer state in ONE
    map-side-combined aggregate (cells merge by addition across any
    sharding, so 1000 executors each fold locally and add). The exact
    side exists only as the audit and is itself one token-grain
    aggregate + TakeOrdered; probes broadcast against the 256-row
    sketch.
    """
    from ..operators.lineage import cut_lineage

    tt = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .where(F.col("t") != "")
    )
    # Collapse the token stream to VOCAB grain first (one map-side-
    # combined aggregate), then hash: the CMS cell recipe needs
    # CMS_DEPTH md5s per DISTINCT token (cell += n), not per token
    # OCCURRENCE — identical integers, ~|stream|/|vocab| fewer md5
    # calls. The vocab frame is materialized once and feeds both the
    # sketch fill and the exact heavy-hitter audit, so the corpus
    # tokenize+shuffle also runs once instead of twice.
    vocab = (
        tt.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(cut_lineage)
    )
    r = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("r")
    cells = (
        vocab.select("t", "n", r)
        .select(
            "n",
            "r",
            (
                hash64(F.concat(F.col("t"), F.lit("~"), F.col("r"))) % CMS_WIDTH
            ).alias("bucket"),
        )
        .groupBy("r", "bucket")
        .agg(F.sum("n").alias("cnt"))
    )
    exact = vocab.orderBy(F.desc("n"), "t").limit(CMS_TOP)
    probes = exact.select("t", "n", r).select(
        "t",
        "n",
        "r",
        (hash64(F.concat(F.col("t"), F.lit("~"), F.col("r"))) % CMS_WIDTH).alias(
            "bucket"
        ),
    )
    joined = probes.join(F.broadcast(cells), ["r", "bucket"])
    return (
        joined.groupBy(F.col("t").alias("token"), F.col("n").alias("exact_n"))
        .agg(
            F.min("cnt").cast("bigint").alias("cms_est"),
            (F.min("cnt") - F.first("n")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )


# ---------------------------------------------------------------- C104

MRL_DIMS = (8, 16, 32, 64)
MRL_MOD = 5  # vec_id % MOD == 0 → query subset
MRL_K = 5


def _c104_oracle() -> str:
    def cos(d: int) -> str:
        qe, ve = f"q.e[1:{d}]", f"v.e[1:{d}]"
        return (
            f"list_dot_product({qe}, {ve}) / "
            f"(sqrt(list_dot_product({qe}, {qe})) * "
            f"sqrt(list_dot_product({ve}, {ve})))"
        )

    per_dim = " UNION ALL ".join(
        f"SELECT {d} AS dim, q.vec_id AS query_id, v.vec_id AS nid, "
        f"{cos(d)} AS cos FROM q JOIN v ON q.vec_id <> v.vec_id"
        for d in MRL_DIMS
    )
    full = max(MRL_DIMS)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id % {MRL_MOD} = 0 ORDER BY vec_id LIMIT {QUERY_PANEL_K}),
scored AS ({per_dim}),
ranked AS (
  SELECT dim, query_id, nid, ROW_NUMBER() OVER (
    PARTITION BY dim, query_id ORDER BY cos DESC, nid
  ) AS rn FROM scored
),
topk AS MATERIALIZED (
  SELECT dim, query_id, nid FROM ranked WHERE rn <= {MRL_K}
),
truth AS (SELECT query_id, nid FROM topk WHERE dim = {full}),
hits AS (
  SELECT t.dim, CAST(COUNT(*) AS BIGINT) AS hit
  FROM topk t JOIN truth u USING (query_id, nid) GROUP BY t.dim
),
nq AS (SELECT COUNT(*) AS n FROM q)
SELECT dim, CAST(nq.n AS BIGINT) AS n_queries,
       {sql_round(f'hit * 1.0 / (nq.n * {MRL_K})', 6)} AS recall_at_{MRL_K}
FROM hits CROSS JOIN nq ORDER BY dim
"""


@register("matryoshka_recall", oracle=_c104_oracle())
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022): exact
    top-{MRL_K} cosine recall of PREFIX-dimension search (dims
    {MRL_DIMS}) against full-dimension ground truth — the
    measurement behind "can we search the first 16 dims and rerank",
    i.e. how much cheaper C8/C53's scans could run. dim=64 is the
    identity row (recall 1.0) anchoring the curve.

    Scale shape reuses C53/C68's streaming-BLAS contract: the query
    matrix broadcasts once (all prefix normalisations precomputed),
    the corpus streams through ONE mapInPandas pass emitting per-batch
    top-k for every dim simultaneously, a (dim, query) window merges —
    top-k is merge-closed, so this is exact with no all-pairs join.
    The recall join then runs at (dim, query, k)-grain — |Q|·|dims|·k
    rows, corpus-size independent.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    queries = query_panel(emb, MRL_MOD).collect()
    q_ids = np.array([r["vec_id"] for r in queries])
    Q = np.stack([r["e"] for r in queries])
    q_norm = {d: unit_rows(Q[:, :d]) for d in MRL_DIMS}
    bc = spark.sparkContext.broadcast((q_ids, q_norm))

    def block_topk(batches):
        qids, qn = bc.value
        for batch in batches:
            ids = batch["vec_id"].to_numpy()
            X = np.stack(batch["e"].to_numpy())
            for d, Qn_ in qn.items():
                q, n, cos = top_k(Qn_, qids, unit_rows(X[:, :d]), ids, MRL_K)
                yield pd.DataFrame(
                    {"dim": d, "query_id": q, "nid": n, "cos": cos}
                )

    cand = emb.mapInPandas(
        block_topk, schema="dim int, query_id bigint, nid bigint, cos double"
    )
    w = Window.partitionBy("dim", "query_id").orderBy(F.desc("cos"), F.asc("nid"))
    topk = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MRL_K)
        .select("dim", "query_id", "nid")
        .persist()
    )
    truth = topk.where(F.col("dim") == max(MRL_DIMS)).select("query_id", "nid")
    hits_df = topk.join(truth, ["query_id", "nid"]).groupBy("dim").agg(
        F.count(F.lit(1)).alias("hit")
    )
    n_q = len(q_ids)
    return hits_df.select(
        "dim",
        F.lit(n_q).cast("bigint").alias("n_queries"),
        round_eps(F.col("hit") * 1.0 / (n_q * MRL_K), 6).alias(
            f"recall_at_{MRL_K}"
        ),
    ).orderBy("dim")
