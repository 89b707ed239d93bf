"""Ninth sweep (SURVEY.md §2 C53–C55).

Exact-but-scalable blocked top-k ANN (hash-matched against the C8
oracle — upgrades the brute-force baseline's all-pairs NLJ to a
streaming plan), hybrid keyword+vector retrieval with reciprocal-rank
fusion, and triangle counting on the behavioral-similarity graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.text import sql_tokens, tokens
from ..functions.vectors import sql_cosine, top_k, unit_rows
from ..operators.attach import scalars
from ..sources import load_table
from . import register
from .llm_plans8 import _C52_ORACLE
from .vector_plans import (
    ANN_K,
    QUERY_MOD,
    QUERY_PANEL_K,
    _C8_ORACLE,
    query_panel,
)

# C8's oracle with the fixed-count panel: same mod spread, but the
# driver-collected query matrix is capped at QUERY_PANEL_K rows.
# replace C8's whole (mod AND fixed-count cap) predicate with the
# equivalent ORDER BY/LIMIT panel form C53 has always used — on dense
# ids the two select the identical first-QUERY_PANEL_K mod-ids
_C53_ORACLE = _C8_ORACLE.replace(
    f"""WHERE vec_id % {QUERY_MOD} = 0
        AND vec_id < {QUERY_MOD * QUERY_PANEL_K}""",
    f"WHERE vec_id % {QUERY_MOD} = 0 ORDER BY vec_id LIMIT {QUERY_PANEL_K}",
)

# ---------------------------------------------------------------- C53


@register("ann_topk_blocked", oracle=_C53_ORACLE)
def ann_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-k cosine neighbours with a plan that scales — the
    production form of C8's baseline. C8 is a BroadcastNestedLoopJoin
    all-pairs scorer (declared acceptable only as the oracle twin);
    here the query batch broadcasts as a dense matrix and the corpus
    STREAMS through one mapInPandas pass: each Arrow batch computes a
    |Q|×|batch| BLAS matmul and emits only its local top-k per query,
    then a global window merges |Q|·k·(corpus/batch) candidate rows.
    Same result, same oracle, no corpus-squared anything.

    Top-k-of-a-total-order is merge-closed: per-batch top-k by
    (−cos, neighbor_id) followed by a global rank over the union is
    exactly the global top-k, ties included — so this hash-matches the
    identical C8 DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    queries = query_panel(emb, QUERY_MOD).collect()
    q_ids = np.array([r["vec_id"] for r in queries])
    Qn = unit_rows(np.stack([r["e"] for r in queries]))
    bc = spark.sparkContext.broadcast((q_ids, Qn))

    def block_topk(batches):
        qids, Qn_ = bc.value
        for batch in batches:
            Xn = unit_rows(np.stack(batch["e"].to_numpy()))
            q, n, cos = top_k(Qn_, qids, Xn, batch["vec_id"].to_numpy(), ANN_K)
            yield pd.DataFrame({"query_id": q, "neighbor_id": n, "cos": cos})

    cand = emb.mapInPandas(
        block_topk, schema="query_id bigint, neighbor_id bigint, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            round_eps(F.col("cos"), 4).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------- C54

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP = 20
HYBRID_TERMS = ("spark", "vector", "merge")
HYBRID_QUERY_DOC = 0  # doc 0's embedding plays the encoded query

_terms_sql = ", ".join(f"'{t}'" for t in HYBRID_TERMS)

_C54_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS t FROM documents
),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
    SELECT DISTINCT doc_id, unnest(list_filter(t, x -> x IN ({_terms_sql})))
      AS term
    FROM toks
  ) GROUP BY term
),
kw AS (
  SELECT doc_id,
         SUM(len(list_filter(t, x -> x = term))
             * ln((SELECT n FROM n_docs) * 1.0 / df)) AS kw_score
  FROM toks CROSS JOIN df
  GROUP BY doc_id
),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = {HYBRID_QUERY_DOC}),
vec AS (
  SELECT e.vec_id AS doc_id,
         {sql_cosine('e.embedding', 'q.embedding')} AS cos
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> {HYBRID_QUERY_DOC}
),
fused AS (
  SELECT v.doc_id, COALESCE(kw.kw_score, 0.0) AS kw_score, v.cos
  FROM vec v LEFT JOIN kw ON v.doc_id = kw.doc_id
),
ranked AS (
  SELECT doc_id, kw_score, cos,
         ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id) AS rk,
         ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rv
  FROM fused
)
SELECT doc_id,
       CAST(rk AS BIGINT) AS kw_rank,
       CAST(rv AS BIGINT) AS vec_rank,
       {sql_round(f"1.0/({RRF_K} + rk) + 1.0/({RRF_K} + rv)", 6)} AS rrf
FROM ranked
ORDER BY rrf DESC, doc_id
LIMIT {RRF_TOP}
"""


@register("hybrid_search_rrf", oracle=_C54_ORACLE)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a keyword ranking (tf·idf over the query
    terms) and a vector ranking (cosine to the encoded query) fused by
    reciprocal-rank fusion 1/(k+r₁) + 1/(k+r₂) — the standard
    BM25+embedding hybrid every RAG stack runs, as one declarative
    plan.

    Scale shape: the keyword side filters tokens to the query terms
    BEFORE any shuffle (per-doc term counts are a map-side array
    expression; df is a |terms|-row broadcast); the vector side is a
    map-side cosine against one broadcast query vector. The two
    rankings are global windows over doc-grain scores — at 100 TB
    each becomes a top-N TakeOrdered (only the fused top page is ever
    wanted) instead of a full rank; the window form is the
    oracle-parity choice.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    toks = tokens(F.col("text"))

    def term_count(term: str):
        # NB: a two-parameter lambda in F.filter means (element, index),
        # so the term must be closed over, never passed as a default arg
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    hits = docs.select(
        "doc_id",
        *[term_count(t).alias(f"tf_{i}") for i, t in enumerate(HYBRID_TERMS)],
    )
    # |docs| rides the SAME 1-row scalar aggregate as the df counts —
    # never an eager docs.count() in the query path (guide §5; the
    # same attach-as-scalar fix pmi_collocations measured).
    df_counts = hits.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(HYBRID_TERMS))
        ],
    )
    kw = hits.transform(scalars(df_counts)).select(
        "doc_id",
        sum(
            F.col(f"tf_{i}")
            * F.log(F.col("n_docs") / F.col(f"df_{i}"))
            for i in range(len(HYBRID_TERMS))
        ).alias("kw_score"),
    )
    qv = emb.where(F.col("vec_id") == HYBRID_QUERY_DOC).select(
        F.col("e").alias("qe")
    )
    from ..functions.vectors import dot, norm

    vec = (
        emb.where(F.col("vec_id") != HYBRID_QUERY_DOC)
        .transform(scalars(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("e"), F.col("qe"))
                / (norm(F.col("e")) * norm(F.col("qe")))
            ).alias("cos"),
        )
    )
    both = vec.join(kw, "doc_id", "left").select(
        "doc_id",
        F.coalesce("kw_score", F.lit(0.0)).alias("kw_score"),
        "cos",
    )
    ranked = both.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("kw_score"), F.asc("doc_id")))
        .cast("bigint")
        .alias("kw_rank"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos"), F.asc("doc_id")))
        .cast("bigint")
        .alias("vec_rank"),
    )
    rrf = 1.0 / (RRF_K + F.col("kw_rank")) + 1.0 / (RRF_K + F.col("vec_rank"))
    return (
        ranked.select("doc_id", "kw_rank", "vec_rank", round_eps(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOP)
    )


# ---------------------------------------------------------------- C55

_C55_ORACLE = f"""
WITH edges AS ({_C52_ORACLE}),
tri AS (
  SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c
  FROM edges e1
  JOIN edges e2 ON e1.u2 = e2.u1
  JOIN edges e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
),
members AS (
  SELECT unnest([a, b, c]) AS user_id FROM tri
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM members
GROUP BY user_id
ORDER BY user_id
"""


@register("behavior_triangles", oracle=_C55_ORACLE)
def behavior_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the behavioral-similarity graph (C52's
    edges): triads of MUTUALLY similar users — the bot-ring /
    coordinated-account signal one similarity edge alone can't give.

    Scale shape: the classic ordered-edge triangle join — edges carry
    u1<u2, so each triangle a<b<c is found exactly once via
    E(a,b)⋈E(b,c)⋈E(a,c): two shuffle joins on vertex keys, no
    direction-doubling, no per-vertex neighborhood materialisation.
    At 100 TB the first join keys on the middle vertex (degree-bound
    work) and AQE splits skewed hubs; membership counts are one
    map-side explode + combine.
    """
    edges = (
        plans_edges(spark, sf_dir)
        .select("u1", "u2")
        .persist()
    )
    e1 = edges.select(F.col("u1").alias("a"), F.col("u2").alias("b"))
    e2 = edges.select(F.col("u1").alias("b"), F.col("u2").alias("c"))
    e3 = edges.select(F.col("u1").alias("a"), F.col("u2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("user_id"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("user_id")
    )


def plans_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C52's similarity pairs as the triangle edge list."""
    from . import QUERIES

    return QUERIES["user_behavior_similarity"](spark, sf_dir)


# ---------------------------------------------------------------- C56


@register("heavy_hitters_approx")  # rows-only: sketch-based by design
def heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters — the 100 TB twin of C32's exact
    top-20 n-grams: ``approx_top_k`` keeps a bounded
    frequent-items sketch per partition (mergeable, fixed memory)
    instead of materialising the full gram count table, the
    Misra-Gries/SpaceSaving trade every production heavy-hitter pass
    makes. Counts for genuinely heavy items are exact whenever their
    frequency exceeds the sketch's tracking floor; the containment
    property (true top-k ⊆ sketch top-k for modest k) is asserted in
    tests/test_llm_plans9.py against the exact C32 result.

    Scale shape: ONE aggregate with a constant-size state per
    partition — no gram-grain shuffle at all (C32 shuffles |distinct
    grams| combiner rows; here only sketches cross the wire).
    """
    from ..functions.text import shingles, tokens
    from .llm_plans3 import HH_NGRAM, HH_TOP_K

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        F.explode(shingles(tokens(F.col("text")), HH_NGRAM)).alias("gram")
    )
    sketch = grams.agg(
        F.expr(f"approx_top_k(gram, {HH_TOP_K}, 100000)").alias("tk")
    )
    return (
        sketch.select(F.posexplode("tk").alias("rnk0", "s"))
        .select(
            F.col("s.item").alias("gram"),
            F.col("s.count").cast("bigint").alias("doc_freq"),
            (F.col("rnk0") + 1).cast("bigint").alias("rnk"),
        )
        .orderBy("rnk")
    )
