"""Seventy-second sweep (SURVEY.md §2 B131, C146-C147).

New-vs-returning revenue decomposition (the growth question B83
answers for USERS, asked of MONEY), Dirichlet-smoothed query-likelihood
retrieval (the third classic ranking function next to C57's BM25 and
C73's Kneser-Ney), and the duplicate-cluster size distribution from
the composed C5→CC pipeline (the number that says whether the corpus
has a boilerplate MEGACLUSTER or benign pairwise dupes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..operators.dedup import connected_components
from ..operators.attach import scalars
from ..sources import load_table, local_frame
from . import register
from .text_plans import _C5_ORACLE, dedup_minhash_lsh

# ---------------------------------------------------------------- B131

_B131_ORACLE = f"""
WITH firsts AS (
  SELECT o_custkey, MIN(DATE_TRUNC('week', o_orderdate)) AS first_wk
  FROM orders GROUP BY 1
),
labeled AS (
  SELECT DATE_TRUNC('week', o.o_orderdate) AS wk,
         CAST(ROUND(o.o_totalprice * 100 + 1e-9) AS BIGINT) AS cents,
         CASE WHEN DATE_TRUNC('week', o.o_orderdate) = f.first_wk
              THEN 1 ELSE 0 END AS is_new
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT strftime(wk, '%Y-%m-%d') AS week,
       {sql_round('SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) / 100.0',
                  2)} AS new_revenue,
       {sql_round('SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END) / 100.0',
                  2)} AS returning_revenue,
       {sql_round(
           'SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1.0'
           ' / SUM(cents)', 6)} AS new_share
FROM labeled GROUP BY wk ORDER BY week
"""


@register("new_vs_returning_revenue", oracle=_B131_ORACLE)
def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue split by whether the order falls in its
    customer's FIRST-ever order week (acquisition revenue) or a later
    one (retention revenue) — the money form of B83's growth
    accounting (user counts can grow while new-revenue share
    collapses; this is the decomposition that shows it). First-week
    attribution, not first-order, so a customer's whole first week
    counts as new.

    Scale shape: one customer-grain MIN aggregate for first weeks,
    one equi-join back to the fact stream on the customer key (the
    same key the orders table would be bucketed by), and ONE weekly
    conditional aggregate — exact integer cents.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("week", F.col("o_orderdate")).alias("wk"),
        F.round(F.col("o_totalprice") * 100 + 1e-9)
        .cast("bigint")
        .alias("cents"),
    )
    firsts = orders.groupBy("o_custkey").agg(
        F.min("wk").alias("first_wk")
    )
    labeled = orders.join(firsts, "o_custkey").select(
        "wk",
        "cents",
        F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0).alias(
            "is_new"
        ),
    )
    return (
        labeled.groupBy(F.date_format("wk", "yyyy-MM-dd").alias("week"))
        .agg(
            round_eps(
                F.sum(
                    F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0)
                )
                / 100.0,
                2,
            ).alias("new_revenue"),
            round_eps(
                F.sum(
                    F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0)
                )
                / 100.0,
                2,
            ).alias("returning_revenue"),
            round_eps(
                F.sum(
                    F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0)
                )
                * 1.0
                / F.sum("cents"),
                6,
            ).alias("new_share"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------- C146

QL_QUERY = ("spark", "join", "data")
QL_MU = 100.0
QL_TOP = 10

_QL_TERMS = ", ".join(f"'{t}'" for t in QL_QUERY)

_C146_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
),
clean AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM clean GROUP BY 1
),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cl FROM clean
),
cf AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
  FROM clean WHERE tok IN ({_QL_TERMS}) GROUP BY tok
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM clean WHERE tok IN ({_QL_TERMS}) GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, d.dl, q.tok, cf.cf, COALESCE(t.tf, 0) AS tf
  FROM doclen d
  CROSS JOIN (SELECT unnest([{_QL_TERMS}]) AS tok) q
  JOIN cf USING (tok)
  LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.tok = q.tok
),
scored AS (
  SELECT doc_id,
         ROUND(SUM(ln((tf + {QL_MU!r} * cf / (SELECT cl FROM corpus))
                      / (dl + {QL_MU!r}))) + 1e-9, 6) AS score
  FROM grid GROUP BY doc_id
)
SELECT doc_id, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank
FROM scored
QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) <= {QL_TOP}
ORDER BY rank
"""


@register("ql_dirichlet_ranking", oracle=_C146_ORACLE)
def ql_dirichlet_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001): score(d) = Σ_q ln((tf + μ·cf_q/|C|)/(|d| + μ)),
    μ=100 — the language-modelling ranking function that completes
    the retrieval trio (C57 BM25 = probabilistic, C74 rerank = vector,
    this = LM; they disagree exactly where length normalisation
    matters). Top-10 by score rounded to 6dp THEN doc_id, so the
    cross-engine ordering is deterministic even at float ties.

    Scale shape: corpus stats (one scalar, one |query|-row cf frame)
    derive from a single token aggregate and broadcast; per-doc
    scores are a |docs|×|query| grid from a LEFT join of the sparse
    tf frame — no full posting-list shuffle for a 3-term query.
    """
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    toks = toks.persist()
    doclen = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    corpus = toks.agg(F.count(F.lit(1)).cast("bigint").alias("cl"))
    qterms = toks.where(F.col("tok").isin(*QL_QUERY))
    cf = qterms.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf")
    )
    tf = qterms.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    qdim = local_frame(spark, [(t,) for t in QL_QUERY], "tok string")
    grid = (
        doclen.transform(scalars(qdim))
        .join(F.broadcast(cf), "tok")
        .join(tf, ["doc_id", "tok"], "left")
        .transform(scalars(corpus))
        .select(
            "doc_id",
            "dl",
            "cf",
            "cl",
            F.coalesce(F.col("tf"), F.lit(0)).alias("tf"),
        )
    )
    scored = grid.groupBy("doc_id").agg(
        F.round(
            F.sum(
                F.log(
                    (F.col("tf") + QL_MU * F.col("cf") / F.col("cl"))
                    / (F.col("dl") + QL_MU)
                )
            )
            + 1e-9,
            6,
        ).alias("score")
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= QL_TOP)
        .orderBy("rank")
    )


# ---------------------------------------------------------------- C147


def _c147_oracle() -> str:
    return f"""
WITH RECURSIVE verified AS ({_C5_ORACLE}),
edges AS (
  SELECT id_a AS x, id_b AS y FROM verified
  UNION ALL
  SELECT id_b AS x, id_a AS y FROM verified
),
reach AS (
  SELECT doc_id AS v, doc_id AS w FROM documents
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.w = e.x
),
comp AS (SELECT v AS doc_id, MIN(w) AS cid FROM reach GROUP BY v),
sizes AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY cid
)
SELECT sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz ORDER BY cluster_size
"""


@register("dup_cluster_size_dist", oracle=_c147_oracle())
def dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution from the composed
    C5 → connected-components pipeline: how many clusters of each
    size the near-dup graph collapses into (size 1 = unique docs).
    THE shape check on a dedup run — a fat tail (one megacluster)
    means boilerplate glued unrelated docs together (lower C5's
    threshold / raise bands), while many small clusters are benign
    true dupes; C16 keeps exemplars, C121 tunes the threshold, and
    this histogram says which regime the corpus is in.

    Scale shape: C5's verified pairs (band-bucket candidates,
    bucket-capped, Jaccard-verified) feed A11's iterative CC carrying
    only edge-incident vertices; the histogram is two dimension-scale
    aggregates over the component frame. Oracle = C5's oracle pairs
    verbatim + recursive closure (the golden_record recipe on the
    text side).
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    comp = connected_components(
        pairs.select(
            F.col("id_a").alias("first_id"), F.col("id_b").alias("second_id")
        ),
        docs,
        id_col="id",
    )
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )
