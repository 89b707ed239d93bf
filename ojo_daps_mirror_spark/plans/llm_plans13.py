"""Thirteenth sweep (SURVEY.md §2 B49–B50, C68).

Classical-decomposition time-series split (trend / weekday seasonality /
residual), a Benford first-digit data-quality profile, and a
kNN-classifier evaluation harness over the embedding column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.vectors import sql_cosine, top_k, unit_rows
from ..sources import load_table, local_frame
from . import register

# ---------------------------------------------------------------- B49

TREND_HALF = 3  # centered 7-day moving average

_B49_ORACLE = f"""
WITH daily AS (
  SELECT o_orderdate::DATE AS day, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
),
trended AS (
  SELECT day, n_orders,
         AVG(n_orders * 1.0) OVER w AS trend,
         COUNT(*) OVER w AS wn
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {TREND_HALF} PRECEDING
               AND {TREND_HALF} FOLLOWING)
),
interior AS (
  SELECT day, n_orders, trend, n_orders - trend AS detrended,
         isodow(day) AS wd
  FROM trended WHERE wn = {2 * TREND_HALF + 1}
),
seasonal AS (
  SELECT wd, {sql_round('AVG(detrended)', 6)} AS seasonal FROM interior GROUP BY wd
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_orders,
       {sql_round('trend', 6)} AS trend,
       seasonal.seasonal,
       {sql_round('detrended - seasonal.seasonal', 6)} AS residual
FROM interior JOIN seasonal USING (wd)
ORDER BY day
"""


@register("seasonal_decompose", oracle=_B49_ORACLE)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily order series:
    trend = centered 7-day moving average (complete windows only),
    seasonal = mean detrended value per ISO weekday, residual = the
    rest. The monitoring-dashboard primitive behind "is this dip a
    weekend or an incident".

    The corpus reduces to |days| rows in ONE map-side-combined
    aggregate; every window/group below runs on the dimension-scale
    frame (7-row seasonal table broadcast back). Daily counts are
    integers so the moving average is bit-identical across engines;
    the seasonal mean is rounded before the residual subtraction so
    both engines subtract the same quantised value.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy("day").rowsBetween(-TREND_HALF, TREND_HALF)
    interior = (
        daily.withColumn("trend", F.avg(F.col("n_orders") * 1.0).over(w))
        .withColumn("wn", F.count(F.lit(1)).over(w))
        .where(F.col("wn") == 2 * TREND_HALF + 1)
        .withColumn("detrended", F.col("n_orders") - F.col("trend"))
        .withColumn("wd", F.weekday("day") + 1)
    )
    # seasonal mean per weekday as a WINDOW over the dimension-scale
    # frame (7 groups) — one pass, no re-aggregation join
    seasonal = round_eps(F.avg("detrended").over(Window.partitionBy("wd")), 6)
    return (
        interior.withColumn("seasonal", seasonal)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_orders",
            round_eps(F.col("trend"), 6).alias("trend"),
            "seasonal",
            round_eps(F.col("detrended") - F.col("seasonal"), 6).alias("residual"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------- B50

_B50_ORACLE = f"""
WITH cents AS (
  SELECT CAST({sql_round('o_totalprice', 2)} * 100 AS BIGINT) AS v
  FROM orders
),
digits AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM cents
),
counts AS (
  SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
),
total AS (SELECT SUM(n) AS t FROM counts)
SELECT digit, n,
       {sql_round('n * 100.0 / (SELECT t FROM total)', 6)} AS observed_pct,
       {sql_round('100.0 * log10(1.0 + 1.0 / digit)', 6)} AS benford_pct,
       {sql_round(
           'ABS(n * 100.0 / (SELECT t FROM total)'
           ' - 100.0 * log10(1.0 + 1.0 / digit))', 6)} AS deviation
FROM counts ORDER BY digit
"""


@register("benford_profile", oracle=_B50_ORACLE)
def benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit profile of order totals — the
    forensic data-quality screen (fabricated or truncated monetary data
    diverges from log10(1 + 1/d)).

    First digits are extracted through exact INTEGER arithmetic (price
    → cents → leading decimal digit as a string prefix), never through
    float log10 on the value itself — cross-engine log implementations
    differ in ulps, integer string prefixes don't. One
    map-side-combined aggregate to ≤9 rows; the total attaches as a
    broadcast scalar.
    """
    cents = load_table(spark, sf_dir, "orders").select(
        F.round(round_eps(F.col("o_totalprice"), 2) * 100).cast("bigint").alias("v")
    )
    counts = (
        cents.select(F.substring(F.col("v").cast("string"), 1, 1).cast("bigint").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the total over the ≤9-row digit frame is a global window, not a
    # second aggregation pass over a re-scanned fact
    benford = 100.0 * F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        counts.withColumn("t", F.sum("n").over(Window.partitionBy()))
        .select(
            "digit",
            "n",
            round_eps(F.col("n") * 100.0 / F.col("t"), 6).alias("observed_pct"),
            round_eps(benford, 6).alias("benford_pct"),
            round_eps(
                F.abs(F.col("n") * 100.0 / F.col("t") - benford), 6
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------- C68

EVAL_MOD = 5  # spread the panel across the id space
EVAL_K = 5
EVAL_PANEL_K = 64  # FIXED query-panel size: the driver collect is O(k)

_C68_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id % {EVAL_MOD} = 0
      ORDER BY vec_id LIMIT {EVAL_PANEL_K}),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label, v.label AS nlabel,
         {sql_cosine('q.embedding', 'v.embedding')} AS cos, v.vec_id AS nid
  FROM q JOIN v ON q.vec_id <> v.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos DESC, nid
  ) AS rn FROM scored
),
votes AS (
  SELECT query_id, true_label, nlabel, COUNT(*) AS c
  FROM ranked WHERE rn <= {EVAL_K} GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, true_label, nlabel AS predicted,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY c DESC, nlabel
         ) AS pr
  FROM votes
)
SELECT true_label AS label,
       COUNT(*) AS n_queries,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       {sql_round(
           'SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)'
           ' * 1.0 / COUNT(*)', 6)} AS accuracy
FROM pred WHERE pr = 1
GROUP BY true_label ORDER BY label
"""


@register("knn_label_eval", oracle=_C68_ORACLE)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier evaluation harness: hold out a FIXED-COUNT query
    panel (the first {EVAL_PANEL_K} of the vec_id % {EVAL_MOD} ids —
    vector_plans.query_panel), predict each query's label by majority
    vote of its {EVAL_K} nearest neighbours (cosine, deterministic
    tie-breaks: neighbour rank by (−cos, id), vote by (−count, label)),
    and report per-class accuracy — the quality gate run before
    trusting an embedding space for retrieval or dedup.

    Neighbour search reuses the C53 streaming shape: the O(k) query
    matrix broadcasts (NEVER a fixed fraction of the corpus — a
    mod-only panel collects O(n) rows to the driver and OOMs at
    100 TB), the corpus STREAMS through one mapInPandas BLAS pass
    emitting per-batch top-k, a global window merges — no all-pairs
    join. Votes then run at (query, label) grain (≤ k rows per query)
    and the final accuracy table is |labels| rows.
    """
    import numpy as np
    import pandas as pd

    from .vector_plans import query_panel

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"), "label"
    )
    queries = query_panel(emb, EVAL_MOD, k=EVAL_PANEL_K).collect()
    q_ids = np.array([r["vec_id"] for r in queries])
    Qn = unit_rows(np.stack([r["e"] for r in queries]))
    bc = spark.sparkContext.broadcast((q_ids, Qn))

    def block_topk(batches):
        qids, Qn_ = bc.value
        for batch in batches:
            Xn = unit_rows(np.stack(batch["e"].to_numpy()))
            q, n, cos = top_k(Qn_, qids, Xn, batch["vec_id"].to_numpy(), EVAL_K)
            yield pd.DataFrame({"query_id": q, "neighbor_id": n, "cos": cos})

    cand = emb.mapInPandas(
        block_topk, schema="query_id bigint, neighbor_id bigint, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    topk = cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= EVAL_K)
    # at 100 TB the label attach is a key-shuffle join; here the label
    # dim broadcasts
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    truth = local_frame(
        spark,
        [(int(r["vec_id"]), int(r["label"])) for r in queries],
        "query_id bigint, true_label int",
    )
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("nlabel"))
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") == 1)
        .join(F.broadcast(truth), "query_id")
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum((F.col("nlabel") == F.col("true_label")).cast("bigint")).alias(
                "n_correct"
            ),
            round_eps(
                F.sum((F.col("nlabel") == F.col("true_label")).cast("bigint"))
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )
