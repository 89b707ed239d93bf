"""Sixtieth sweep (SURVEY.md §2 B114, C127-C128).

Split-conformal prediction intervals (finite-sample-valid uncertainty
for the B55/B57 regression family, with the coverage audit), weighted
single-source shortest paths by Bellman-Ford over the nation trade
graph (the weighted twin of C89's hop-count BFS), and rank-based
quantile normalization of per-source length distributions (the
batch-effect remover next to C77's robust scaling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.text import hash64, sql_hash64
from ..operators.attach import scalars
from ..operators.lineage import cut_lineage
from ..sources import load_table, local_frame
from . import register

# ---------------------------------------------------------------- B114

CP_ALPHA = 10  # miscoverage in percent: target 90% intervals

_B114_ORACLE = f"""
WITH split AS (
  SELECT o_orderpriority AS prio,
         CAST(ROUND(o_totalprice * 100 + 1e-9) AS BIGINT) AS cents,
         {sql_hash64("o_orderkey::VARCHAR || ':cp'")} % 4 AS fold
  FROM orders
),
fit AS (
  SELECT prio, CAST(SUM(cents) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_train
  FROM split WHERE fold IN (0, 1) GROUP BY prio
),
calib AS (
  SELECT s.prio, ABS(s.cents * f.n_train - f.s) AS r
  FROM split s JOIN fit f ON s.prio = f.prio WHERE s.fold = 2
),
calib_n AS (
  SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_calib FROM calib GROUP BY prio
),
qhat AS (
  SELECT c.prio, c.r AS q_scaled, cn.n_calib
  FROM (SELECT prio, r,
               ROW_NUMBER() OVER (PARTITION BY prio ORDER BY r) AS rk
        FROM calib) c
  JOIN calib_n cn ON c.prio = cn.prio
  WHERE c.rk = LEAST(CAST(CEIL((cn.n_calib + 1) * (100 - {CP_ALPHA}) / 100.0)
                          AS BIGINT), cn.n_calib)
),
test AS (
  SELECT s.prio,
         CAST(CASE WHEN ABS(s.cents * f.n_train - f.s) <= q.q_scaled
              THEN 1 ELSE 0 END AS BIGINT) AS covered
  FROM split s
  JOIN fit f ON s.prio = f.prio
  JOIN qhat q ON s.prio = q.prio
  WHERE s.fold = 3
)
SELECT f.prio, f.n_train, q.n_calib,
       {sql_round('q.q_scaled * 1.0 / f.n_train / 100', 4)} AS qhat,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       {sql_round('SUM(t.covered) * 1.0 / COUNT(*)', 6)} AS coverage
FROM test t
JOIN fit f ON t.prio = f.prio
JOIN qhat q ON t.prio = q.prio
GROUP BY f.prio, f.n_train, q.n_calib, q.q_scaled
ORDER BY f.prio
"""


@register("conformal_interval", oracle=_B114_ORACLE)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the per-priority
    mean-price predictor, with the held-out coverage audit: a 2:1:1
    hash split fits the predictor, the calibration fold takes qhat as
    the ⌈(n+1)·0.9⌉-th smallest absolute residual (the EXACT order
    statistic conformal prescribes — finite-sample 90% coverage with
    no distributional assumption), and the test fold measures
    realised coverage. The uncertainty layer for the B55/B57
    regression family — a prediction without a calibrated interval is
    a guess.

    Scale shape: fold assignment and cent quantisation are pure
    projections; the fit is one group aggregate; residuals stay EXACT
    by comparing |cents·n_train − Σcents| (cross-multiplied, never a
    double mean), so qhat is an exact BIGINT order statistic picked
    by one per-group ordered window at calibration grain, and the
    coverage test is an integer compare after two broadcast joins of
    |priority|-row frames.
    """
    split = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100 + 1e-9).cast("bigint").alias(
            "cents"
        ),
        (
            hash64(
                F.concat(F.col("o_orderkey").cast("string"), F.lit(":cp"))
            )
            % 4
        ).alias("fold"),
    )
    split = split.persist()
    fit = (
        split.where(F.col("fold").isin(0, 1))
        .groupBy("prio")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
        )
    )
    calib = (
        split.where(F.col("fold") == 2)
        .join(F.broadcast(fit), "prio")
        .select(
            "prio",
            F.abs(F.col("cents") * F.col("n_train") - F.col("s")).alias("r"),
        )
    )
    wn = Window.partitionBy("prio")
    wr = Window.partitionBy("prio").orderBy("r")
    k = F.least(
        F.ceil((F.col("n_calib") + 1) * (100 - CP_ALPHA) / 100.0).cast(
            "bigint"
        ),
        F.col("n_calib"),
    )
    qhat = (
        calib.withColumn("rk", F.row_number().over(wr))
        .withColumn("n_calib", F.count(F.lit(1)).over(wn).cast("bigint"))
        .where(F.col("rk") == k)
        .select("prio", F.col("r").alias("q_scaled"), "n_calib")
    )
    test = (
        split.where(F.col("fold") == 3)
        .join(F.broadcast(fit), "prio")
        .join(F.broadcast(qhat), "prio")
        .select(
            "prio",
            "n_train",
            "n_calib",
            "q_scaled",
            F.when(
                F.abs(F.col("cents") * F.col("n_train") - F.col("s"))
                <= F.col("q_scaled"),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        test.groupBy("prio", "n_train", "n_calib", "q_scaled")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            round_eps(F.sum("covered") * 1.0 / F.count(F.lit(1)), 6).alias(
                "coverage"
            ),
        )
        .select(
            "prio",
            "n_train",
            "n_calib",
            round_eps(
                F.col("q_scaled") * 1.0 / F.col("n_train") / 100, 4
            ).alias("qhat"),
            "n_test",
            "coverage",
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------- C127

SSSP_ROUNDS = 4
SSSP_SRC = 0
SSSP_COST_NUM = 1_000_000_000


def _sssp_edges_sql() -> str:
    return f"""
  SELECT c_nationkey AS src, s_nationkey AS dst,
         CAST({SSSP_COST_NUM} // COUNT(*) AS BIGINT) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
  GROUP BY 1, 2
"""


def _sssp_oracle() -> str:
    sql = f"WITH e AS ({_sssp_edges_sql()}),\n"
    sql += f"d0 AS (SELECT CAST({SSSP_SRC} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),\n"
    for i in range(1, SSSP_ROUNDS + 1):
        sql += f"""d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{i - 1} d JOIN e ON e.src = d.node
  ) GROUP BY node
),
"""
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT node, dist FROM d{SSSP_ROUNDS} ORDER BY node
"""
    return sql


@register("sssp_bellman_ford", oracle=_sssp_oracle())
def sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford, 4
    relaxation rounds) from nation 0 over the directed nation trade
    graph, edge cost = 1e9/lineitem-count (heavier trade = cheaper
    edge, so multi-hop heavy-trade routes can beat thin direct
    edges). The weighted twin of C89's hop-count BFS and the last
    member of the iterative-graph family (C26 PageRank, B94 HITS,
    C78 k-core) — the reference walks its duplicate graph driver-side
    with networkx (dqa/data_getters.py:get_duplicate_subgraphs);
    this is the shape that survives when the graph doesn't fit a
    driver.

    Scale shape: ONE volume-bound aggregate collapses the fact
    stream to nation-pair edges (integer floor-division costs keep
    every distance an exact BIGINT); each relaxation round is a
    frontier⋈edges join plus a min-combine groupBy at node grain,
    localCheckpointed to cut lineage exactly like operators/dedup.py's
    component loop. Rounds are a constant, so the oracle unrolls the
    identical relaxation as chained CTEs.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    edges = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
        )
        .agg(
            F.floor(F.lit(SSSP_COST_NUM) / F.count(F.lit(1)))
            .cast("bigint")
            .alias("w")
        )
    )
    edges = edges.transform(cut_lineage)
    dist = local_frame(spark, [(SSSP_SRC, 0)], "node bigint, dist bigint")
    for _ in range(SSSP_ROUNDS):
        relaxed = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
        dist = relaxed.transform(cut_lineage)
    return dist.orderBy("node")


# ---------------------------------------------------------------- C128

_C128_ORACLE = f"""
WITH g AS (
  SELECT n_chars AS v,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gidx,
         COUNT(*) OVER () AS n_all
  FROM documents
),
src AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
),
mapped AS (
  SELECT s.source, s.n_chars,
         ((2 * s.r - 1) * (SELECT MAX(n_all) FROM g) + 2 * s.n_src - 1)
           // (2 * s.n_src) AS gtarget
  FROM src s
),
joined AS (
  SELECT m.source, m.n_chars, g.v AS qn
  FROM mapped m JOIN g ON g.gidx = m.gtarget
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sql_round('AVG(n_chars)', 6)} AS mean_before,
       {sql_round('AVG(qn)', 6)} AS mean_after,
       CAST(MIN(qn) AS BIGINT) AS min_after,
       CAST(MAX(qn) AS BIGINT) AS max_after
FROM joined GROUP BY source ORDER BY source
"""


@register("quantile_normalization", oracle=_C128_ORACLE)
def quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of each source's
    document-length distribution onto the global distribution: doc at
    within-source rank r of n_src maps to the global order statistic
    at ceil((2r−1)·N/(2·n_src)) — after the transform every source
    has (up to discreteness) the SAME distribution, the batch-effect
    remover used on multi-source corpora before mixing (and the
    genomics-standard normalization), complementing C77's robust
    scaling (which fixes location/scale, not shape). Report per
    source: mean before/after and the after-range.

    Scale shape: two rank windows (one global, one per-source — each
    a single sort-shuffle) plus ONE equi-join on the target rank; the
    rank mapping is exact integer ceil-division, so both engines pick
    identical order statistics. At 100 TB the global rank window is
    the cost driver — a range-partitioned sort, the same shape as any
    global ORDER BY — and everything after is corpus-grain map work.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    g = docs.select(
        F.col("n_chars").alias("v"),
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("gidx"),
    )
    n_all = docs.agg(F.count(F.lit(1)).alias("n_all"))
    src = docs.select(
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("n_src"),
    )
    mapped = src.transform(scalars(n_all)).select(
        "source",
        "n_chars",
        F.floor(
            ((2 * F.col("r") - 1) * F.col("n_all") + 2 * F.col("n_src") - 1)
            / (2 * F.col("n_src"))
        )
        .cast("bigint")
        .alias("gtarget"),
    )
    joined = mapped.join(g, F.col("gidx") == F.col("gtarget")).select(
        "source", "n_chars", F.col("v").alias("qn")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            round_eps(F.avg("n_chars"), 6).alias("mean_before"),
            round_eps(F.avg("qn"), 6).alias("mean_after"),
            F.min("qn").cast("bigint").alias("min_after"),
            F.max("qn").cast("bigint").alias("max_after"),
        )
        .orderBy("source")
    )
