"""Hundred-twenty-second sweep (SURVEY.md §2 B230, C200).

Filliben's probability-plot correlation normality test (built on a
new shared Acklam normal-quantile primitive — functions/stats.py now
carries Phi AND Phi^-1 as identical cross-engine arithmetic), and a
greedy facility-location vocabulary cover (select the k documents
that jointly cover the most token-BIGRAM vocabulary — the submodular
data-selection kernel, run as k distributed argmax rounds with the
standard 1-1/e greedy guarantee, hash-matched against a
k-times-unrolled oracle; bigrams because the corpus's unigram
vocabulary is small enough that one document covers it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.stats import normal_ppf, sql_normal_ppf
from ..sources import load_table, local_frame
from . import register

# ---------------------------------------------------------------- B230

PPCC_CRIT_N100 = 0.9873  # Filliben (1975) 5% point at n=100 (public);
# indicative only — the test size drifts with n.

_B230_ORACLE = f"""
WITH weekly AS (
  SELECT CAST(datediff('day', DATE '1970-01-05',
                       date_trunc('week', o_orderdate)::DATE) / 7
              AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT y,
         CAST(ROW_NUMBER() OVER (ORDER BY y, w) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM weekly
),
scored AS (
  SELECT y, n,
         {sql_normal_ppf('(i - 0.375) / (n + 0.25)')} AS m
  FROM ranked
),
sums AS (
  SELECT MAX(n) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         SUM(m) AS sm, SUM(m * m) AS smm, SUM(y * m) AS sym
  FROM scored
)
SELECT n AS n_weeks,
       {sql_round(
           '(n * sym - sy * sm)'
           ' / sqrt((n * syy - CAST(sy AS DOUBLE) * sy)'
           '        * (n * smm - sm * sm))', 6)} AS ppcc_r,
       {sql_round(
           '((n * sym - sy * sm)'
           ' / sqrt((n * syy - CAST(sy AS DOUBLE) * sy)'
           '        * (n * smm - sm * sm)))'
           ' * ((n * sym - sy * sm)'
           ' / sqrt((n * syy - CAST(sy AS DOUBLE) * sy)'
           '        * (n * smm - sm * sm)))', 6)} AS r_squared,
       {PPCC_CRIT_N100!r} AS filliben_crit_n100,
       CASE WHEN (n * sym - sy * sm)
                 / sqrt((n * syy - CAST(sy AS DOUBLE) * sy)
                        * (n * smm - sm * sm)) < {PPCC_CRIT_N100!r}
            THEN 1 ELSE 0 END AS below_crit_indicative
FROM sums
"""


@register("ppcc_normality", oracle=_B230_ORACLE)
def ppcc_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filliben probability-plot correlation test of normality on
    weekly order volume: correlate the order statistics against
    Blom-position normal quantiles Phi^-1((i-0.375)/(n+0.25)) — the
    number a Q-Q plot eyeballs. r near 1 certifies the normal
    approximation every z-based monitor in the B-track leans on;
    r visibly below Filliben's tabulated point (n=100 value shown,
    indicative) says the tails are wrong and those monitors' false-
    alarm rates are not what their z-thresholds claim. Phi^-1 is the
    new shared Acklam primitive (functions/stats.py) — the same
    three-branch rational arithmetic in both engines, partnering the
    A&S erf the p-value family already shares.

    Exactness: ranks are exact (value-then-week tiebreak), y-moments
    exact 128-bit integers; the quantile scores and the correlation
    are identical double trees.

    Scale shape: one fact aggregate to |weeks| rows, one rank
    window, one reduction.
    """
    weekly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.datediff(
                    F.date_trunc("week", F.col("o_orderdate")).cast("date"),
                    F.lit("1970-01-05").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("w")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    w_all = Window.partitionBy()
    ranked = weekly.select(
        "y",
        F.row_number().over(Window.orderBy("y", "w")).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    scored = ranked.select(
        "y",
        "n",
        normal_ppf((F.col("i") - 0.375) / (F.col("n") + 0.25)).alias("m"),
    )
    dec = "decimal(38,0)"
    sums = scored.agg(
        F.max("n").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast("double").alias("syy"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum(F.col("y") * F.col("m")).alias("sym"),
    )
    nd = F.col("n").cast("double")
    r = (nd * F.col("sym") - F.col("sy") * F.col("sm")) / F.sqrt(
        (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        * (nd * F.col("smm") - F.col("sm") * F.col("sm"))
    )
    return sums.select(
        F.col("n").alias("n_weeks"),
        round_eps(r, 6).alias("ppcc_r"),
        round_eps(r * r, 6).alias("r_squared"),
        F.lit(PPCC_CRIT_N100).alias("filliben_crit_n100"),
        (r < PPCC_CRIT_N100).cast("int").alias("below_crit_indicative"),
    )


# ---------------------------------------------------------------- C200

GVC_K = 8  # greedy rounds


def _gvc_oracle() -> str:
    """k-times-unrolled greedy facility-location cover.

    The (doc, bigram) frame and every cumulative covered set are
    MATERIALIZED so the unrolled plan tokenises the corpus once
    instead of re-inlining the split into all k rounds.
    """
    head = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts
  FROM documents
),
dt AS MATERIALIZED (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS tok
  FROM toks, UNNEST(range(1, len(ts))) AS u(i)
),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM dt),
p1 AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
  FROM dt GROUP BY doc_id ORDER BY g DESC, doc_id LIMIT 1
),
c1 AS MATERIALIZED (
  SELECT DISTINCT tok FROM dt
  WHERE doc_id IN (SELECT doc_id FROM p1)
)"""
    body = ""
    for t in range(2, GVC_K + 1):
        prev_picks = " UNION ALL ".join(
            f"SELECT doc_id FROM p{j}" for j in range(1, t)
        )
        body += f""",
g{t} AS (
  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS g
  FROM dt d LEFT JOIN c{t - 1} c ON d.tok = c.tok
  WHERE c.tok IS NULL
    AND d.doc_id NOT IN ({prev_picks})
  GROUP BY d.doc_id
),
p{t} AS MATERIALIZED (
  SELECT doc_id, g FROM g{t} ORDER BY g DESC, doc_id LIMIT 1
),
c{t} AS MATERIALIZED (
  SELECT tok FROM c{t - 1}
  UNION
  SELECT tok FROM dt WHERE doc_id IN (SELECT doc_id FROM p{t})
)"""
    steps = "\n  UNION ALL\n".join(
        f"""  SELECT {t} AS step, p{t}.doc_id, p{t}.g AS gain,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c{t}) AS covered_cum
  FROM p{t}"""
        for t in range(1, GVC_K + 1)
    )
    tail = f"""
SELECT CAST(step AS BIGINT) AS step, doc_id, gain, covered_cum,
       {sql_round('covered_cum * 100.0 / (SELECT v FROM vocab)', 4)}
         AS coverage_pct
FROM (
{steps}
) ORDER BY step
"""
    return head + body + tail


@register("greedy_vocab_cover", oracle=_gvc_oracle())
def greedy_vocab_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location cover: the {GVC_K} documents that
    jointly cover the most token-bigram vocabulary, picked one
    distributed argmax round at a time (classic submodular greedy,
    within 1-1/e of the optimal cover at every prefix; bigram grain
    because this corpus's unigram vocabulary fits in one document). This is the data-selection
    kernel — 'choose k exemplars that span the corpus' — run
    Spark-shaped: per round ONE anti-join + aggregate over the
    (doc, token) frame scores every remaining candidate's marginal
    gain, the winner's tokens (a few hundred rows) come back to the
    driver as loop state exactly like the dedup/pagerank round
    probes, and nothing pairwise is ever materialised. Hash-matched
    against a {GVC_K}x-unrolled oracle, deterministic tiebreak
    (max gain, then min doc_id).

    Exactness: gains and coverage counts are exact integers; picks
    are therefore identical in both engines by construction.

    Scale shape: k rounds x (broadcast anti-join of the covered
    token set + one map-side-combined aggregate). Covered-set state
    is O(k * tokens-per-doc) — driver-safe at any corpus size; the
    (doc, token) frame is built once and persisted.
    """
    dt = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.split(F.lower(F.col("text")), r"\s+").alias("ts"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(ts, 1, size(ts) - 1),"
                    " (x, i) -> concat(x, ' ', ts[i + 1]))"
                )
            ).alias("tok"),
        )
        .distinct()
    )
    dt = dt.persist()
    picked: list[int] = []
    covered_cnt = 0
    rows = []
    covered = None
    for step in range(1, GVC_K + 1):
        remaining = dt.where(~F.col("doc_id").isin(picked)) if picked else dt
        if covered is not None:
            gains_src = remaining.join(covered, "tok", "left_anti")
        else:
            gains_src = remaining
        picks = (
            gains_src.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("g"))
            .orderBy(F.col("g").desc(), F.col("doc_id").asc())
            .limit(1)
            .collect()
        )
        if not picks:
            # vocabulary exhausted before K rounds — the unrolled
            # oracle's LIMIT-1 CTEs likewise go empty and stop
            # contributing step rows, so break to match.
            break
        pick_row = picks[0]
        picked.append(pick_row["doc_id"])
        covered = dt.where(F.col("doc_id").isin(picked)).select("tok").distinct()
        covered = covered.persist()
        # the pick's gain counts exactly the tokens that are NEW to the
        # covered set (dt is (doc, tok)-distinct and gains_src is
        # anti-joined on covered), so the cumulative covered count is
        # the running sum of gains — no covered.count() job per round
        # (guide §5; the persist still materializes lazily at the next
        # round's anti-join)
        covered_cnt += int(pick_row["g"])
        rows.append(
            (step, int(pick_row["doc_id"]), int(pick_row["g"]), covered_cnt)
        )
    schema = StructType(
        [
            StructField("step", LongType(), False),
            StructField("doc_id", LongType(), False),
            StructField("gain", LongType(), False),
            StructField("covered_cum", LongType(), False),
        ]
    )
    out = local_frame(spark, rows, schema)
    # |vocab| attaches as a broadcast 1-row scalar over the persisted
    # (doc, tok) frame — never an eager distinct().count() in the query
    # path (guide §5; same double arithmetic as the old int literal)
    from ..operators.attach import scalars

    tv = dt.agg(F.count_distinct("tok").alias("tv"))
    return (
        out.transform(scalars(tv))
        .select(
            "step",
            "doc_id",
            "gain",
            "covered_cum",
            round_eps(F.col("covered_cum") * 100.0 / F.col("tv"), 4).alias(
                "coverage_pct"
            ),
        )
        .orderBy("step")
    )
