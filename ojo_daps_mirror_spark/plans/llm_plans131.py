"""Hundred-thirty-first sweep (SURVEY.md §2 B243, C214-C215).

Murphy decomposition of the Brier score (reliability - resolution +
uncertainty: WHY is the score what it is — C-track calibration/ECE
give the reliability curve, this is the exact additive accounting on
binned forecasts), the minhash-LSH S-curve audit (the 1-(1-s^r)^b
design formula CHECKED against measured band collisions per exact-
Jaccard decile — the tuning chart for every threshold the dedup
pipelines hard-code), and a t-closeness audit (the third rung of the
privacy ladder after k-anonymity and l-diversity: even a diverse
class leaks if its sensitive DISTRIBUTION sits far from the global
one — ordered EMD per class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.text import hash64, sql_hash64
from ..operators.attach import attach_scalars
from ..sources import load_table
from . import register

# ---------------------------------------------------------------- B243

BRIER_BINS = 10

_B243_ORACLE = f"""
WITH scored AS (
  SELECT CAST(ROUND(value * 100 + 1e-9) AS BIGINT) AS s,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS BIGINT) AS y
  FROM events
),
mx AS (SELECT CAST(MAX(s) AS BIGINT) AS smax FROM scored),
binned AS (
  SELECT LEAST(s * {BRIER_BINS} // m.smax, {BRIER_BINS - 1}) AS k,
         CAST(s AS DOUBLE) / m.smax AS p, y
  FROM scored, mx m
),
per_bin AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS nk,
         SUM(p) / COUNT(*) AS pbar,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM binned GROUP BY k
),
tot AS (
  SELECT CAST(SUM(nk) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS npos,
         SUM(nk * (pbar - CAST(pos AS DOUBLE) / nk)
                * (pbar - CAST(pos AS DOUBLE) / nk)) AS rel_num,
         SUM(nk * (CAST(pos AS DOUBLE) / nk) * (CAST(pos AS DOUBLE) / nk))
           AS res_raw
  FROM per_bin
),
stat AS (
  SELECT n, npos,
         CAST(npos AS DOUBLE) / n AS ybar,
         rel_num / n AS rel,
         res_raw / n - (CAST(npos AS DOUBLE) / n)
           * (CAST(npos AS DOUBLE) / n) AS res
  FROM tot
)
SELECT n AS n_events,
       {sql_round('ybar', 6)} AS base_rate,
       {sql_round('ybar * (1.0 - ybar)', 6)} AS uncertainty,
       {sql_round('rel', 6)} AS reliability,
       {sql_round('res', 6)} AS resolution,
       {sql_round('rel - res + ybar * (1.0 - ybar)', 6)}
         AS brier_binned,
       CASE WHEN res > rel THEN 1 ELSE 0 END AS skill_positive
FROM stat
"""


@register("brier_decomposition", oracle=_B243_ORACLE)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the max-scaled
    event value as a purchase-probability forecast: Brier =
    RELIABILITY - RESOLUTION + UNCERTAINTY on {BRIER_BINS} forecast
    bins (bin-mean forecast, so the identity is EXACT). The
    calibration curve (C-track) shows the reliability gap bin by
    bin; this prices it: uncertainty is the no-skill floor ybar(1-ybar),
    resolution is what sorting into bins buys, reliability is what
    miscalibration costs — and skill exists iff RES > REL (the
    Brier skill score's sign, computed without a reference model).

    Exactness: bin assignment is integer arithmetic off the exact
    max; bin means are ratios of exact integers; the decomposition
    is one double tree.

    Scale shape: one map-side bin + one {BRIER_BINS}-group
    aggregate + one reduction.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100 + 1e-9).cast("bigint").alias("s"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
    )
    mx = ev.agg(F.max("s").cast("bigint").alias("smax"))
    binned = attach_scalars(ev, mx).select(
        F.least(
            F.expr(f"(s * {BRIER_BINS}) div smax"), F.lit(BRIER_BINS - 1)
        ).alias("k"),
        (F.col("s").cast("double") / F.col("smax")).alias("p"),
        "y",
    )
    per_bin = binned.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        (F.sum("p") / F.count(F.lit(1))).alias("pbar"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    yk = F.col("pos").cast("double") / F.col("nk")
    tot = per_bin.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum(
            F.col("nk") * (F.col("pbar") - yk) * (F.col("pbar") - yk)
        ).alias("rel_num"),
        F.sum(F.col("nk") * yk * yk).alias("res_raw"),
    )
    ybar = F.col("npos").cast("double") / F.col("n")
    rel = F.col("rel_num") / F.col("n")
    res = F.col("res_raw") / F.col("n") - ybar * ybar
    return tot.select(
        F.col("n").alias("n_events"),
        round_eps(ybar, 6).alias("base_rate"),
        round_eps(ybar * (1.0 - ybar), 6).alias("uncertainty"),
        round_eps(rel, 6).alias("reliability"),
        round_eps(res, 6).alias("resolution"),
        round_eps(rel - res + ybar * (1.0 - ybar), 6).alias(
            "brier_binned"
        ),
        (res > rel).cast("int").alias("skill_positive"),
    )


# ---------------------------------------------------------------- C214

LSH_R = 4  # rows per band
LSH_B = 8  # bands
LSH_SAMPLE_MOD = 10
LSH_SAMPLE_KEEP = 2  # doc_id % 10 < 2 -> 20% sample


def _sig_cte() -> str:
    """Shared (doc, band, row) minhash over word-bigram shingles."""
    return f"""
sample_docs AS MATERIALIZED (
  SELECT doc_id, lower(text) AS text FROM documents
  WHERE doc_id % {LSH_SAMPLE_MOD} < {LSH_SAMPLE_KEEP}
),
toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM sample_docs
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS g
  FROM toks, UNNEST(range(1, len(ts))) AS u(i)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh
          GROUP BY doc_id),
sig AS MATERIALIZED (
  SELECT doc_id, h.f AS f,
         CAST(MIN({sql_hash64("f || '|' || g")}) AS BIGINT) AS mh
  FROM sh, UNNEST(range(0, {LSH_R * LSH_B})) AS h(f)
  GROUP BY doc_id, h.f
)"""


_C214_ORACLE = f"""
WITH {_sig_cte()},
band_keys AS (
  SELECT doc_id, f // {LSH_R} AS band,
         {sql_hash64(
             "string_agg(CAST(mh AS VARCHAR), ',' ORDER BY f)")} AS bk
  FROM sig GROUP BY doc_id, f // {LSH_R}
),
collisions AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(COUNT(*) AS BIGINT) AS bands_hit
  FROM band_keys a JOIN band_keys b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
ovl AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jacc AS (
  SELECT o.d1, o.d2,
         CAST(o.inter AS DOUBLE) / (s1.sz + s2.sz - o.inter) AS j,
         COALESCE(c.bands_hit, 0) AS bands_hit
  FROM ovl o
  JOIN sizes s1 ON o.d1 = s1.doc_id
  JOIN sizes s2 ON o.d2 = s2.doc_id
  LEFT JOIN collisions c ON o.d1 = c.d1 AND o.d2 = c.d2
),
bucketed AS (
  SELECT LEAST(CAST(FLOOR(j * 10) AS BIGINT), 9) AS decile,
         CAST(COUNT(*) AS BIGINT) AS pairs,
         SUM(j) / COUNT(*) AS mean_j,
         CAST(SUM(CASE WHEN bands_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS collided
  FROM jacc GROUP BY 1
)
SELECT decile, pairs,
       {sql_round('mean_j', 6)} AS mean_jaccard,
       {sql_round('CAST(collided AS DOUBLE) / pairs', 6)}
         AS measured_collision,
       {sql_round(
           f'1.0 - exp({LSH_B} * ln(1.0 - exp({LSH_R} * ln(mean_j))))',
           6)} AS theoretical_collision
FROM bucketed
ORDER BY decile
"""


@register("lsh_s_curve_audit", oracle=_C214_ORACLE)
def lsh_s_curve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minhash-LSH S-curve audited: with r = {LSH_R} rows x
    b = {LSH_B} bands, design theory says a pair of Jaccard s
    collides with probability 1-(1-s^r)^b — this measures it. On a
    deterministic 20% doc sample, exact bigram-shingle Jaccard per
    overlapping pair (ground truth) meets the pair's ACTUAL band
    collisions from real minhash signatures, bucketed by Jaccard
    decile: measured_collision vs the formula at the bucket mean.
    This is the tuning chart under every hard-coded threshold in
    dedup_minhash_lsh / lsh_candidate_precision — where the curve
    sags below theory, signatures are correlated and the pipeline's
    recall claim is optimistic.

    Exactness: signatures, band keys, collision and overlap counts
    are exact integers from the shared md5 hash64 (band key = hash
    of the ordered row-min string, identical both engines); Jaccard
    is a ratio of exact integers.

    Scale shape: signatures are one (doc, func) aggregate; band
    collisions one equi-join on (band, key) — the LSH join itself;
    exact Jaccard stays on the SAMPLE (the all-pairs truth is the
    audit's cost, not the pipeline's), overlap-join pruned to
    co-shingle pairs.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % LSH_SAMPLE_MOD < LSH_SAMPLE_KEEP)
        .select("doc_id", F.lower(F.col("text")).alias("text"))
    )
    sh = (
        docs.select(
            "doc_id", F.split(F.col("text"), r"\s+").alias("ts")
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                    " (x, i) -> concat(x, ' ', ts[i + 1]))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    sig = (
        sh.select(
            "doc_id",
            "g",
            F.explode(
                F.array(*[F.lit(f) for f in range(LSH_R * LSH_B)])
            ).alias("f"),
        )
        .groupBy("doc_id", "f")
        .agg(
            F.min(
                hash64(
                    F.concat(
                        F.col("f").cast("string"), F.lit("|"), F.col("g")
                    )
                )
            )
            .cast("bigint")
            .alias("mh")
        )
    )
    band_keys = (
        sig.groupBy(
            "doc_id", F.expr(f"f div {LSH_R}").alias("band")
        )
        .agg(
            hash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("f", "mh"))
                        ),
                        lambda s: s["mh"].cast("string"),
                    ),
                )
            ).alias("bk")
        )
    )
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    collisions = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("bands_hit"))
    )
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    overlaps = (
        s1.join(
            s2,
            (F.col("s1.g") == F.col("s2.g"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .groupBy(
            F.col("s1.doc_id").alias("d1"), F.col("s2.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    jacc = (
        overlaps.join(
            sizes.select(
                F.col("doc_id").alias("d1"), F.col("sz").alias("sz1")
            ),
            "d1",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("d2"), F.col("sz").alias("sz2")
            ),
            "d2",
        )
        .join(collisions, ["d1", "d2"], "left")
        .select(
            (
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter"))
            ).alias("j"),
            F.coalesce(F.col("bands_hit"), F.lit(0)).alias("bands_hit"),
        )
    )
    bucketed = jacc.groupBy(
        F.least((F.col("j") * 10).cast("bigint"), F.lit(9)).alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("pairs"),
        (F.sum("j") / F.count(F.lit(1))).alias("mean_j"),
        F.sum((F.col("bands_hit") > 0).cast("int"))
        .cast("bigint")
        .alias("collided"),
    )
    theo = 1.0 - F.exp(
        LSH_B * F.log(1.0 - F.exp(LSH_R * F.log(F.col("mean_j"))))
    )
    return bucketed.select(
        "decile",
        "pairs",
        round_eps(F.col("mean_j"), 6).alias("mean_jaccard"),
        round_eps(
            F.col("collided").cast("double") / F.col("pairs"), 6
        ).alias("measured_collision"),
        round_eps(theo, 6).alias("theoretical_collision"),
    ).orderBy("decile")


# ---------------------------------------------------------------- C215

TC_BANDS = 10
TC_THRESHOLD = 0.2

_C215_ORACLE = f"""
WITH banded AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
         CAST(LEAST(CAST(FLOOR((c_acctbal - mn) * {TC_BANDS}
                               / (mx - mn + 1e-9)) AS BIGINT),
                    {TC_BANDS - 1}) AS BIGINT) AS band
  FROM customer,
       (SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx FROM customer)
),
gstats AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS gc,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS gn
  FROM banded GROUP BY band
),
cls AS (
  SELECT nationkey, mktsegment, band, CAST(COUNT(*) AS BIGINT) AS cc
  FROM banded GROUP BY 1, 2, 3
),
cls_tot AS (
  SELECT nationkey, mktsegment, CAST(SUM(cc) AS BIGINT) AS cn
  FROM cls GROUP BY 1, 2
),
grid AS (
  SELECT t.nationkey, t.mktsegment, g.band, g.gc, g.gn, t.cn,
         COALESCE(c.cc, 0) AS cc
  FROM cls_tot t CROSS JOIN gstats g
  LEFT JOIN cls c ON c.nationkey = t.nationkey
                 AND c.mktsegment = t.mktsegment AND c.band = g.band
),
cum AS (
  SELECT nationkey, mktsegment, cn, gn,
         CAST(SUM(cc * gn - gc * cn)
                OVER (PARTITION BY nationkey, mktsegment ORDER BY band
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS num,
         band
  FROM grid
),
emd AS (
  SELECT nationkey, mktsegment, MAX(cn) AS class_size,
         CAST(SUM(ABS(num)) AS DOUBLE)
           / CAST(MAX(cn) * MAX(gn) * ({TC_BANDS} - 1) AS DOUBLE) AS t_dist
  FROM cum WHERE band < {TC_BANDS - 1} + 1
  GROUP BY nationkey, mktsegment
),
ranked AS (
  SELECT nationkey, mktsegment, class_size, t_dist,
         ROW_NUMBER() OVER (ORDER BY t_dist DESC, nationkey, mktsegment)
           AS rk
  FROM emd
)
SELECT CAST(rk AS BIGINT) AS rank, nationkey, mktsegment, class_size,
       {sql_round('t_dist', 6)} AS t_closeness,
       CASE WHEN t_dist > {TC_THRESHOLD!r} THEN 1 ELSE 0 END
         AS violates_t02
FROM ranked WHERE rk <= 10
ORDER BY rank
"""


@register("t_closeness_audit", oracle=_C215_ORACLE)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder on
    the same quasi-identifier classes as k_anonymity_audit
    (nation x market segment), sensitive attribute = account-balance
    decile band: a class can be k-anonymous AND l-diverse yet still
    leak if its sensitive DISTRIBUTION sits far from the global one
    (everyone in the class is rich). Distance is the ordered-
    attribute EMD of Li-Li-Venkatasubramanian: sum of |CDF gaps| over
    the ordered bands divided by (m-1). Top-10 worst classes with
    the t = {TC_THRESHOLD} violation flag.

    Exactness: band assignment is the identical min-max integer
    arithmetic; each CDF gap is the exact integer numerator
    cumsum(cc*gn - gc*cn) over cn*gn, so the distance is one division
    of two exact integers, whatever order rows reach the sums in (a
    double running sum made the ranking of near-equal classes depend
    on that order).

    Scale shape: two grouped counts + a |classes| x {TC_BANDS} dense
    grid (zero-filled by construction) + one cumulative window per
    class — no row-level data leaves the first aggregate.
    """
    cust = load_table(spark, sf_dir, "customer")
    mm = cust.agg(
        F.min("c_acctbal").alias("mn"), F.max("c_acctbal").alias("mx")
    )
    banded = attach_scalars(cust, mm).select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.least(
            (
                (F.col("c_acctbal") - F.col("mn"))
                * TC_BANDS
                / (F.col("mx") - F.col("mn") + 1e-9)
            ).cast("bigint"),
            F.lit(TC_BANDS - 1),
        )
        .cast("bigint")
        .alias("band"),
    )
    glob = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("gc")
    )
    glob = glob.select(
        "band",
        "gc",
        F.sum("gc").over(Window.partitionBy()).cast("bigint").alias("gn"),
    )
    cls = banded.groupBy("nationkey", "mktsegment", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    cls_tot = cls.groupBy("nationkey", "mktsegment").agg(
        F.sum("cc").cast("bigint").alias("cn")
    )
    grid = (
        attach_scalars(cls_tot, glob)
        .join(cls, ["nationkey", "mktsegment", "band"], "left")
        .select(
            "nationkey",
            "mktsegment",
            "band",
            "gc",
            "gn",
            "cn",
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
        )
    )
    w_cum = (
        Window.partitionBy("nationkey", "mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "nationkey",
        "mktsegment",
        "cn",
        "gn",
        "band",
        F.sum(F.col("cc") * F.col("gn") - F.col("gc") * F.col("cn"))
        .over(w_cum)
        .alias("num"),
    )
    emd = (
        cum.where(F.col("band") < TC_BANDS)
        .groupBy("nationkey", "mktsegment")
        .agg(
            F.max("cn").alias("class_size"),
            (
                F.sum(F.abs(F.col("num"))).cast("double")
                / (F.max("cn") * F.max("gn") * (TC_BANDS - 1)).cast("double")
            ).alias("t_dist"),
        )
    )
    ranked = emd.select(
        F.row_number()
        .over(
            Window.orderBy(
                F.col("t_dist").desc(), "nationkey", "mktsegment"
            )
        )
        .cast("bigint")
        .alias("rank"),
        "nationkey",
        "mktsegment",
        "class_size",
        round_eps(F.col("t_dist"), 6).alias("t_closeness"),
        (F.col("t_dist") > TC_THRESHOLD).cast("int").alias("violates_t02"),
    )
    return ranked.where(F.col("rank") <= 10).orderBy("rank")
