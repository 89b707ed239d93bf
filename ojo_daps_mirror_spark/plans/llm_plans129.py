"""Hundred-twenty-ninth sweep (SURVEY.md §2 B240, C211-C212).

PACF by Durbin-Levinson (the AR-order picker ACF cannot be: B93's
ACF says lag-k correlation EXISTS, PACF says whether it survives
conditioning on the lags between — generated as a LEVELED recursion
so both engines evaluate small named intermediates, not an
exponentially-inlined tree), Gonzalez farthest-point k-center coreset
over the embeddings (the geometric 'cover the space' data-selection
twin of C200's submodular cover, with the classic 2-approximation
radius), and token-budget water-filling across sources (the mixture
balancer: one exact closed-form level L so every source contributes
min(tokens, L) and the budget is hit exactly — sorted-prefix math,
no iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.vectors import cosine, sql_cosine
from ..operators.attach import attach_scalars, scalars
from ..sources import load_table, local_frame
from . import register

# ---------------------------------------------------------------- B240

PACF_L = 6


def _dl_sql_levels() -> str:
    """Durbin-Levinson as chained CTE levels over columns r1..rL —
    common subexpressions get NAMES, so the tree stays linear."""
    parts = ["l1 AS (SELECT *, r1 AS phi_1_1 FROM rs)"]
    prev = "l1"
    for k in range(2, PACF_L + 1):
        num = f"r{k}" + "".join(
            f" - phi_{k - 1}_{j} * r{k - j}" for j in range(1, k)
        )
        den = "1.0" + "".join(
            f" - phi_{k - 1}_{j} * r{j}" for j in range(1, k)
        )
        parts.append(
            f"l{k}a AS (SELECT *, ({num}) / ({den}) AS phi_{k}_{k}"
            f" FROM {prev})"
        )
        upd = ", ".join(
            f"phi_{k - 1}_{j} - phi_{k}_{k} * phi_{k - 1}_{k - j}"
            f" AS phi_{k}_{j}"
            for j in range(1, k)
        )
        parts.append(f"l{k} AS (SELECT *, {upd} FROM l{k}a)")
        prev = f"l{k}"
    return ",\n".join(parts)


_B240_ORACLE = f"""
WITH weekly AS (
  SELECT CAST(datediff('day', DATE '1970-01-05',
                       date_trunc('week', o_orderdate)::DATE) / 7
              AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
  FROM weekly
),
fv AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT) AS i,
         CAST(m.n * y - m.sy AS BIGINT) AS f, m.n
  FROM weekly, mom m
),
denom AS (
  SELECT CAST(SUM(CAST(f AS HUGEINT) * f) AS DOUBLE) AS ss,
         MAX(n) AS n
  FROM fv
),
lagsums AS (
  SELECT b.i - a.i AS lag,
         CAST(SUM(CAST(a.f AS HUGEINT) * b.f) AS DOUBLE) AS sab
  FROM fv a JOIN fv b ON b.i - a.i BETWEEN 1 AND {PACF_L}
  GROUP BY 1
),
rs AS (
  SELECT d.n,
         {", ".join(
             f"MAX(CASE WHEN lag = {k} THEN sab END) / MAX(d.ss) AS r{k}"
             for k in range(1, PACF_L + 1))}
  FROM lagsums, denom d
  GROUP BY d.n
),
{_dl_sql_levels()}
SELECT lag, pacf, n_weeks,
       {sql_round('1.959964 / sqrt(n_weeks)', 6)} AS band_95,
       CASE WHEN ABS(pacf) > 1.959964 / sqrt(CAST(n_weeks AS DOUBLE))
            THEN 1 ELSE 0 END AS significant_5pct
FROM (
  {" UNION ALL ".join(
      f"SELECT CAST({k} AS BIGINT) AS lag,"
      f" {sql_round(f'phi_{k}_{k}', 6)} AS pacf,"
      f" n AS n_weeks FROM l{PACF_L}"
      for k in range(1, PACF_L + 1))}
)
ORDER BY lag
"""


@register("pacf_durbin_levinson", oracle=_B240_ORACLE)
def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of weekly order volume to lag
    {PACF_L} by the Durbin-Levinson recursion — the AR-order picker:
    B93's ACF says lag-k correlation EXISTS; PACF says whether it
    survives conditioning on lags 1..k-1 (an AR(p) series cuts off
    after p in PACF but tails forever in ACF). The recursion is
    generated LEVEL BY LEVEL as named intermediate columns in both
    engines — the naive inlined expression tree grows exponentially
    in L, the leveled one is linear, and both engines evaluate the
    IDENTICAL small arithmetic at each level.

    Exactness: the biased-estimator ACF inputs are exact-integer
    ratios (n-scaled deviations f = n*y - sum_y, 128-bit lag
    cross-products), so the recursion starts from identical doubles
    and stays identical; +-1.96/sqrt(n) band flags.

    Scale shape: one fact aggregate, one bounded-band lag self-join
    of the |weeks| frame, then a 1-row recursion — free.
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
    mom = weekly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    fv = weekly.transform(scalars(mom)).select(
        F.row_number().over(Window.orderBy("w")).cast("bigint").alias("i"),
        (F.col("n") * F.col("y") - F.col("sy")).cast("bigint").alias("f"),
        "n",
    )
    fv = fv.persist()
    dec = "decimal(38,0)"
    denom = fv.agg(
        F.sum(F.col("f").cast(dec) * F.col("f")).cast("double").alias("ss"),
        F.max("n").alias("n"),
    )
    a = fv.alias("a")
    b = fv.alias("b")
    lagsums = (
        a.join(
            b,
            (F.col("b.i") - F.col("a.i")).between(1, PACF_L),
        )
        .groupBy((F.col("b.i") - F.col("a.i")).alias("lag"))
        .agg(
            F.sum(F.col("a.f").cast(dec) * F.col("b.f"))
            .cast("double")
            .alias("sab")
        )
    )
    rs = (
        lagsums.transform(scalars(denom))
        .groupBy("n")
        .agg(
            *[
                (
                    F.max(F.when(F.col("lag") == k, F.col("sab")))
                    / F.max("ss")
                ).alias(f"r{k}")
                for k in range(1, PACF_L + 1)
            ]
        )
    )
    df = rs.withColumn("phi_1_1", F.col("r1"))
    for k in range(2, PACF_L + 1):
        num = F.col(f"r{k}")
        den = F.lit(1.0)
        for j in range(1, k):
            num = num - F.col(f"phi_{k - 1}_{j}") * F.col(f"r{k - j}")
            den = den - F.col(f"phi_{k - 1}_{j}") * F.col(f"r{j}")
        df = df.withColumn(f"phi_{k}_{k}", num / den)
        for j in range(1, k):
            df = df.withColumn(
                f"phi_{k}_{j}",
                F.col(f"phi_{k - 1}_{j}")
                - F.col(f"phi_{k}_{k}") * F.col(f"phi_{k - 1}_{k - j}"),
            )
    stacked = df.select(
        F.col("n").alias("n_weeks"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("lag"),
                        round_eps(F.col(f"phi_{k}_{k}"), 6).alias("pacf"),
                    )
                    for k in range(1, PACF_L + 1)
                ]
            )
        ).alias("s"),
    ).select("s.lag", "s.pacf", "n_weeks")
    band = 1.959964 / F.sqrt(F.col("n_weeks").cast("double"))
    return stacked.select(
        "lag",
        "pacf",
        "n_weeks",
        round_eps(band, 6).alias("band_95"),
        (F.abs(F.col("pacf")) > band).cast("int").alias("significant_5pct"),
    ).orderBy("lag")


# ---------------------------------------------------------------- C211

KC_K = 8


def _kc_oracle() -> str:
    """Gonzalez farthest-point traversal unrolled k times."""
    head = """
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
),
c1 AS MATERIALIZED (SELECT MIN(vec_id) AS cid FROM e),
d1 AS MATERIALIZED (
  SELECT a.vec_id,
         1.0 - {cos} AS dmin
  FROM e a, (SELECT embedding AS ce FROM e
             WHERE vec_id = (SELECT cid FROM c1)) c
)""".format(cos=sql_cosine("a.embedding", "c.ce"))
    body = ""
    for t in range(2, KC_K + 1):
        body += f""",
c{t} AS MATERIALIZED (
  SELECT vec_id AS cid, dmin AS radius FROM d{t - 1}
  ORDER BY dmin DESC, vec_id LIMIT 1
),
d{t} AS MATERIALIZED (
  SELECT a.vec_id,
         LEAST(d{t - 1}.dmin, 1.0 - {sql_cosine("a.embedding", "c.ce")})
           AS dmin
  FROM e a
  JOIN d{t - 1} ON a.vec_id = d{t - 1}.vec_id
  , (SELECT embedding AS ce FROM e
     WHERE vec_id = (SELECT cid FROM c{t})) c
)"""
    steps = ["""  SELECT 1 AS step, (SELECT cid FROM c1) AS center_id,
         (SELECT MAX(dmin) FROM d1) AS radius_after"""]
    for t in range(2, KC_K + 1):
        steps.append(
            f"""  SELECT {t} AS step, (SELECT cid FROM c{t}) AS center_id,
         (SELECT MAX(dmin) FROM d{t}) AS radius_after"""
        )
    tail = f"""
SELECT CAST(step AS BIGINT) AS step, center_id,
       {sql_round('radius_after', 6)} AS radius_after
FROM (
{" UNION ALL ".join(steps)}
) ORDER BY step
"""
    return head + body + tail


@register("kcenter_coreset", oracle=_kc_oracle())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-point k-center coreset over the embeddings:
    seed at the smallest vec_id, then {KC_K - 1} times add the point
    FARTHEST from its nearest chosen center (cosine distance) — the
    geometric 'cover the space' selection with the classic 2-approx
    guarantee on covering radius, the twin of C200's submodular
    vocabulary cover (coverage in embedding space instead of token
    space; semdedup picks dense representatives, k-center picks
    SPREAD ones — together they bracket diversity selection).
    radius_after per step is the exact k-center objective and its
    monotone decrease is visible in the output.

    Exactness: cosine distances are identical double trees (shared
    left-to-right dot); argmax ties broken by vec_id; distances
    between distinct corpus vectors dwarf 1-ulp noise.

    Scale shape: per round ONE map-side least() against the single
    broadcast new center + one argmax reduction — the running dmin
    column is the O(n) state, centers are O(k) driver state (the
    dedup/pagerank loop-probe recipe); nothing pairwise ever forms.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    e = e.persist()
    seed_row = e.orderBy("vec_id").limit(1).collect()[0]

    def center_frame(vid):
        # The winner's ID is driver state (the O(k) loop-probe
        # recipe); the 1-row broadcast looks its vector up by an
        # equality filter on the PERSISTED base frame, so the lookup
        # runs inside the next round's single job (broadcast-side
        # subtree) — scalars(far_df) re-EXECUTED the whole TakeOrdered
        # top-1 pass inside every d_new evaluation (one extra job per
        # round, 20.3 s min-of-3 at sf0.1 before), and carrying the
        # 64-double vector through the argmax struct instead copies an
        # array per compared row (measured worse: 17.1 s vs 11.9).
        return e.where(F.col("vec_id") == vid).select(
            F.col("embedding").alias("ce")
        )

    d = e.transform(scalars(center_frame(int(seed_row["vec_id"])))).select(
        "vec_id",
        "embedding",
        (1.0 - cosine(F.col("embedding"), F.col("ce"))).alias("dmin"),
    )
    d = d.persist()

    # ONE aggregate per round returns BOTH the round's radius (max
    # dmin over d_t) and the next center ID (argmax over the same
    # d_t): max over struct(dmin, -vec_id) is exactly the
    # (dmin DESC, vec_id ASC) top-1, with no per-row array payload in
    # the comparison. Halves the per-round job count (radius agg +
    # separate TakeOrdered top-1 before).
    def round_agg(frame):
        r = frame.agg(
            F.max("dmin").alias("radius"),
            F.max(
                F.struct(
                    F.col("dmin").alias("d"),
                    (-F.col("vec_id")).alias("nid"),
                )
            ).alias("win"),
        ).collect()[0]
        return float(r["radius"]), int(-r["win"]["nid"])

    rows = [(1, int(seed_row["vec_id"]))]
    radius, winner = round_agg(d)
    radii = [radius]
    for t in range(2, KC_K + 1):
        rows.append((t, winner))
        d_new = d.transform(scalars(center_frame(winner))).select(
            "vec_id",
            "embedding",
            F.least(
                F.col("dmin"), 1.0 - cosine(F.col("embedding"), F.col("ce"))
            ).alias("dmin"),
        )
        d_new = d_new.persist()
        radius, winner = round_agg(d_new)
        radii.append(radius)
        d.unpersist()
        d = d_new
    out = local_frame(
        spark,
        [
            (step, cid, radii[i])
            for i, (step, cid) in enumerate(rows)
        ],
        "step bigint, center_id bigint, radius double",
    )
    return out.select(
        "step", "center_id", round_eps(F.col("radius"), 6).alias(
            "radius_after"
        )
    ).orderBy("step")


# ---------------------------------------------------------------- C212

WF_BUDGET_PCT = 50  # budget = this % of total corpus tokens

_C212_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(lower(text), '\\s+')) )
              AS BIGINT) AS toks
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(toks) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(toks) * {WF_BUDGET_PCT} // 100 AS BIGINT) AS budget
  FROM per_src
),
sorted_ AS (
  SELECT source, toks,
         CAST(ROW_NUMBER() OVER (ORDER BY toks, source) AS BIGINT) AS i,
         CAST(SUM(toks) OVER (ORDER BY toks, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM per_src
),
levels AS (
  SELECT s.i, s.toks, s.cum, t.k, t.budget, t.total,
         (CAST(t.budget AS DOUBLE) - (s.cum - s.toks)) / (t.k - s.i + 1)
           AS lv
  FROM sorted_ s, tot t
),
pick AS (
  SELECT * FROM levels
  WHERE lv <= toks
  ORDER BY i LIMIT 1
),
level_final AS (
  SELECT COALESCE((SELECT lv FROM pick),
                  (SELECT CAST(MAX(toks) AS DOUBLE) FROM per_src)) AS lv,
         (SELECT budget FROM tot) AS budget,
         (SELECT total FROM tot) AS total
)
SELECT p.source, p.toks AS source_tokens,
       {sql_round('LEAST(CAST(p.toks AS DOUBLE), l.lv)', 4)}
         AS allocated_tokens,
       {sql_round('LEAST(CAST(p.toks AS DOUBLE), l.lv) * 100.0 / p.toks',
                  4)} AS kept_pct,
       {sql_round('l.lv', 4)} AS water_level,
       l.budget, l.total AS corpus_tokens
FROM per_src p, level_final l
ORDER BY p.source
"""


@register("token_budget_waterfill", oracle=_C212_ORACLE)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling across sources: spend a budget of
    {WF_BUDGET_PCT}% of corpus tokens so that every source
    contributes min(its tokens, L) with ONE exact closed-form level
    L — the mixture balancer that caps dominant sources and keeps
    small ones whole (the deterministic core of 'rebalance the
    crawl before training'; temperature_mixing reweights by a power
    law, this hits an exact budget). L falls out of the sorted
    prefix: the first source (ascending) whose size exceeds
    (budget - smaller-sources-sum) / #remaining fixes the waterline
    — no iteration, no solver.

    Exactness: token counts and the budget are exact integers; L is
    a ratio of exact integers; allocations are one LEAST and one
    divide.

    Scale shape: one (source) aggregate (map-side combinable over
    any corpus), a |sources|-row sorted prefix window, one 1-row
    broadcast of the level back onto sources.
    """
    per_src = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.lower(F.col("text")), r"\s+")))
            .cast("bigint")
            .alias("toks")
        )
    )
    per_src = per_src.persist()
    tot = per_src.agg(
        F.sum("toks").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.expr(f"(sum(toks) * {WF_BUDGET_PCT}) div 100")
        .cast("bigint")
        .alias("budget"),
    )
    w_cum = (
        Window.orderBy("toks", "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sorted_ = per_src.select(
        "source",
        "toks",
        F.row_number().over(Window.orderBy("toks", "source"))
        .cast("bigint")
        .alias("i"),
        F.sum("toks").over(w_cum).cast("bigint").alias("cum"),
    )
    levels = attach_scalars(sorted_, tot).select(
        "i",
        "toks",
        (
            (F.col("budget").cast("double") - (F.col("cum") - F.col("toks")))
            / (F.col("k") - F.col("i") + 1)
        ).alias("lv"),
    )
    pick = levels.where(F.col("lv") <= F.col("toks")).orderBy("i").limit(1)
    max_toks = per_src.agg(
        F.max("toks").cast("double").alias("mx")
    )
    # pick may be empty (budget >= total corpus) — fall back to the
    # largest source size, i.e. nothing is capped. When pick exists
    # its level is <= that source's tokens <= max_toks, so taking the
    # MIN of the union reproduces the oracle's COALESCE exactly.
    level_final = (
        pick.select("lv")
        .unionByName(max_toks.select(F.col("mx").alias("lv")))
        .orderBy(F.col("lv"))
        .limit(1)
    )
    out = (
        attach_scalars(attach_scalars(per_src, level_final), tot)
    )
    alloc = F.least(F.col("toks").cast("double"), F.col("lv"))
    return out.select(
        "source",
        F.col("toks").alias("source_tokens"),
        round_eps(alloc, 4).alias("allocated_tokens"),
        round_eps(alloc * 100.0 / F.col("toks"), 4).alias("kept_pct"),
        round_eps(F.col("lv"), 4).alias("water_level"),
        "budget",
        F.col("total").alias("corpus_tokens"),
    ).orderBy("source")
