"""Fourteenth sweep (SURVEY.md §2 B51, C69–C71).

Session path analysis (clickstream pattern mining), contrastive
positive/hard-negative pair mining over the embedding space,
deterministic MLM token-masking corruption, and an equi-depth document
length histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.text import hash64, sql_hash64, sql_tokens, tokens
from ..functions.vectors import sql_cosine, top_k, unit_rows
from ..operators.attach import scalars
from ..sources import load_table
from .vector_plans import QUERY_PANEL_K, query_panel
from .. import scale_mode as sm
from . import register

# ---------------------------------------------------------------- B51

PATH_MAX_EVENTS = 8
PATH_TOP_K = 10

_B51_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM ordered
),
capped AS (
  SELECT user_id, session_idx, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, session_idx
                            ORDER BY ts, event_id) AS rn
  FROM sessions
),
paths AS (
  SELECT user_id, session_idx,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM capped WHERE rn <= {PATH_MAX_EVENTS}
  GROUP BY user_id, session_idx
),
counted AS (
  SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
),
total AS (SELECT SUM(n_sessions) AS t FROM counted)
SELECT path, n_sessions,
       {sql_round('n_sessions * 100.0 / (SELECT t FROM total)', 6)} AS share_pct
FROM counted
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP_K}
"""


@register("session_path_analysis", oracle=_B51_ORACLE)
def session_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream pattern mining: the {PATH_TOP_K} most common session
    paths (each session's first {PATH_MAX_EVENTS} event types joined
    with '>'), with the share of all sessions they cover.

    Reuses the B5 sessionize operator (one (user, time) shuffle), then
    builds each session's path with ONE groupBy whose collect_list is
    made deterministic by array_sort over (ts, event_id, type) structs
    — never an ordered-aggregation assumption. The path table is
    pattern-vocabulary-sized: the share window and top-k
    (TakeOrderedAndProject) run on it, not on events.
    """
    from ..operators.sessionize import sessionize

    sess = sessionize(load_table(spark, sf_dir, "events"))
    paths = (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("evs", 1, PATH_MAX_EVENTS), lambda e: e["event_type"]
                ),
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        counted.withColumn("t", F.sum("n_sessions").over(Window.partitionBy()))
        .select(
            "path",
            "n_sessions",
            round_eps(F.col("n_sessions") * 100.0 / F.col("t"), 6).alias(
                "share_pct"
            ),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


# ---------------------------------------------------------------- C69

PAIR_MOD = 5  # vec_id % 5 == 0 → anchor subset

_C69_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id % {PAIR_MOD} = 0 ORDER BY vec_id LIMIT {QUERY_PANEL_K}),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS nid, v.label AS nlabel,
         q.label AS qlabel, {sql_cosine('q.embedding', 'v.embedding')} AS cos
  FROM q JOIN v ON q.vec_id <> v.vec_id
),
pos AS (
  SELECT query_id, nid, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
  FROM scored WHERE nlabel = qlabel
),
neg AS (
  SELECT query_id, nid, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
  FROM scored WHERE nlabel <> qlabel
)
SELECT pos.query_id,
       pos.nid AS pos_id, ROUND(pos.cos + 1e-9, 4) AS pos_cos,
       neg.nid AS neg_id, ROUND(neg.cos + 1e-9, 4) AS neg_cos
FROM pos JOIN neg ON pos.query_id = neg.query_id
WHERE pos.rn = 1 AND neg.rn = 1
ORDER BY pos.query_id
"""


@register("contrastive_pair_mining", oracle=_C69_ORACLE)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining over the embedding column: for
    each anchor (vec_id % {PAIR_MOD}), the most-similar SAME-label
    vector (positive) and the most-similar OTHER-label vector (the hard
    negative) — the batch-mining step behind contrastive/triplet
    fine-tuning (SimCSE/SBERT-style).

    The anchor matrix (ids, labels, normalised vectors) broadcasts; the
    corpus STREAMS through one mapInPandas BLAS pass that emits only
    each batch's best positive and best negative per anchor (≤ 2·|Q|
    rows per batch); a global (query, kind) window picks the winners —
    argmax is merge-closed, so this is exact with no all-pairs join.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"), "label"
    )
    anchors = query_panel(emb, PAIR_MOD).collect()
    q_ids = np.array([r["vec_id"] for r in anchors])
    q_lab = np.array([r["label"] for r in anchors])
    Qn = unit_rows(np.stack([r["e"] for r in anchors]))
    bc = spark.sparkContext.broadcast((q_ids, q_lab, Qn))

    def block_best(batches):
        qids, qlab, Qn_ = bc.value
        for batch in batches:
            ids = batch["vec_id"].to_numpy()
            lab = batch["label"].to_numpy()
            Xn = unit_rows(np.stack(batch["e"].to_numpy()))
            # batch-local (cos desc, id asc) best per anchor and kind,
            # one top-1 per anchor label
            for lb in np.unique(qlab):
                qm = qlab == lb
                for kind, xm in (("pos", lab == lb), ("neg", lab != lb)):
                    q, n, cos = top_k(Qn_[qm], qids[qm], Xn[xm], ids[xm], 1)
                    yield pd.DataFrame(
                        {"query_id": q, "kind": kind, "nid": n, "cos": cos}
                    )

    cand = emb.mapInPandas(
        block_best, schema="query_id bigint, kind string, nid bigint, cos double"
    )
    w = Window.partitionBy("query_id", "kind").orderBy(F.desc("cos"), F.asc("nid"))
    best = cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    pos = best.where(F.col("kind") == "pos").select(
        "query_id",
        F.col("nid").alias("pos_id"),
        round_eps(F.col("cos"), 4).alias("pos_cos"),
    )
    neg = best.where(F.col("kind") == "neg").select(
        "query_id",
        F.col("nid").alias("neg_id"),
        round_eps(F.col("cos"), 4).alias("neg_cos"),
    )
    return pos.join(neg, "query_id").orderBy("query_id")


# ---------------------------------------------------------------- C70

MASK_MOD = 20  # 1-in-20 deterministic token masking (~5%)

_C70_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS tk FROM documents
),
flagged AS (
  SELECT doc_id, tk,
         list_transform(
           generate_series(1, len(tk)),
           i -> {sql_hash64("doc_id::VARCHAR || ':' || i::VARCHAR")}
                % {MASK_MOD} = 0
         ) AS fl
  FROM toks
),
built AS (
  SELECT doc_id,
         array_to_string(
           list_transform(generate_series(1, len(tk)),
                          i -> CASE WHEN fl[i] THEN '<MASK>' ELSE tk[i] END),
           ' ') AS input_text,
         COALESCE(array_to_string(
           list_transform(
             list_filter(generate_series(1, len(tk)), i -> fl[i]),
             i -> tk[i]),
           ' '), '') AS target_text,
         len(list_filter(fl, f -> f)) AS n_masked
  FROM flagged
)
SELECT doc_id, input_text, target_text, CAST(n_masked AS INT) AS n_masked
FROM built ORDER BY doc_id
"""


@register("mlm_masking", oracle=_C70_ORACLE)
def mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MLM-style corruption plan (the masked-LM /
    denoising data prep): every token whose md5-derived hash of
    (doc_id, position) lands in a 1-in-{MASK_MOD} bucket is replaced by
    '<MASK>' in the input and appended, in order, to the target.

    Pure map-side array expressions — positions via sequence, flags via
    the shared hash64 (identical md5 math in the oracle), input/target
    via zip_with + filter + concat_ws. No shuffle at all: corruption is
    reproducible under resharding because the mask depends only on
    (doc_id, position), never on rand() or task layout.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    idx = F.sequence(F.lit(1), F.size("tk"))
    flags = F.transform(
        idx,
        lambda i: hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))
        )
        % MASK_MOD
        == 0,
    )
    flagged = toks.withColumn("fl", flags)
    zipped = F.zip_with("tk", "fl", lambda t, f: F.struct(t.alias("t"), f.alias("f")))
    return (
        flagged.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.zip_with(
                    "tk", "fl", lambda t, f: F.when(f, "<MASK>").otherwise(t)
                ),
            ).alias("input_text"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(zipped, lambda s: s["f"]), lambda s: s["t"]
                ),
            ).alias("target_text"),
            F.size(F.filter("fl", lambda f: f)).cast("int").alias("n_masked"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- C71

_C71_ORACLE = f"""
WITH cuts AS (
  SELECT quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.50) AS q2,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents
),
bucketed AS (
  SELECT n_chars,
         (CASE WHEN n_chars > q1 THEN 1 ELSE 0 END
          + CASE WHEN n_chars > q2 THEN 1 ELSE 0 END
          + CASE WHEN n_chars > q3 THEN 1 ELSE 0 END) AS bucket
  FROM documents CROSS JOIN cuts
)
SELECT bucket, COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       {sql_round('AVG(n_chars)', 4)} AS mean_chars
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


@register("chars_equidepth_histogram", oracle=_C71_ORACLE)
def chars_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) histogram of document lengths — the
    dataset-card length profile where every bucket holds ~25% of docs,
    unlike B38's fixed-width bins.

    The three cut points come from ONE exact percentile-array aggregate
    (a 1-row frame broadcast back onto the scan); bucket assignment is
    a pure scalar expression, and the corpus reduces to 4 rows in one
    map-side-combined aggregate. At 100 TB swap the exact percentile
    for approx_percentile — the KLL-style sketch is mergeable and the
    cut points shift within epsilon. Executable via
    SPARK_GRAFT_SCALE_MODE=approx (scale_mode.py).
    """
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    cuts = docs.agg(
        sm.percentile("n_chars", 0.25).alias("q1"),
        sm.percentile("n_chars", 0.50).alias("q2"),
        sm.percentile("n_chars", 0.75).alias("q3"),
    )
    bucket = (
        (F.col("n_chars") > F.col("q1")).cast("int")
        + (F.col("n_chars") > F.col("q2")).cast("int")
        + (F.col("n_chars") > F.col("q3")).cast("int")
    )
    return (
        docs.transform(scalars(cuts))
        .select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            round_eps(F.avg("n_chars"), 4).alias("mean_chars"),
        )
        .orderBy("bucket")
    )
