"""Enrichment-stage parity plans (SURVEY.md §2 A15–A20).

Each plan reproduces one reference *enrich/pre_enrich* computation the
earlier A-track didn't yet cover, re-expressed as a Catalyst plan:

- requires_degree  — regex classifier (flows/enrich/requires_degree.py,
  labs/requires_degree/model/__init__.py:EXPRESSION + nlp.clean_description)
- location_links   — name→many-ids link table (flows/enrich/locations.py:
  match_locations + pre_enrich/location_lookup.py)
- soc_substring_match — exact-then-substring title matcher
  (labs/soc/substring_utils.py:apply_model)
- skills_surface_forms — phrase-lexicon detection over documents
  (labs/skills/skills_detection_utils.py:detect_skills/create_phrase_matcher)
- tfidf_top_terms  — TF-IDF representativity per document
  (labs/skills/skills_detection_utils.py:tfidf_vectorise/
  tfidf_representativity_mask)
- near_dup_windowed — 8-week sliding-window vector near-dup
  (flows/enrich/deduplication.py:get_windows/find_similar_vectors,
  deduplication_utils.py:get_sliding_windows)

All hot paths are built-in expressions (whole-stage codegen); the only
Python is the per-window BLAS matmul in near_dup_windowed, which is the
same corpus-fits-one-window assumption the reference's FAISS step makes.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps
from ..functions.text import STOPWORDS, hash64, sql_hash64, sql_tokens, tokens
from ..functions.vectors import cosine_pairs, sql_cosine
from ..operators.attach import scalars
from ..sources import load_table
from . import register

# ---------------------------------------------------------------- A15

# Analog of labs/requires_degree/model DEGREES — word-boundary alternation
# over terms that exist in the testdata vocabulary.
DEGREE_TERMS = ("vector", "stream", "merge")
_DEGREE_RE = r"\b(" + "|".join(DEGREE_TERMS) + r")\b"

_A15_ORACLE = f"""
WITH cleaned AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '^\\[|\\]$', '', 'g'),
           '\\s+\\S+$', '') AS description
  FROM documents
)
SELECT doc_id,
       CASE WHEN regexp_matches(description, '{_DEGREE_RE}')
            THEN 1 ELSE 0 END AS requires_degree
FROM cleaned
ORDER BY doc_id
"""


@register("requires_degree", oracle=_A15_ORACLE)
def requires_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex degree-requirement classifier.

    Reference: flows/enrich/requires_degree.py applies
    labs/requires_degree/model (clean_description: strip outer brackets,
    strip possibly-truncated last term; then a word-boundary alternation
    regex). Row-at-a-time Python there; one codegen'd regexp here.
    """
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"^\[|\]$", ""), r"\s+\S+$", ""
    )
    return (
        docs.select(
            "doc_id",
            F.when(cleaned.rlike(_DEGREE_RE), 1).otherwise(0).alias(
                "requires_degree"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- A16

_A16_ORACLE = """
WITH lookup AS (SELECT DISTINCT p_type, p_brand FROM part)
SELECT p.p_partkey AS job_id,
       l.p_brand   AS location_id
FROM part p JOIN lookup l ON p.p_type = l.p_type
ORDER BY job_id, location_id
"""


@register("location_links", oracle=_A16_ORACLE)
def location_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-name → *at least zero* standardised ids, as a link table.

    Reference: flows/enrich/locations.py:match_locations joins each ad's
    raw location string against pre_enrich/location_lookup.py's
    name→list-of-ids lookup, emitting one link row per (ad, id) —
    multi-match allowed. Here the lookup dim is derived from part
    (type→brands) and broadcast; the fact table never shuffles.
    """
    part = load_table(spark, sf_dir, "part")
    lookup = part.select("p_type", "p_brand").distinct()
    return (
        part.select(F.col("p_partkey").alias("job_id"), "p_type")
        .join(F.broadcast(lookup), "p_type")
        .select("job_id", F.col("p_brand").alias("location_id"))
        .orderBy("job_id", "location_id")
    )


# ---------------------------------------------------------------- A17

_A17_ORACLE = f"""
WITH lookup AS (
  SELECT DISTINCT p_name AS title FROM part WHERE p_partkey % 3 = 0
  UNION
  SELECT DISTINCT (string_split(p_name, ' '))[-1] AS title FROM part
),
cand AS (
  SELECT p.p_partkey AS job_id,
         l.title,
         CASE WHEN p.p_name = l.title THEN 0 ELSE 1 END AS match_type
  FROM part p, lookup l
  WHERE p.p_name = l.title
     OR position(l.title IN p.p_name) > 0
     OR position(p.p_name IN l.title) > 0
),
ranked AS (
  SELECT job_id, title, match_type,
         ROW_NUMBER() OVER (
           PARTITION BY job_id
           ORDER BY match_type, length(title) DESC, title
         ) AS rn
  FROM cand
)
SELECT job_id,
       {sql_hash64('title')} AS soc_id,
       title AS std_title,
       match_type
FROM ranked WHERE rn = 1
ORDER BY job_id
"""


@register("soc_substring_match", oracle=_A17_ORACLE)
def soc_substring_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-then-substring title→SOC matcher.

    Reference: labs/soc/substring_utils.py:apply_model — try an exact
    match of the cleaned title against the SOC title lookup; fall back to
    bidirectional containment, preferring the most exact (longest) term.
    The lookup is vocabulary-sized, so Spark runs this as one broadcast
    nested-loop join with the match-type priority resolved by a
    per-job-id window — no shuffle of the fact side beyond the window.
    """
    part = load_table(spark, sf_dir, "part")
    exact = part.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_name").alias("title")
    )
    words = part.select(
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("title")
    )
    lookup = exact.union(words).distinct()

    p = part.alias("p")
    l = lookup.alias("l")
    raw = F.col("p.p_name")
    title = F.col("l.title")
    cand = p.join(
        F.broadcast(l),
        (raw == title) | raw.contains(title) | title.contains(raw),
    ).select(
        F.col("p.p_partkey").alias("job_id"),
        title.alias("title"),
        F.when(raw == title, 0).otherwise(1).alias("match_type"),
    )
    w = Window.partitionBy("job_id").orderBy(
        "match_type", F.length("title").desc(), "title"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "job_id",
            hash64(F.col("title")).alias("soc_id"),
            F.col("title").alias("std_title"),
            "match_type",
        )
        .orderBy("job_id")
    )


# ---------------------------------------------------------------- A18

LEXICON_SIZE = 20
MIN_FORM_LEN = 4

_sw = ", ".join(f"'{w}'" for w in STOPWORDS)

_A18_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
),
lexicon AS (
  SELECT tok FROM toks
  WHERE length(tok) >= {MIN_FORM_LEN} AND tok NOT IN ({_sw})
  GROUP BY tok
  ORDER BY COUNT(*) DESC, tok
  LIMIT {LEXICON_SIZE}
)
SELECT t.doc_id, t.tok AS surface_form, COUNT(*) AS n_mentions
FROM toks t JOIN lexicon l ON t.tok = l.tok
GROUP BY t.doc_id, t.tok
ORDER BY doc_id, surface_form
"""


@register("skills_surface_forms", oracle=_A18_ORACLE)
def skills_surface_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-form (skill-phrase) detection over documents.

    Reference: labs/skills/skills_detection_utils.py — build a surface-
    form lexicon (create_surface_forms/deduplicate_surface_forms), then
    detect_skills runs a spaCy PhraseMatcher over each ad. Here the
    lexicon is the top frequent non-stopword tokens (corpus-derived, as
    the reference's is), broadcast to a token-stream join; detection is
    a map-side hash join + per-doc count, no Python in the loop.

    The lexicon ranking window is a single-partition sort over the
    *distinct vocabulary* (lexicon-sized, like the reference's driver-
    side lexicon build) — the document stream itself never coalesces.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = (
        toks.where(
            (F.length("tok") >= MIN_FORM_LEN) & ~F.col("tok").isin(*STOPWORDS)
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    lexicon = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= LEXICON_SIZE)
        .select("tok")
    )
    return (
        toks.join(F.broadcast(lexicon), "tok")
        .groupBy("doc_id", F.col("tok").alias("surface_form"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy("doc_id", "surface_form")
    )


# ---------------------------------------------------------------- A19

TFIDF_TOP_K = 3

_A19_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
),
filtered AS (
  SELECT doc_id, tok FROM toks WHERE tok NOT IN ({_sw})
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM filtered GROUP BY doc_id, tok
),
df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM filtered GROUP BY tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         tf.tf * ln(n.n_docs::DOUBLE / df.df) AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score DESC, tok
         ) AS rank
  FROM scored
)
SELECT doc_id, tok AS term, rank, ROUND(score + 1e-9, 4) AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


@register("tfidf_top_terms", oracle=_A19_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF representative terms per document.

    Reference: labs/skills/skills_detection_utils.py:tfidf_vectorise +
    tfidf_representativity_mask (scikit-learn on the driver). Here TF
    and DF are two shuffle-partial aggregations over the exploded token
    stream, the corpus size joins in as a broadcast scalar, and the
    top-k is a per-doc window — fully distributed, no vocabulary matrix
    ever materialises.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .where(~F.col("tok").isin(*STOPWORDS))
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .transform(scalars(n_docs))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "rank",
            round_eps(F.col("score"), 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------- A20

WINDOW_DAYS = 56      # 8 weeks, the reference's INTERVAL
WINDOW_STRIDE = 28    # interval/2 — 50% overlap sliding windows
HORIZON_DAYS = 112    # pseudo-date horizon derived from vec_id
N_WINDOWS = (HORIZON_DAYS - WINDOW_DAYS) // WINDOW_STRIDE + 1
WINDOWED_COS = 0.4    # same threshold as near_dup_cosine


def _day(vec_id: str) -> Column:
    """The pseudo-date of a vector, in days."""
    return F.col(vec_id) % HORIZON_DAYS


def _first_window(day: Column) -> Column:
    """Id of the first window that covers ``day``: the least w >= 0
    with w * WINDOW_STRIDE + WINDOW_DAYS - 1 >= day."""
    first = F.ceil((day - (WINDOW_DAYS - 1)) / WINDOW_STRIDE)
    return F.greatest(first, F.lit(0)).cast("int")


def _windows_of(day: Column) -> Column:
    """One row ``w`` per window that covers ``day``, for a select.

    A day's windows are the contiguous id range [first, last], last the
    greatest w < N_WINDOWS with w * WINDOW_STRIDE <= day (ceil and
    floor of exact integer quotients). A day no
    window covers has first > last and yields no row; Spark's
    ``sequence`` would count down over such a range, so it is never
    built."""
    first = _first_window(day)
    last = F.least(F.floor(day / WINDOW_STRIDE), F.lit(N_WINDOWS - 1)).cast("int")
    return F.explode(F.when(first <= last, F.sequence(first, last))).alias("w")


def _windows_sql() -> str:
    rows = ", ".join(
        f"({w}, {w * WINDOW_STRIDE}, {w * WINDOW_STRIDE + WINDOW_DAYS - 1})"
        for w in range(N_WINDOWS)
    )
    return f"(VALUES {rows}) AS win(w, lo, hi)"


_A20_ORACLE = f"""
WITH assigned AS (
  SELECT win.w, e.vec_id, e.embedding
  FROM embeddings e, {_windows_sql()}
  WHERE e.vec_id % {HORIZON_DAYS} BETWEEN win.lo AND win.hi
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({sql_cosine('a.embedding', 'b.embedding')} + 1e-9, 4) AS cos_sim
FROM assigned a JOIN assigned b ON a.w = b.w AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {WINDOWED_COS}
ORDER BY id_a, id_b
"""


# Per-side rows per block-pair task in near_dup_windowed, and the
# per-salt query budget in near_dup_adaptive. A 2000x2000 sims block
# is ~32 MB and milliseconds of BLAS — small enough that task count,
# not task size, sets the wall-clock.
ND_BLOCK_ROWS = 2000
# embeddings.parquet measures ~400 compressed bytes/vector at every
# provided SF; the estimate only steers task decomposition (any value
# within ~2x picks the same block count), never results.
_EMB_BYTES_PER_ROW = 400


def _est_emb_rows(sf_dir: str) -> int:
    """File-metadata row estimate for the embeddings table — no Spark
    job, same trick as operators/suffix.auto_stride. On a lake
    deployment this comes from table stats."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    size = 0
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            size += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    elif os.path.exists(path):
        size = os.path.getsize(path)
    return max(1, size // _EMB_BYTES_PER_ROW)


def _window_blocks(sf_dir: str) -> int:
    """Blocks per window: 1 at every provided SF (the original one-
    task-per-window plan, bit-identical results), growing with corpus
    volume so per-task work stays ~ND_BLOCK_ROWS² as windows fatten."""
    est_window = _est_emb_rows(sf_dir) * WINDOW_DAYS // HORIZON_DAYS
    return max(1, -(-est_window // ND_BLOCK_ROWS))


@register("near_dup_windowed", oracle=_A20_ORACLE)
def near_dup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window vector near-duplicate pairs.

    Reference: flows/enrich/deduplication.py — ads are only compared
    within 8-week 50%-overlapping windows (deduplication_utils.py:
    get_sliding_windows), one FAISS index per window. Here each vector
    explodes to its 1–2 windows, computed from its day by integer
    arithmetic (``_windows_of``; the pseudo-date is derived
    deterministically from vec_id since testdata embeddings carry no
    timestamp), so there is no window table and no join. The
    within-window all-pairs scan runs as BLOCK-PAIR tasks: rows hash
    to B blocks (B from estimated corpus volume; 1 at every provided
    SF), each unordered block pair (bx ≤ by) is one applyInPandas
    task (functions/vectors.py:cosine_pairs), and a pair of vectors
    meets in exactly ONE task per shared window. A pair that shares
    two windows is kept only from its first shared window,
    greatest(first(day_a), first(day_b)): a map-side filter, no dedup
    shuffle.

    The O(m²) work per window is the exact-scan contract, but the 16x
    audit showed one-task-per-window serialises it onto one core as
    windows fatten (49.7 s at 16x); block pairs spread the same work
    over B(B+1)/2 tasks per window (shuffle grows ×B — embeddings are
    narrow) and the wall-clock follows the cluster, not the window.
    """
    n_blocks = _window_blocks(sf_dir)
    assigned = load_table(spark, sf_dir, "embeddings").select(
        _windows_of(_day("vec_id")), "vec_id", "embedding"
    )
    first_shared = F.greatest(
        _first_window(_day("id_a")), _first_window(_day("id_b"))
    )
    return (
        cosine_pairs(assigned, n_blocks, WINDOWED_COS, keys=("w",))
        .where(F.col("w") == first_shared)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------- A33

# Density-adaptive relative-distance duplicate scoring, the reference's
# actual dup criterion (labs/deduplication/faiss_utils.py:103-140):
# score = (mean(D_large) - D) / mean(D_large) with METRIC_L1, dup when
# score > threshold. mean(D_large) is the query's local distance scale
# (its large-k search radius); here the per-window search set IS the
# large-k set, matching the reference's one-index-per-window layout.
# The reference ships 0.8 for real duplicate ads; testdata embeddings
# are near-orthogonal randoms whose relative scores top out ~0.28, so
# the same knob is set where it separates signal from bulk (score
# distribution p99 ≈ 0.17 at sf0.01).
REL_DUP_THRESHOLD = 0.2
# Query-side salting: windows alone bound parallelism at N_WINDOWS
# tasks; each window fans out into this many tasks, each receiving the
# full window but scoring a disjoint query slice.
ADAPTIVE_QUERY_SALT = 8

_A33_ORACLE = f"""
WITH assigned AS (
  SELECT win.w, e.vec_id, e.embedding
  FROM embeddings e, {_windows_sql()}
  WHERE e.vec_id % {HORIZON_DAYS} BETWEEN win.lo AND win.hi
),
pairs AS (
  SELECT a.w, a.vec_id AS qid, b.vec_id AS nid,
         list_sum(list_transform(
           list_zip((a.embedding)::DOUBLE[], (b.embedding)::DOUBLE[]),
           x -> abs(x[1] - x[2]))) AS d
  FROM assigned a JOIN assigned b ON a.w = b.w AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT w, qid, nid,
         (AVG(d) OVER (PARTITION BY w, qid) - d)
           / AVG(d) OVER (PARTITION BY w, qid) AS score
  FROM pairs
)
SELECT qid AS query_id, nid AS neighbor_id,
       ROUND(MAX(score) + 1e-9, 4) AS rel_score
FROM scored
WHERE score > {REL_DUP_THRESHOLD}
GROUP BY qid, nid
ORDER BY query_id, neighbor_id
"""


@register("near_dup_adaptive", oracle=_A33_ORACLE)
def near_dup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-distance near-duplicate scoring inside sliding windows.

    Unlike the absolute-threshold paths (A13/A20), the cut adapts to
    each query's local density — dense regions need a tighter radius
    than sparse ones, which is what makes the reference robust across
    both (faiss_utils.py:103 find_similar_vectors).

    Windows come from the same day arithmetic as near_dup_windowed
    (``_windows_of``), and each (vector, window) row explodes to its
    salts with ``sequence``: no window table, no join. Unlike
    near_dup_windowed, a pair is not kept from its first shared window:
    its score depends on the window's density mean, so the key is the
    MAX over the shared windows.

    Scale shape: the window count bounds task parallelism (the
    reference's per-window-FAISS-index memory contract), so the QUERY
    side is additionally salted — every (window, salt) task receives
    the FULL window (neighbor set and local-density mean need it) but
    emits scores only for its own query slice (vec_id % salt), giving
    windows × salt tasks at the cost of replicating the window
    shuffle ×salt (embeddings are narrow; the salt is the knob
    trading shuffle volume for task granularity). The salt count now
    SCALES with estimated corpus volume ({ADAPTIVE_QUERY_SALT} ×
    _window_blocks — {ADAPTIVE_QUERY_SALT} at every provided SF, same
    plan and results; more tasks as windows fatten, keeping per-task
    query budget roughly constant — the 16x audit's fix). L1 distances run in
    bounded numpy chunks so no n_w² matrix materialises; only
    above-threshold pairs leave the task, and the max-over-windows agg
    touches only those.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    n_salt = ADAPTIVE_QUERY_SALT * _window_blocks(sf_dir)
    assigned = load_table(spark, sf_dir, "embeddings").select(
        _windows_of(_day("vec_id")), "vec_id", "embedding"
    ).select(
        "w",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
        "vec_id",
        "embedding",
    )

    def window_adaptive(pdf):
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        salt = int(pdf["salt"].iloc[0])
        # This task scores only ITS query slice; neighbors/means use the
        # full window (every task of a window receives identical rows).
        q_idx = np.nonzero(ids % n_salt == salt)[0]
        if len(q_idx) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        # Pass 1: per-row L1 sums in O(n·d·log n) via per-dimension
        # sorted prefix sums — for value x at rank k among a sorted
        # dimension, Σ_j |x − v_j| = x·(2(k+1) − n) + total − 2·csum[k].
        # (The naive chunked pass is O(n²·d); this halves the operator.)
        order = np.argsort(M, axis=0, kind="stable")
        sorted_m = np.take_along_axis(M, order, axis=0)
        csum = np.cumsum(sorted_m, axis=0)
        total = csum[-1]
        ranks = np.empty_like(order)
        np.put_along_axis(
            ranks, order, np.arange(n, dtype=order.dtype)[:, None], axis=0
        )
        csum_at = np.take_along_axis(csum, ranks, axis=0)
        row_sum = (
            M * (2.0 * (ranks + 1) - n) + total[None, :] - 2.0 * csum_at
        ).sum(axis=1)
        mean = row_sum / (n - 1)
        # Pass 2: emit qualifying pairs only, for this salt's queries.
        # A qualifying neighbor j of query q satisfies
        #   S > T  ⟺  L1(q, j) < r_q := mean_q · (1 − T),
        # and for any u ∈ {±1}^d, |(x_q − x_j)·u| ≤ L1(q, j) (Hölder:
        # ‖u‖∞ = 1). So after projecting every row onto ONE
        # deterministic ±1 vector and sorting, each query's candidates
        # live inside the contiguous projection interval
        # (p_q − r_q, p_q + r_q) — a sound bound, never drops a true
        # pair — and exact L1 verifies only that slice. This replaced
        # a full chunked O(n_w²·d) sweep that measured b ≈ 1.74 at the
        # 16× replica stress (174 s vs 1.4 s at sf0.1): near-dup radii
        # are small relative to the projection spread, so the interval
        # prunes all but O(1)-ish candidates per query and the pass is
        # ~linear in the window. Degenerate corpora (everything within
        # r of everything) re-expand toward n_w² — but then the OUTPUT
        # is n_w² pairs and no algorithm does better.
        Mq, idsq, meanq = M[q_idx], ids[q_idx], mean[q_idx]
        nq = len(q_idx)
        u = np.array(
            [
                1.0 if hashlib.md5(f"adl1:{d}".encode()).digest()[0] % 2 == 0
                else -1.0
                for d in range(M.shape[1])
            ]
        )
        proj = M @ u
        order_p = np.argsort(proj, kind="stable")
        ps = proj[order_p]
        pq = Mq @ u
        rq = meanq * (1.0 - REL_DUP_THRESHOLD) + 1e-9
        lo = np.searchsorted(ps, pq - rq, side="left")
        hi = np.searchsorted(ps, pq + rq, side="right")
        out_q, out_n, out_s = [], [], []
        for i in range(nq):
            cand = order_p[lo[i] : hi[i]]
            if len(cand) == 0:
                continue
            D = np.abs(M[cand] - Mq[i]).sum(-1)
            S = (meanq[i] - D) / meanq[i]
            keep = (S > REL_DUP_THRESHOLD) & (ids[cand] != idsq[i])
            if keep.any():
                out_q.append(np.full(int(keep.sum()), idsq[i]))
                out_n.append(ids[cand][keep])
                out_s.append(S[keep])
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    return (
        assigned.groupBy("w", "salt")
        .applyInPandas(
            window_adaptive, schema="query_id bigint, neighbor_id bigint, score double"
        )
        .groupBy("query_id", "neighbor_id")
        .agg(round_eps(F.max("score"), 4).alias("rel_score"))
        .orderBy("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------- A35

# Reference labs/soc/common.py:91 clean_raw_job_title: three rounds of
# standardise + term removal (job_stopwords / locations /
# acronyms_lookup — S3-hosted lists, stood in for deterministically
# like every external artifact), then prefix stripping
# (metadata.yaml:ignore_prefixes — that list IS the spec), then a final
# standardise. standardise_text = keep \w+ runs, drop digits, lower,
# strip, collapse spaces (common.py:47-63).
TITLE_STOPWORDS = ["urgent", "immediate start", "full time", "part time"]
TITLE_LOCATIONS = ["london", "manchester", "leeds"]
TITLE_ACRONYMS = {"mgr": "manager", "engnr": "engineer"}
TITLE_PREFIXES = [
    "apprentice", "assistant", "chief", "departmental",
    "deputy", "head", "principal", "senior",
]
TITLE_LEN = 80  # pseudo-title: leading slice of the document text


def _clean_title_spark(col):
    def std(c):
        c = F.regexp_replace(c, "[^A-Za-z0-9_]+", " ")   # replace_punctuation
        c = F.regexp_replace(c, "[0-9]", "")             # remove_digits
        c = F.lower(F.trim(c))                           # strip().lower()
        return F.regexp_replace(c, " +", " ")            # RE_SPACES
    for terms in (TITLE_STOPWORDS, TITLE_LOCATIONS, TITLE_ACRONYMS):
        col = std(col)
        repl = terms if isinstance(terms, dict) else {t: "" for t in terms}
        for word, sub in repl.items():
            col = F.regexp_replace(col, re.escape(word), sub)
    col = std(col)
    for p in TITLE_PREFIXES:  # sequential, list order (common.py:141)
        col = F.regexp_replace(col, f"^{p}( |$)", "")
    return std(col)


def _clean_title_sql(expr: str) -> str:
    def std(e):
        e = f"regexp_replace({e}, '[^A-Za-z0-9_]+', ' ', 'g')"
        e = f"regexp_replace({e}, '[0-9]', '', 'g')"
        e = f"lower(trim({e}))"
        return f"regexp_replace({e}, ' +', ' ', 'g')"
    for terms in (TITLE_STOPWORDS, TITLE_LOCATIONS, TITLE_ACRONYMS):
        expr = std(expr)
        repl = terms if isinstance(terms, dict) else {t: "" for t in terms}
        for word, sub in repl.items():
            expr = f"replace({expr}, '{word}', '{sub}')"
    expr = std(expr)
    for p in TITLE_PREFIXES:
        expr = f"regexp_replace({expr}, '^{p}( |$)', '')"
    return std(expr)


_A35_ORACLE = f"""
SELECT doc_id,
       {_clean_title_sql(f'substr(text, 1, {TITLE_LEN})')} AS clean_title
FROM documents
ORDER BY doc_id
"""


@register("soc_clean_title", oracle=_A35_ORACLE)
def soc_clean_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SOC title-cleaning preprocessing chain
    (labs/soc/common.py:91 clean_raw_job_title) the substring matcher
    (A17) consumes — digit strip, punctuation normalise, term removal,
    prefix removal. Pure codegen string expressions: zero shuffles,
    zero Python, map-only at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        _clean_title_spark(
            F.substring(F.col("text"), 1, TITLE_LEN)
        ).alias("clean_title"),
    ).orderBy("doc_id")
