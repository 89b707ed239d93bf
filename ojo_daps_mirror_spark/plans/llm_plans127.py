"""Hundred-twenty-seventh sweep (SURVEY.md §2 C207-C209).

Suffix-sort adjacent-LCP boilerplate detector (the kernel of exact
substring dedup a la 'Deduplicating Training Data Makes Language
Models Better': sort every capped suffix once, the longest cross-doc
repeated span falls out of ONE lag window — no pairwise scan),
Chao1 + Good-Turing vocabulary richness (how much vocabulary has the
crawl NOT seen yet — the coverage planner's number, from nothing but
the frequency-of-frequencies), and a hubness audit of the embedding
space (the k-occurrence distribution's skewness — the known
high-dimensional ANN pathology where a few 'hub' vectors appear in
everyone's top-k and poison kNN labels and dedup graphs alike).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.vectors import block_pairs, sql_cosine, top_k, unit_rows
from ..operators.suffix import adjacent_suffixes
from ..sources import load_table
from . import register

# ---------------------------------------------------------------- C207

SUF_CAP = 48  # suffix window: LCPs are exact up to this length
LCP_TOP = 10

_C207_ORACLE = f"""
WITH sufs AS MATERIALIZED (
  SELECT doc_id, substr(text, p, {SUF_CAP}) AS suf
  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(p)
),
ordered AS (
  SELECT doc_id, suf,
         LAG(doc_id) OVER w AS prev_doc,
         LAG(suf) OVER w AS prev_suf
  FROM sufs
  WINDOW w AS (ORDER BY suf, doc_id)
),
lcps AS (
  SELECT doc_id, prev_doc,
         len(list_filter(range(1, {SUF_CAP} + 1),
                         L -> substr(suf, 1, L) = substr(prev_suf, 1, L)))
           AS lcp,
         suf
  FROM ordered
  WHERE prev_suf IS NOT NULL AND doc_id <> prev_doc
),
spans AS (
  SELECT substr(suf, 1, lcp) AS shared_prefix,
         CAST(MAX(lcp) AS BIGINT) AS lcp,
         CAST(COUNT(*) AS BIGINT) AS adjacencies,
         CAST(MIN(LEAST(doc_id, prev_doc)) AS BIGINT) AS doc_a,
         CAST(MIN(GREATEST(doc_id, prev_doc)) AS BIGINT) AS doc_b
  FROM lcps
  WHERE lcp >= 8
  GROUP BY 1
),
ranked AS (
  SELECT shared_prefix, lcp, adjacencies, doc_a, doc_b,
         ROW_NUMBER() OVER (ORDER BY lcp DESC, shared_prefix) AS rk
  FROM spans
)
SELECT CAST(rk AS BIGINT) AS rank, lcp AS span_len, shared_prefix,
       adjacencies, doc_a, doc_b
FROM ranked WHERE rk <= {LCP_TOP}
ORDER BY rank
"""


@register("suffix_lcp_boilerplate", oracle=_C207_ORACLE)
def suffix_lcp_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest cross-document repeated substrings by suffix sorting —
    the exact-substring-dedup kernel (Lee et al.'s 'Deduplicating
    Training Data' builds a suffix array; the distributed analog is:
    explode every suffix capped at {SUF_CAP} chars, sort ONCE, and
    the longest repeated span is the max LAG-window LCP between
    ADJACENT suffixes from different docs — no pairwise comparison
    ever happens). The LCP itself is a zero-explode array expression:
    prefix equality is monotone in L, so counting the L in 1..cap
    with equal prefixes IS the LCP. Top-{LCP_TOP} spans (>= 8 chars)
    grouped by shared prefix, with adjacency counts and the smallest
    witness doc pair. dup_span_fraction (C24) prices hashed-shingle
    mass; this names the actual offending strings.

    Exactness: byte-order suffix sort is identical in both engines
    (plain lowercase ASCII corpus, binary collation both sides);
    LCPs and counts are exact integers.

    Scale shape: |corpus chars| suffix rows of <= {SUF_CAP} bytes,
    ONE range-partitioned sort (Spark's sort is external — this is
    exactly the workload sort-based shuffle exists for), one lag
    window, one small aggregate. At 100 TB you shard the sort by
    first-byte prefix and the lag window stays within shards except
    one boundary row per shard.
    """
    # Suffix adjacency via the session-cached range-partitioned suffix
    # sort (operators/suffix.py): pid-local lag windows plus a
    # one-row-per-shard boundary handoff, materialised ONCE and shared
    # with the C226/C227/C228 ExactSubstr trio — no single-reducer
    # window or corpus-grain self-join ever runs, and composing
    # queries don't re-sort. The richer (suf, doc_id, p) total order
    # only permutes rows WITHIN equal-(suf, doc_id) tie blocks, which
    # are interchangeable for every column this op reads, so the
    # adjacency multiset — and the oracle's (suf, doc_id) window —
    # are unchanged.
    # lcp comes precomputed from the materialized stage (pure function
    # of suf/ps, paid once at stage build — operators/suffix.py)
    ordered = adjacent_suffixes(spark, sf_dir, SUF_CAP).select(
        "doc_id",
        "suf",
        F.col("pd").alias("prev_doc"),
        F.col("ps").alias("prev_suf"),
        "lcp",
    )
    lcps = ordered.where(
        F.col("prev_suf").isNotNull() & (F.col("doc_id") != F.col("prev_doc"))
    ).select(
        "doc_id",
        "prev_doc",
        "lcp",
        "suf",
    )
    spans = (
        lcps.where(F.col("lcp") >= 8)
        .select(
            F.expr("substring(suf, 1, lcp)").alias("shared_prefix"),
            "lcp",
            F.least("doc_id", "prev_doc").alias("da"),
            F.greatest("doc_id", "prev_doc").alias("db"),
        )
        .groupBy("shared_prefix")
        .agg(
            F.max("lcp").cast("bigint").alias("lcp"),
            F.count(F.lit(1)).cast("bigint").alias("adjacencies"),
            F.min("da").cast("bigint").alias("doc_a"),
            F.min("db").cast("bigint").alias("doc_b"),
        )
    )
    # Global top-k via orderBy+limit (TakeOrderedAndProject: bounded
    # per-partition top-k + merge); the rank window then runs on the
    # {LCP_TOP}-row survivor frame only.
    top = spans.orderBy(F.col("lcp").desc(), "shared_prefix").limit(LCP_TOP)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("lcp").desc(), "shared_prefix"))
        .cast("bigint")
        .alias("rank"),
        F.col("lcp").alias("span_len"),
        "shared_prefix",
        "adjacencies",
        "doc_a",
        "doc_b",
    ).orderBy("rank")


# ---------------------------------------------------------------- C208

_C208_ORACLE = f"""
WITH toks AS (
  SELECT string_split_regex(lower(text), '\\s+') AS ts FROM documents
),
tg AS (
  SELECT ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
  FROM toks, UNNEST(range(1, len(ts) - 1)) AS u(i)
),
freqs AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM tg GROUP BY g
),
fof AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freqs
)
SELECT v AS vocab_types, n AS total_trigrams, f1 AS singletons,
       f2 AS doubletons,
       {sql_round(
           'CASE WHEN f2 > 0'
           ' THEN v + CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)'
           ' ELSE v + CAST(f1 AS DOUBLE) * (f1 - 1) / 2.0 END', 4)}
         AS chao1,
       {sql_round('v + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1))',
                  4)} AS chao1_bias_corrected,
       {sql_round('CAST(f1 AS DOUBLE) / n', 6)} AS gt_unseen_mass,
       {sql_round('1.0 - CAST(f1 AS DOUBLE) / n', 6)} AS gt_coverage
FROM fof
"""


@register("chao1_good_turing", oracle=_C208_ORACLE)
def chao1_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 richness + Good-Turing coverage of the trigram
    vocabulary — 'how much has the crawl NOT seen yet', from nothing
    but the frequency-of-frequencies: Chao1 lower-bounds the TRUE
    type count from singletons and doubletons (V + F1^2/2F2, with
    the bias-corrected form when F2 = 0); Good-Turing prices the
    probability mass of UNSEEN types as F1/N. heaps_law_fit (C106)
    extrapolates the growth curve; Chao1 bounds its asymptote, and
    GT coverage is the number a decontamination or dedup pass should
    quote when it claims the corpus is 'complete'.

    Exactness: every ingredient is an exact integer count; four
    divisions at the end.

    Scale shape: map-side trigram explode, ONE count aggregate, one
    8-wide frequency-of-frequencies reduction (c = 1 and c = 2 flags
    combine map-side — the FoF table never materialises).
    """
    toks = load_table(spark, sf_dir, "documents").select(
        F.split(F.lower(F.col("text")), r"\s+").alias("ts")
    )
    tg = toks.select(
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 2, 0)),"
                " (x, i) -> concat(x, ' ', ts[i + 1], ' ', ts[i + 2]))"
            )
        ).alias("g")
    )
    freqs = tg.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    fof = freqs.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("bigint").alias("f2"),
    )
    f1d = F.col("f1").cast("double")
    chao1 = F.when(
        F.col("f2") > 0, F.col("v") + f1d * F.col("f1") / (2.0 * F.col("f2"))
    ).otherwise(F.col("v") + f1d * (F.col("f1") - 1) / 2.0)
    return fof.select(
        F.col("v").alias("vocab_types"),
        F.col("n").alias("total_trigrams"),
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        round_eps(chao1, 4).alias("chao1"),
        round_eps(
            F.col("v") + f1d * (F.col("f1") - 1) / (2.0 * (F.col("f2") + 1)),
            4,
        ).alias("chao1_bias_corrected"),
        round_eps(f1d / F.col("n"), 6).alias("gt_unseen_mass"),
        round_eps(1.0 - f1d / F.col("n"), 6).alias("gt_coverage"),
    )


# ---------------------------------------------------------------- C209

HUB_K = 10

_C209_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS q, b.vec_id AS t,
         {sql_cosine('a.embedding', 'b.embedding')} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
topk AS (
  SELECT q, t FROM (
    SELECT q, t,
           ROW_NUMBER() OVER (PARTITION BY q
                              ORDER BY cos DESC, t) AS rk
    FROM pairs
  ) WHERE rk <= {HUB_K}
),
nk AS (
  SELECT e.vec_id, CAST(COALESCE(cnt, 0) AS BIGINT) AS nk
  FROM embeddings e
  LEFT JOIN (SELECT t, COUNT(*) AS cnt FROM topk GROUP BY t) c
    ON e.vec_id = c.t
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(nk) AS BIGINT) AS s1,
         CAST(SUM(nk * nk) AS BIGINT) AS s2,
         CAST(SUM(nk * nk * nk) AS BIGINT) AS s3,
         CAST(MAX(nk) AS BIGINT) AS max_nk,
         CAST(SUM(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS antihubs,
         CAST(SUM(CASE WHEN nk > 2 * {HUB_K} THEN 1 ELSE 0 END)
              AS BIGINT) AS hubs_2k
  FROM nk
),
stat AS (
  SELECT n, max_nk, antihubs, hubs_2k,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) AS m3
  FROM mom
)
SELECT n AS n_vectors, CAST({HUB_K} AS BIGINT) AS k,
       {sql_round('m1', 6)} AS mean_nk,
       {sql_round('m2', 6)} AS var_nk,
       {sql_round('m3 / (m2 * sqrt(m2))', 6)} AS nk_skewness,
       max_nk, antihubs, hubs_2k
FROM stat
"""


@register("hubness_audit", oracle=_C209_ORACLE)
def hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space: the k-occurrence
    distribution N_k (how often each vector appears in OTHERS'
    top-{HUB_K}) and its skewness — the canonical high-dimensional
    pathology metric (Radovanovic et al.): positive-skewed N_k means
    a few hub vectors sit in everyone's neighbour list, which biases
    kNN label transfer (knn_label_eval), inflates dedup-graph degree
    (embedding_dedup_graph), and wastes ANN probe budget. Mean N_k
    is exactly k by construction — a built-in sanity check; the
    report adds variance, skewness, the worst hub, antihub count
    (N_k = 0) and the count of >= 2k hubs.

    Exactness: N_k values are exact integers (ties in cosine broken
    by vec_id); the three moment sums are exact integers and the
    skewness is one double tree.

    Scale shape: the all-pairs scan is the declared EXACT baseline
    (same contract as ann_topk_bruteforce C8); at scale the same
    N_k table drops out of the C9/C15 bucketed candidate paths by
    counting their verified top-k edges instead — the audit
    composes, the quadratic scan does not.
    """
    # near_dup_cosine's block-pair BLAS design instead of the
    # row-expression n^2 join: every vector replicates to its NB
    # unordered block pairs (functions/vectors.py:block_pairs), and
    # each (bx, by) task runs ONE normalised matmul per direction and
    # emits each query's BLOCK-LOCAL top-{HUB_K} (vectors.top_k; top-k
    # is merge-closed, so the global window over n*NB*{HUB_K}
    # candidate rows recovers the exact global top-k). The interpreted
    # zip_with/aggregate cosine per pair (64 struct allocations x n^2
    # pairs) measured 85 s at sf0.1; no driver-side corpus collect, no
    # broadcast that grows with the corpus.
    import numpy as np
    import pandas as pd

    from .vector_plans import BLOCK_TARGET

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    n_vec = emb.count()  # parquet row-count metadata; no data scan
    nb = max(1, -(-n_vec // BLOCK_TARGET))

    def block_topk(pdf):
        ids = pdf["vec_id"].to_numpy()
        M = unit_rows(np.stack(pdf["embedding"].to_numpy()))
        bx, by = int(pdf["bx"].iloc[0]), int(pdf["by"].iloc[0])
        a = pdf["blk"].to_numpy() == bx
        sides = [(a, a)] if bx == by else [(a, ~a), (~a, a)]
        parts = [top_k(M[qm], ids[qm], M[tm], ids[tm], HUB_K) for qm, tm in sides]
        q, t, cos = (np.concatenate(c) for c in zip(*parts))
        return pd.DataFrame({"q": q, "t": t, "cos": cos})

    cand = (
        block_pairs(emb, nb)
        .groupBy("bx", "by")
        .applyInPandas(block_topk, schema="q bigint, t bigint, cos double")
    )
    topk = (
        cand.select(
            "q",
            "t",
            F.row_number()
            .over(
                Window.partitionBy("q").orderBy(F.col("cos").desc(), "t")
            )
            .alias("rk"),
        )
        .where(F.col("rk") <= HUB_K)
        .select("q", "t")
    )
    cnt = topk.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    nk = emb.select("vec_id").join(cnt, emb.vec_id == cnt.t, "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("nk")
    )
    mom = nk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nk").cast("bigint").alias("s1"),
        F.sum(F.col("nk") * F.col("nk")).cast("bigint").alias("s2"),
        F.sum(F.col("nk") * F.col("nk") * F.col("nk"))
        .cast("bigint")
        .alias("s3"),
        F.max("nk").cast("bigint").alias("max_nk"),
        F.sum((F.col("nk") == 0).cast("int")).cast("bigint").alias(
            "antihubs"
        ),
        F.sum((F.col("nk") > 2 * HUB_K).cast("int"))
        .cast("bigint")
        .alias("hubs_2k"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd - m1 * m1
    m3 = (
        F.col("s3").cast("double") / nd
        - 3.0 * m1 * (F.col("s2").cast("double") / nd)
        + 2.0 * m1 * m1 * m1
    )
    return mom.select(
        F.col("n").alias("n_vectors"),
        F.lit(HUB_K).cast("bigint").alias("k"),
        round_eps(m1, 6).alias("mean_nk"),
        round_eps(m2, 6).alias("var_nk"),
        round_eps(m3 / (m2 * F.sqrt(m2)), 6).alias("nk_skewness"),
        "max_nk",
        "antihubs",
        "hubs_2k",
    )
