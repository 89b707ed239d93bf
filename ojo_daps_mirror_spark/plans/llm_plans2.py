"""Training-data pipeline plans, third sweep (SURVEY.md §2 C23–C25).

Corpus-statistics quality scoring (bigram language-model surprisal, the
cheap stand-in for perplexity filtering à la CCNet/RefinedWeb),
cross-document duplicated-span measurement (the fraction Lee et al.'s
"Deduplicating Training Data" removes with suffix arrays, here via
fixed-k shingles), and SemDeDup-style semantic deduplication over
embedding clusters (Abbas et al. 2023). None exist in the reference
(its corpus is job ads); all are standard LLM-corpus stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import round_eps, sql_round
from ..functions.text import hash64, shingles, sql_hash64, sql_shingles, sql_tokens, tokens
from ..functions.vectors import unit_rows
from ..sources import load_table
from . import register

# ---------------------------------------------------------------- C23

_C23_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS t FROM documents
),
bgs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks
),
c2 AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bgs GROUP BY bg
),
cp AS (
  SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS cp
  FROM c2 GROUP BY w1
)
SELECT bgs.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {sql_round("AVG(-ln(c2.c2 * 1.0 / cp.cp))", 4)} AS surprisal
FROM bgs
JOIN c2 ON c2.bg = bgs.bg
JOIN cp ON cp.w1 = string_split(bgs.bg, ' ')[1]
GROUP BY bgs.doc_id
ORDER BY bgs.doc_id
"""


@register("bigram_lm_score", oracle=_C23_ORACLE)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM surprisal per document — the cheap perplexity
    filter: score = mean −ln P(wᵢ | wᵢ₋₁) with P = c(wᵢ₋₁wᵢ)/c(wᵢ₋₁·)
    estimated from the corpus itself (CCNet trains on its own corpus
    slice the same way). High surprisal = improbable token sequences =
    low-quality / out-of-domain text.

    Scale shape: bigram instances explode map-side (one zip_with, no
    shuffle); counts attach as unbounded COUNT windows over the bigram
    key and the prefix key rather than count-table joins — each window
    is ONE shuffle of the narrow (doc_id, bg) frame, where the join
    formulation shuffles the same frame per join AND recomputes the
    explode per branch (measured 1.5 → 1.3 s at sf0.1; the win grows
    with corpus size because no count table is ever materialised or
    broadcast). Skew note: a hot prefix lands one window partition on
    one task — the same placement a count-join's shuffle would produce,
    with AQE handling either. Surprisal is reported as a POSITIVE mean
    (−ln p ≥ 0) so the cross-engine boundary-rounding nudge (round_eps)
    stays in its valid domain.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    # All bigram INSTANCES (not distinct — multiplicity is the model).
    bg_arr = F.slice(
        F.zip_with(
            t,
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        1,
        F.greatest(F.size(t) - 1, F.lit(0)),
    )
    bgs = docs.select("doc_id", F.explode(bg_arr).alias("bg")).withColumn(
        "w1", F.split(F.col("bg"), " ")[0]
    )
    return (
        bgs.withColumn("c2", F.count(F.lit(1)).over(Window.partitionBy("bg")))
        .withColumn("cp", F.count(F.lit(1)).over(Window.partitionBy("w1")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_eps(F.avg(-F.log(F.col("c2") / F.col("cp"))), 4).alias(
                "surprisal"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- C24

SPAN_K = 5  # span length in tokens; ~5% of distinct 5-spans repeat cross-doc

_C24_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS t FROM documents
),
sh AS (
  SELECT doc_id, {sql_hash64("unnest(" + sql_shingles("t", SPAN_K) + ")")} AS h
  FROM toks
),
cnt AS (
  SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM sh GROUP BY h
)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       {sql_round("SUM(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 "
                  "/ COUNT(*)", 4)} AS shared_frac
FROM sh JOIN cnt USING (h)
GROUP BY sh.doc_id
ORDER BY sh.doc_id
"""


@register("dup_span_fraction", oracle=_C24_ORACLE)
def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span measurement: per document, the
    fraction of its distinct SPAN_K-token spans that also occur in at
    least one OTHER document — the signal behind exact-substring train-
    set dedup (Lee et al. 2022), with fixed-k shingles standing in for
    suffix-array maximal matches.

    Scale shape: spans are hashed to 64-bit map-side so the wide ops
    move 8-byte (doc_id, h) rows, never span text. Doc counts attach as
    ONE unbounded COUNT window over the hash key instead of a count
    groupBy joined back (which shuffles the same frame twice and
    recomputes the shingle explode per branch — measured 3.7 → 1.9 s at
    sf0.1). Two shuffles total — by span hash, then the per-doc agg —
    and the fact scan reads only (doc_id, text). Skew note: a span
    shared by millions of docs lands one window partition on one task,
    exactly where a count-join's probe shuffle would put it anyway.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(shingles(tokens(F.col("text")), SPAN_K)).alias("s"),
    ).select("doc_id", hash64(F.col("s")).alias("h"))
    # shingles() is per-doc distinct, so COUNT(*) per (h) counts docs.
    shared = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        sh.withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(shared).cast("bigint").alias("n_shared"),
            round_eps(F.sum(shared) / F.count(F.lit(1)), 4).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- C25

SEMDEDUP_TAU = 0.35  # intra-cluster cosine above which later ids drop
# Shard guard for the per-cell greedy pass: applyInPandas groups are
# ATOMIC (AQE cannot split them), so a degenerate giant cell would pin
# one task with corpus/K vectors. Cells above the cap split into
# ceil(size/cap) vec_id-hash shards; greedy runs per shard, trading a
# few missed intra-cell dups (across shards of the SAME cell) for a
# bounded task size — the same recall trade SemDeDup already makes at
# every cell boundary.
SEMDEDUP_CELL_CAP = 100_000


@register("semdedup")  # rows-only: k-means clustering is not SQL-expressible
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with a coarse
    deterministic quantiser, then inside each cluster drop every vector
    that is ≥ TAU cosine-similar to an already-kept lower-id vector.
    Near-dup *pairs* across cluster boundaries are missed by design —
    that locality is exactly what makes the O(n²) pairwise step
    tractable (n²/K per cluster instead of n² global).

    Scale shape: K = ~√n cells (ann_ivf's codebook_k — a fixed K would
    put corpus/K vectors in one task); the codebook is tiny and
    driver-held; assignment is one BLAS matmul per Arrow batch; the
    only shuffle repartitions by (cell, shard), and each group's greedy
    scan is an in-memory BLAS pass over that group only, with
    SEMDEDUP_CELL_CAP bounding group size. Soundness (every drop has a
    kept ≥ TAU earlier neighbour in-group; kept set pairwise < TAU
    in-group) is asserted against exact numpy in tests/test_vectors.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from .vector_plans import codebook_k

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n = emb.count()  # parquet row-count metadata; no data scan
    semdedup_k = codebook_k(n)

    # Deterministic codebook: the K smallest vec_ids' vectors (the same
    # seed rule as ann_ivf's quantiser, without Lloyd refinement — the
    # cluster geometry only gates which pairs are COMPARED).
    seeds = emb.orderBy("vec_id").limit(semdedup_k).collect()
    cent = unit_rows(np.stack([r["e"] for r in seeds]))

    def _assign(e: "pd.Series") -> "pd.Series":
        sims = unit_rows(np.stack(e.to_numpy())) @ cent.T
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    _assign.__annotations__ = {"e": pd.Series, "return": pd.Series}
    assign = pandas_udf(_assign, "int")

    # Materialised once: the assignment frame feeds BOTH the cell-size
    # aggregate and the shard join, and without it Catalyst replays the
    # ArrowEvalPython assignment pass (the BLAS matmul over every
    # batch) once per branch — the §4 boundary crossed twice for one
    # logical pass.
    assigned = emb.select(
        "vec_id", "e", assign(F.col("e")).alias("cell")
    ).persist()

    # Giant-cell shard guard: split any cell above the cap into
    # vec_id-hash shards so no applyInPandas group exceeds ~CAP rows.
    # Cell sizes come from a map-side-combined count agg (K rows)
    # broadcast back — a window over cell would re-shuffle the whole
    # embedding frame a second time.
    cells = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    n_shards = F.ceil(F.col("cell_n") / F.lit(SEMDEDUP_CELL_CAP)).cast("int")
    assigned = assigned.join(F.broadcast(cells), "cell").withColumn(
        "shard", F.pmod(F.col("vec_id"), n_shards).cast("int")
    )

    out_schema = "vec_id bigint, cell int, keep boolean, max_kept_cos double"

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        M = unit_rows(np.stack(pdf["e"].to_numpy()))
        nz = M.any(axis=1)  # a zero vector has no cosine: always kept
        kept: list[int] = []
        keep = np.zeros(len(pdf), dtype=bool)
        max_cos = np.full(len(pdf), np.nan)
        for j in range(len(pdf)):
            if kept and nz[j]:
                max_cos[j] = float((M[kept] @ M[j]).max())
                if max_cos[j] >= SEMDEDUP_TAU:
                    continue
            keep[j] = True
            if nz[j]:
                kept.append(j)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "keep": keep,
                "max_kept_cos": np.round(max_cos, 4),
            }
        )

    return (
        assigned.groupBy("cell", "shard")
        .applyInPandas(_greedy, out_schema)
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------- C27

SURPRISAL_MAX = 3.45  # ~p90 of the corpus surprisal distribution


def _c27_oracle() -> str:
    from .llm_plans import _C17_ORACLE
    from .text_plans import _C3_ORACLE

    return f"""
WITH g AS (SELECT * FROM ({_C17_ORACLE})),
l AS (SELECT * FROM ({_C3_ORACLE})),
s AS (SELECT * FROM ({_C23_ORACLE}))
SELECT g.doc_id,
       CASE
         WHEN g.n_tokens < {MIN_DOC_TOKENS_C27} THEN 'too_short'
         WHEN g.top_token_frac > {TOP_FRAC_C27}
           OR g.dup_token_frac > {DUP_FRAC_C27} THEN 'repetitive'
         WHEN l.pred_lang <> 'en' THEN 'non_english'
         WHEN s.surprisal > {SURPRISAL_MAX} THEN 'high_surprisal'
         ELSE 'keep'
       END AS verdict,
       CASE
         WHEN g.n_tokens >= {MIN_DOC_TOKENS_C27}
          AND g.top_token_frac <= {TOP_FRAC_C27}
          AND g.dup_token_frac <= {DUP_FRAC_C27}
          AND l.pred_lang = 'en'
          AND s.surprisal <= {SURPRISAL_MAX} THEN 1 ELSE 0
       END AS keep
FROM g JOIN l ON l.doc_id = g.doc_id JOIN s ON s.doc_id = g.doc_id
ORDER BY g.doc_id
"""


# Mirror the gopher constants under local names so the oracle f-string
# stays readable (values must match llm_plans.py exactly).
from .llm_plans import (  # noqa: E402
    DUP_TOKEN_FRAC_MAX as DUP_FRAC_C27,
    MIN_DOC_TOKENS as MIN_DOC_TOKENS_C27,
    TOP_TOKEN_FRAC_MAX as TOP_FRAC_C27,
)


@register("corpus_filter_pipeline", oracle=_c27_oracle())
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training corpus gate: Gopher repetition +
    language-ID + corpus-LM surprisal in one verdict per document with
    the FIRST failing reason (the shape of RefinedWeb/FineWeb's filter
    cascade, where each doc carries its drop reason for auditing).

    Scale shape: all three signal frames are doc-grain aggregates of
    the same documents scan; the composition joins them on doc_id —
    co-partitioned narrow frames, trivially smaller than the token-
    grain shuffles that produced them. Thresholds compare the ROUNDED
    output columns so the cross-engine boundary behaviour is identical
    by construction.
    """
    from .llm_plans import quality_gopher
    from .text_plans import lang_id

    g = quality_gopher(spark, sf_dir).select(
        "doc_id", "n_tokens", "top_token_frac", "dup_token_frac"
    )
    l = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    s = bigram_lm_score(spark, sf_dir).select("doc_id", "surprisal")
    j = g.join(l, "doc_id").join(s, "doc_id")
    verdict = (
        F.when(F.col("n_tokens") < MIN_DOC_TOKENS_C27, "too_short")
        .when(
            (F.col("top_token_frac") > TOP_FRAC_C27)
            | (F.col("dup_token_frac") > DUP_FRAC_C27),
            "repetitive",
        )
        .when(F.col("pred_lang") != "en", "non_english")
        .when(F.col("surprisal") > SURPRISAL_MAX, "high_surprisal")
        .otherwise("keep")
    )
    return j.select(
        "doc_id",
        verdict.alias("verdict"),
        (verdict == "keep").cast("int").alias("keep"),
    ).orderBy("doc_id")
