"""Shared suffix-sort stage for the ExactSubstr family.

Four queries (C207 suffix_lcp_boilerplate, C226 dedup_substring_spans,
C227 dedup_substring_excise, C228 token_yield_waterfall) are built on
the SAME expensive stage: explode every capped suffix of the corpus
(|corpus chars| rows × cap bytes) and sort it once so that each
suffix's longest match with ANY other suffix is readable from its two
sort-neighbours (the suffix-array adjacency trick of Lee et al. 2022,
'Deduplicating Training Data Makes Language Models Better').

Re-running that sort per query is the single biggest avoidable cost in
the family — the oracle side already factors it as shared CTEs, and
``adjacent_suffixes`` is the Spark twin: ONE range-partitioned external
sort (operators/rank.py attach_prev — pid-local lag windows plus a
one-row-per-shard boundary handoff, never a single-reducer window),
materialized ONCE per (application, sf_dir, cap, stride, input
fingerprint) so every composing query in a session reads the finished
stage instead of re-sorting.

The stage is materialized to PARQUET, not executor cache, on purpose.
An early version used .persist(): correct, but in a long session the
storage pool fills with other operators' blocks and the LRU evicts the
suffix frame — measured in the 273-query bench, where the second
consumer silently re-paid the whole sort (5.8 s at sf0.1) that a fresh
session served from cache in 0.5 s. A written table cannot be evicted,
is exactly the artifact a 100 TB pipeline would keep in the lake next
to the corpus (the suffix-array build is the expensive step; its
output is reused by every downstream dedup/boilerplate pass), and at
local scale costs one ~seconds write. Storage, publish and reaping are
operators/stagecache.py's (family ``suffix``): a per-application
temp dir by default, or ``SPARK_GRAFT_STAGE_CACHE_DIR`` for a shared
lake dir. The key folds in the documents' input fingerprint, so
re-landing the corpus within one application builds a fresh stage.

**The scale knob — content-defined suffix sampling.** Exact mode
explodes EVERY position: the sort input is ~×cap the corpus bytes
(≈5 PB of shuffle at 100 TB), which is what ExactSubstr costs without
a compressed suffix-array build. For corpus scales where that is not
worth it, the stride departs from 1 — but only ever by OPT-IN. The
default (no env, no arg) is always the exact, oracle-parity stride 1:
exactness must never silently depend on input size crossing a
hardware-calibrated threshold. Set ``SPARK_GRAFT_SUFFIX_STRIDE=auto``
(the replica-scale stress harnesses — scripts/scale_stress.py,
scripts/recall_stress.py — setdefault this at entry; bench.py and the
oracle sweeps stay exact) to derive the stride from
estimated sort volume (``auto_stride``: corpus bytes × cap vs the
empirically calibrated exact-mode budget — the 64x stress showed
thrash is predictable from that estimate, so it is predicted instead
of hit; at every local SF the estimate fits and auto still resolves
to 1). To force a value, set
``SPARK_GRAFT_SUFFIX_STRIDE=s`` (or pass ``stride=s``):
only positions whose ``ANCHOR_W``-char content window hashes to
``0 mod s`` are exploded, cutting sort input ~s×. Anchors are
CONTENT-defined (the winnowing/CDC idea), so both copies of a
duplicated span sample the SAME in-span offsets and still collide in
the sort — naive every-s-th-position sampling would only catch pairs
whose alignments agree mod s. Detection stays sound (every reported
span is a real duplicate: sampled coverage is a subset of exact
coverage, per-position LCP is a lower bound) but becomes incomplete:
a duplicated run is found iff an anchor lands in it, so short spans
near the ``ESD_MIN`` threshold are missed with probability
~(1 - 1/s)^(L - ANCHOR_W). Recall floor is asserted in
tests/test_suffix_sampled.py. Oracle parity holds only at stride 1,
which is the unconditional default.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .rank import attach_prev_next
from .stagecache import (  # noqa: F401 - clear_cache is re-exported
    clear_cache,
    input_fingerprint,
    materialized_stage,
)

# Stage format version: bumped whenever the materialized schema
# changes (v2 added the precomputed `lcp` column; v3 added `nlcp`,
# the sort-SUCCESSOR's lcp), so a shared-dir stage written by older
# code is never misread by newer consumers.
_STAGE_VERSION = 3

ANCHOR_W = 8  # content-anchor window (chars) for the sampled mode


# Exact-mode external-sort budget, empirically calibrated by the 64x
# stress record (SURVEY §6.4): the 16x replica corpus (~1.1 GB
# estimated sort input at cap 48) exact-sorts fine on this 128 GiB /
# 32-thread box, the 64x one (~4.6 GB) thrashes the external sort.
# 2 GB splits the measured wall; recalibrate it for other hardware.
EXACT_SORT_BUDGET_BYTES = 2_000_000_000
# documents.parquet compresses the synthetic text ~2.5x; the estimate
# only needs to be monotone in corpus volume and right within ~2x,
# since stride rounds up to a power of two anyway.
_COMPRESSION_RATIO = 2.5


def _estimate_sort_bytes(sf_dir: str, cap: int) -> int:
    """Estimated exact-mode sort input: every text char explodes to a
    ~cap-byte suffix row, and corpus chars ≈ compressed parquet bytes
    × ratio. Pure file-metadata arithmetic — no Spark job. On a lake
    deployment the same estimate comes from table stats."""
    path = os.path.join(sf_dir, "documents.parquet")
    size = 0
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            size += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    elif os.path.exists(path):
        size = os.path.getsize(path)
    return int(size * _COMPRESSION_RATIO) * cap


def auto_stride(sf_dir: str, cap: int) -> int:
    """Smallest power-of-two stride whose sampled sort input fits the
    exact-mode budget; 1 (exact, oracle-parity) whenever exact fits.
    The 64x stress showed exact-mode thrash is predictable from this
    volume estimate — so predict it instead of hitting it."""
    est = _estimate_sort_bytes(sf_dir, cap)
    stride = 1
    while est > EXACT_SORT_BUDGET_BYTES * stride:
        stride *= 2
    return stride


def resolved_stride(
    stride: int | None = None,
    sf_dir: str | None = None,
    cap: int | None = None,
) -> int:
    """Precedence: explicit ``stride`` arg > SPARK_GRAFT_SUFFIX_STRIDE
    env (a number, or the literal ``auto`` to derive the stride from
    estimated sort volume) > 1. Sampling is strictly OPT-IN: with no
    arg and no env the result is always the exact, oracle-parity
    stride 1 regardless of input size — correctness-gated entry points
    (the driver contract, the oracle sweeps) therefore stay exact by
    construction, and only harnesses that explicitly ask for ``auto``
    (bench/stress at replica scale) get the volume-derived stride,
    with the decision logged."""
    if stride is None:
        env = os.environ.get("SPARK_GRAFT_SUFFIX_STRIDE")
        if env is None:
            stride = 1
        elif env.strip().lower() == "auto":
            if sf_dir is None or cap is None:
                stride = 1
            else:
                stride = auto_stride(sf_dir, cap)
                if stride > 1:
                    import sys

                    print(
                        f"suffix: auto stride={stride} "
                        f"(est sort input {_estimate_sort_bytes(sf_dir, cap)/1e9:.1f} GB "
                        f"> exact budget; set SPARK_GRAFT_SUFFIX_STRIDE=1 to force exact)",
                        file=sys.stderr,
                    )
        else:
            stride = int(env)
    if stride < 1:
        raise ValueError(f"suffix stride must be >= 1, got {stride}")
    return stride


def adjacent_suffixes(
    spark: SparkSession, sf_dir: str, cap: int, stride: int | None = None
) -> DataFrame:
    """The sorted, lag-adjacent capped-suffix frame of the documents
    table: one row per character position with columns

      doc_id, n (doc length), p (1-based position),
      suf (the suffix capped at ``cap`` chars),
      pd / pp / pn / ps (the SORT-PREDECESSOR's doc_id / p / n / suf;
      NULL on the first row of the total (suf, doc_id, p) order),
      lcp (the exact-to-cap longest common prefix of suf and ps;
      NULL where ps is NULL),
      nlcp (the LCP of suf with its SORT-SUCCESSOR — i.e. the next
      row's lcp, readable in place; NULL on the last row).

    ``lcp`` is materialized IN the stage on purpose: it is a pure
    function of (suf, ps) and its ~cap substring comparisons per row
    were the dominant per-query expression cost when every consumer
    recomputed it — paid once at stage build, every consumer reads a
    bigint column instead. ``nlcp`` (v3) completes the pair: a
    position's longest match with ANY other suffix is
    max(lcp, nlcp) — LCP against its two sort neighbours — so the
    ExactSubstr consumers read it as a per-ROW expression instead of
    re-deriving it per query with a corpus-chars-grain union +
    (doc, p) shuffle (the dominant per-consumer cost this column
    removed; LCP is symmetric, so the successor's lcp is one more
    column of the same sorted window pass).

    Materialized once per (application, sf_dir, cap, stride, input
    fingerprint) as the stagecache family ``suffix`` and shared by all
    ExactSubstr-family consumers in the session. ``stride`` > 1
    switches to content-anchored sampling (module docstring).
    """
    stride = resolved_stride(stride, sf_dir, cap)
    key = "|".join(
        (
            sf_dir,
            f"cap{cap}",
            f"s{stride}",
            input_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        )
    )
    return materialized_stage(
        spark,
        "suffix",
        _STAGE_VERSION,
        key,
        [("stage", lambda parts: _build_stage(spark, sf_dir, cap, stride))],
    )["stage"]


def _build_stage(
    spark: SparkSession, sf_dir: str, cap: int, stride: int
) -> DataFrame:
    """The unmaterialized plan of ``adjacent_suffixes``' frame."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    positions = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n"),
        F.explode(F.expr("sequence(1, length(text))")).alias("p"),
        "text",
    )
    if stride > 1:
        # content-defined anchor: both copies of a duplicated span carry
        # identical windows, so they sample identical in-span offsets
        positions = positions.where(
            F.pmod(
                F.xxhash64(F.expr(f"substring(text, p, {ANCHOR_W})")),
                F.lit(stride),
            )
            == 0
        )
    sufs = positions.select(
        "doc_id",
        "n",
        F.col("p").cast("bigint").alias("p"),
        F.expr(f"substring(text, p, {cap})").alias("suf"),
    )
    return (
        attach_prev_next(
            sufs,
            ["suf", "doc_id", "p"],
            {"pd": "doc_id", "pp": "p", "pn": "n", "ps": "suf"},
            {"ns": "suf"},
        )
        .withColumn(
            "lcp",
            F.when(F.col("ps").isNotNull(), adjacent_lcp(cap)),
        )
        .withColumn(
            # LCP is symmetric: LCP(suf, successor) == the successor
            # row's lcp. Computing it here (one extra expression in the
            # once-per-session stage build) is what lets every
            # ExactSubstr consumer read a position's best-match length
            # as greatest(lcp, nlcp) with zero shuffles.
            "nlcp",
            F.when(F.col("ns").isNotNull(), adjacent_lcp(cap, "suf", "ns")),
        )
        .drop("ns")
    )


def adjacent_lcp(cap: int, suf: str = "suf", prev: str = "ps") -> Column:
    """LCP of a suffix with its sort-predecessor, as a zero-explode
    array expression: prefix equality is monotone in L, so counting the
    L in 1..cap with equal prefixes IS the LCP. Exact up to ``cap``."""
    return F.expr(
        f"size(filter(sequence(1, {cap}),"
        f" L -> substring({suf}, 1, L) = substring({prev}, 1, L)))"
    ).cast("bigint")
