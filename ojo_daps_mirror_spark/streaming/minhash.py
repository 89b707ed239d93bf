"""Streaming MinHash dedup — C47's incremental probe as an ingest stream.

Batch side (plans/llm_plans6.py incremental_minhash_dedup): one newly-
arrived batch probes a persisted band-signature index. This module is
the Structured-Streaming twin for a CONTINUOUS ingest: new documents
land as files, each micro-batch

  1. computes its band signatures MAP-SIDE (text_plans.minhash_bands,
     the same builder as C5/C47 — signatures never shuffle),
  2. broadcast-probes the persisted signature STORE (parquet). The
     store is where the "state" lives — stream state proper is only
     the file-source offsets in the checkpoint, so executor state
     stays bounded no matter how long the stream runs (the
     drop-late/bounded-state contract: an index entry is visible to a
     batch iff its writer committed before the batch read the store),
  3. exact-Jaccard-verifies the colliding pairs only, and
  4. writes its matches IDEMPOTENTLY to a per-batch directory (the
     same exactly-once foreachBatch recipe as streaming/upsert.py:
     a replayed batch overwrites identical content).

Draining the stream over the same "new" subset must equal the batch
op exactly — asserted in tests/test_streaming_semantics.py, and the
registered query (plans/misc_plans.py streaming_minhash_dedup) shares
C47's DuckDB oracle verbatim.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table, local_frame

MATCH_SCHEMA = "id_a bigint, id_b bigint, jaccard double"


def seed_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """One-time corpus build: persist the band-signature index of the
    EXISTING corpus (everything that is not the new-arrival subset).
    In production this is the signature table the corpus build writes
    once and every ingest batch reads."""
    from ..plans.llm_plans6 import PROBE_MOD, PROBE_REM
    from ..plans.text_plans import minhash_bands

    raw = load_table(spark, sf_dir, "documents")
    idx = minhash_bands(
        raw.where(F.col("doc_id") % PROBE_MOD != PROBE_REM)
    ).withColumnRenamed("doc_id", "j")
    idx.write.mode("overwrite").parquet(index_dir)


def stage_arrivals(
    spark: SparkSession, sf_dir: str, landing_dir: str, n_files: int = 4
) -> None:
    """Write the new-arrival subset (doc_id % PROBE_MOD == PROBE_REM)
    into the landing directory as ``n_files`` files, so the file
    stream genuinely exercises multiple micro-batches."""
    from ..plans.llm_plans6 import PROBE_MOD, PROBE_REM

    raw = load_table(spark, sf_dir, "documents")
    (
        raw.where(F.col("doc_id") % PROBE_MOD == PROBE_REM)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(landing_dir)
    )


def stream_minhash_dedup(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the landing directory (availableNow, one file per
    micro-batch), probing each batch against the signature store and
    writing verified matches per batch."""
    from ..plans.text_plans import MH_SHINGLE_K, _jaccard_verify, minhash_bands

    schema = spark.read.parquet(landing_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    # the corpus frame for exact-Jaccard verification: candidates are
    # bucket-capped and tiny, so the verify semi-joins pluck only the
    # colliding docs' texts (a keyed lookup at 100 TB)
    corpus = load_table(spark, sf_dir, "documents")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        nb = minhash_bands(batch_df).withColumnRenamed("doc_id", "i")
        idx = spark.read.parquet(index_dir)
        cand = (
            F.broadcast(nb)
            .join(idx, ["band", "sig"])
            .select("i", "j")
            .distinct()
        )
        matches = _jaccard_verify(corpus, cand, MH_SHINGLE_K)
        # overwrite THIS batch's directory only: a replayed batch
        # rewrites identical content instead of duplicating matches
        matches.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # record progress so the state-bound tests can assert the claim in
    # this module's docstring: NO stateOperators — stream state is only
    # the source offsets, the signature store lives in the lake
    from .stock import capture_progress

    capture_progress(q)


def read_matches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union the per-batch match outputs. Every new doc lands in
    exactly one micro-batch, so the union is disjoint by construction
    — no dedup pass needed."""
    if not os.path.isdir(out_dir) or not any(
        e.startswith("batch_id=") for e in os.listdir(out_dir)
    ):
        return local_frame(spark, [], MATCH_SCHEMA)
    return (
        spark.read.schema(MATCH_SCHEMA)
        .option("basePath", out_dir)
        .parquet(out_dir)
        .select("id_a", "id_b", "jaccard")
    )
