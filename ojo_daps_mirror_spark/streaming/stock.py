"""Structured-Streaming event counts — the reference's "continuous
collection" loop (daily Metaflow batch re-runs) as an actual stream.

readStream(parquet) → watermark → tumbling-window counts →
memory/availableNow for tests; in production the same plan writes to a
sink with checkpointing and handles late data via the watermark instead
of the reference's full re-scan per run.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK = "1 day"
WINDOW = "1 day"

# StreamingQueryProgress records of the most recent drain (set by
# run_to_completion / capture_progress). The state-bound tests and the
# streaming stress harness read stateOperators metrics from here —
# the externally observable proof that each stateful op's state is
# dimension-bounded (windows × types, users, watermark window), not
# stream-length-bounded.
LAST_PROGRESS: list[dict] = []


def capture_progress(query) -> list[dict]:
    """Store the query's recentProgress as plain dicts in
    LAST_PROGRESS and return them."""
    import json as _json

    global LAST_PROGRESS
    out = []
    for p in query.recentProgress:
        out.append(p if isinstance(p, dict) else _json.loads(p.json))
    LAST_PROGRESS = out
    return out


def state_summary(progress: list[dict] | None = None) -> dict:
    """Max state size over a drain's progress records:
    {rows, bytes, by_operator: {opName: max rows}}. Zero everywhere
    for stateless drains (e.g. foreachBatch probes whose only state is
    source offsets)."""
    progress = LAST_PROGRESS if progress is None else progress
    rows = bytes_ = 0
    by_op: dict[str, int] = {}
    for p in progress:
        ops = p.get("stateOperators") or []
        rows = max(rows, sum(int(o.get("numRowsTotal", 0)) for o in ops))
        bytes_ = max(
            bytes_, sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
        )
        for o in ops:
            name = o.get("operatorName", "?")
            by_op[name] = max(
                by_op.get(name, 0), int(o.get("numRowsTotal", 0))
            )
    return {"rows": rows, "bytes": bytes_, "by_operator": by_op}


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table, ts normalised to timestamp.

    The file-stream source wants a directory to monitor; expose the
    single parquet file through a symlink in a work dir under this
    application's stagecache dir, so no other process shares it and
    ``clear_cache`` reaps it (in production the source is a real
    landing directory / Kafka topic). Replica builds
    (scripts/scale_stress.py) write events.parquet as a DIRECTORY of
    part files — those are linked individually, re-linked fresh each
    call because a rebuild renames every part.
    """
    from ..operators.stagecache import work_dir

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stream_dir = work_dir(
        spark, f"stream_{hashlib.md5(src.encode()).hexdigest()[:8]}"
    )
    os.makedirs(stream_dir, exist_ok=True)
    if os.path.isdir(src) and not os.path.islink(src):
        for name in os.listdir(stream_dir):
            os.unlink(os.path.join(stream_dir, name))
        for name in os.listdir(src):
            if name.endswith(".parquet"):
                os.symlink(
                    os.path.join(src, name), os.path.join(stream_dir, name)
                )
    else:
        link = os.path.join(stream_dir, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)

    batch_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(batch_schema).parquet(stream_dir)
    # events.ts arrives as int64 nanos or TIMESTAMP_NTZ depending on the
    # writer; normalise to plain TIMESTAMP (see sources/registry.py)
    from ..sources.registry import normalize_ts

    return normalize_ts(stream)


def run_to_completion(df: DataFrame, spark: SparkSession, mode: str = "complete"):
    """Start ``df`` as an availableNow memory-sink stream, await it, and
    return the sink's rows (caller orders it). The frame is resolved
    before the sink's temp view is dropped, so no drain leaves a
    catalog entry behind."""
    sink = f"stream_sink_{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    capture_progress(query)
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed-count stream to completion (availableNow) and
    return the batch result: (window_start, event_type, n_events)."""
    stream = events_stream(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_to_completion(counts, spark).orderBy("window_start", "event_type")


def stream_to_partitioned_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Stream events into a date-partitioned parquet lake with exactly-
    once file-sink semantics (checkpointed offsets + transactional file
    commits) — the reference's daily batch-append
    (flows/collect → S3 landing) as a continuous ingest.

    The sink partitions by event_date so downstream batch queries get
    partition pruning over ingest output; availableNow drains the
    backlog and stops, which is also the production catch-up pattern.
    Returns the re-read batch DataFrame for verification.
    """
    stream = events_stream(spark, sf_dir)
    enriched = stream.withColumn("event_date", F.to_date("ts"))
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)
