"""Structured-Streaming semantics tests: watermark late-data handling.

These pin down the engine's behavioural contract for the streaming
operators (streaming/*): a row arriving after its window's state was
evicted is dropped, never merged or re-emitted — and state eviction
itself lags the sentinel batch by one trigger because Spark computes
the watermark from data seen in PREVIOUS batches.
"""

def test_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 1 advances the
    watermark far past day A; batch 2's late day-A event must be
    DROPPED, so day A's appended window count excludes it."""
    import os
    import shutil
    import uuid
    from datetime import datetime

    from pyspark.sql import functions as F

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    day_a = datetime(2000, 1, 10, 12, 0)
    day_b = datetime(2000, 3, 1, 12, 0)

    land = tmp_path / "land"
    land.mkdir()

    def drop_file(rows, name, mtime):
        tmp = tmp_path / f"w_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = land / f"{name}.parquet"
        shutil.copy(tmp / part, dst)
        os.utime(dst, (mtime, mtime))

    drop_file(
        [(1, day_a, 1, "view", 1.0, "{}"), (2, day_a, 2, "view", 1.0, "{}")],
        "b1", 1_000_000_000)
    # batch 2: the sentinel advances the watermark past day A, so day
    # A's window state is EVICTED (and its count emitted) at the end
    # of this batch
    drop_file([(3, day_b, 3, "view", 1.0, "{}")], "b2", 1_000_000_600)
    # batch 3: spacer — the watermark computed from batch 2 becomes
    # CURRENT here (it lags one batch), so day A's state evicts at the
    # end of this batch
    drop_file([(5, day_b, 5, "view", 1.0, "{}")], "b3", 1_000_001_200)
    # batch 4: one LATE day-A event arriving after eviction — must be
    # dropped, not re-opened as a duplicate appended window
    drop_file([(4, day_a, 4, "view", 1.0, "{}")], "b4", 1_000_001_800)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(land))
    )
    counts = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "n")
    )
    sink = f"late_{uuid.uuid4().hex[:8]}"
    q = (counts.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.table(sink).collect()
    got = [(r["day"], r["n"]) for r in rows]
    # day A window finalized with ONLY the two on-time events; the late
    # batch-3 event was dropped by the watermark (no merge, and no
    # duplicate appended window either)
    assert got.count(("2000-01-10", 2)) == 1, got
    assert all(not (d == "2000-01-10" and n != 2) for d, n in got), got


def test_foreachbatch_upsert_state_matches_batch_and_restart_is_noop(
    spark, sf_dir, tmp_path
):
    """D10: the foreachBatch keyed-upsert sink. Drained state must equal
    the batch GROUP BY, and restarting on the same checkpoint must not
    double-count (idempotent per-batch directories)."""
    from pyspark.sql import functions as F

    from ojo_daps_mirror_spark.sources import load_table
    from ojo_daps_mirror_spark.streaming.upsert import (
        read_profiles,
        stream_upsert_profiles,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream_upsert_profiles(spark, sf_dir, state, ckpt)
    got = {
        r.user_id: (r.n_events, round(r.sum_value, 4))
        for r in read_profiles(spark, state).collect()
    }
    expect = {
        r.user_id: (r.n_events, round(r.sum_value, 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert got == expect

    # restart on the drained checkpoint: no new batches, state unchanged
    stream_upsert_profiles(spark, sf_dir, state, ckpt)
    again = {
        r.user_id: (r.n_events, round(r.sum_value, 4))
        for r in read_profiles(spark, state).collect()
    }
    assert again == expect


def test_left_outer_interval_join_closure(spark, sf_dir):
    """C57: the left-outer stream-stream join. Within the
    watermark-closed region every click resolves, unconverted =
    no purchase within the hour (checked per user against a batch
    recomputation)."""
    from pyspark.sql import functions as F

    from ojo_daps_mirror_spark import plans
    from ojo_daps_mirror_spark.sources import load_table

    plans.load_all()
    rows = plans.QUERIES["streaming_unconverted_clicks"](spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    maxes = {
        r.event_type: r.m
        for r in ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .collect()
    }
    import datetime

    boundary = min(maxes.values()) - datetime.timedelta(hours=3)
    clicks = [
        (r.user_id, r.ts)
        for r in ev.where(F.col("event_type") == "click").collect()
        if r.ts < boundary
    ]
    purchases = {}
    for r in ev.where(F.col("event_type") == "purchase").collect():
        purchases.setdefault(r.user_id, []).append(r.ts)
    manual = {}
    for u, cts in clicks:
        n, un = manual.get(u, (0, 0))
        converted = any(
            cts <= p <= cts + datetime.timedelta(hours=1)
            for p in purchases.get(u, ())
        )
        manual[u] = (n + 1, un + (0 if converted else 1))
    got = {r.user_id: (r.n_clicks, r.n_unconverted) for r in rows}
    assert got == manual


def test_stateful_anomaly_state_survives_batches(spark, tmp_path):
    """Three micro-batches: the expanding z-score history must carry
    across batches (state), and the final per-window scores must equal
    a single-pass batch computation on the union of all batches."""
    import os
    import shutil
    import uuid
    from datetime import datetime, timedelta

    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ojo_daps_mirror_spark.streaming.anomaly import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _update,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    base = datetime(2001, 5, 1, 0, 0)

    # 8 six-hour windows with counts 4,6,5,7,5,6,50,5 — the spike in
    # window 6 must flag once ≥3 priors exist (priors varied so the
    # sample std is nonzero). Split across 3 files.
    def rows_for(widx, n, start_id):
        t = base + timedelta(hours=6 * widx, minutes=10)
        return [(start_id + i, t, 1, "view", 1.0, "{}") for i in range(n)]

    batches = [
        rows_for(0, 4, 0) + rows_for(1, 6, 100) + rows_for(2, 5, 200),
        rows_for(3, 7, 300) + rows_for(4, 5, 400) + rows_for(5, 6, 500),
        rows_for(6, 50, 600) + rows_for(7, 5, 700),
    ]
    land = tmp_path / "land"
    land.mkdir()
    for bi, rows in enumerate(batches):
        tmp = tmp_path / f"w_{bi}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = land / f"b{bi}.parquet"
        shutil.copy(tmp / part, dst)
        os.utime(dst, (1_000_000_000 + bi * 600,) * 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(land))
        .select("event_type", "ts")
    )
    scored = stream.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"anom_{uuid.uuid4().hex[:8]}"
    q = (scored.writeStream.format("memory").queryName(sink)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table(sink)
    assert out.agg(F.max("emit_seq")).collect()[0][0] >= 3  # real multi-batch
    w = Window.partitionBy("event_type", "window_start").orderBy(
        F.col("emit_seq").desc()
    )
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .orderBy("window_start")
        .collect()
    )
    counts = [r["n_events"] for r in final]
    assert counts == [4, 6, 5, 7, 5, 6, 50, 5]
    flags = [r["is_anomaly"] for r in final]
    assert flags[6] is True and sum(flags) == 1, final
    # cross-check z for the spike against the closed-form expanding stat
    prev = np.array([4, 6, 5, 7, 5, 6], dtype=float)
    z_expected = (50 - prev.mean()) / prev.std(ddof=1)
    assert abs(final[6]["z"] - round(z_expected + 1e-9, 4)) < 1e-9


def test_streaming_minhash_dedup_drain_equals_batch_and_restart_is_noop(
    spark, sf_dir, tmp_path
):
    """C229: the streaming MinHash probe. Draining the new-arrival
    subset through the foreachBatch signature-store probe must emit
    exactly the batch op's match set (C47), across multiple
    micro-batches; restarting on the drained checkpoint must process
    nothing and leave the matches unchanged."""
    from ojo_daps_mirror_spark.plans.llm_plans6 import (
        incremental_minhash_dedup,
    )
    from ojo_daps_mirror_spark.streaming.minhash import (
        read_matches,
        seed_index,
        stage_arrivals,
        stream_minhash_dedup,
    )

    landing = str(tmp_path / "landing")
    index = str(tmp_path / "index")
    out = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")

    seed_index(spark, sf_dir, index)
    stage_arrivals(spark, sf_dir, landing, n_files=4)
    stream_minhash_dedup(spark, sf_dir, landing, index, out, ckpt)

    def keyset(df):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 4)) for r in df.collect()
        }

    got = keyset(read_matches(spark, out))
    expect = keyset(incremental_minhash_dedup(spark, sf_dir))
    assert got == expect and expect, "drained matches must equal batch C47"

    # multiple micro-batches actually ran (maxFilesPerTrigger=1)
    import os

    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert len(batch_dirs) >= 2, batch_dirs

    # restart on the drained checkpoint: no reprocessing, no new dirs
    stream_minhash_dedup(spark, sf_dir, landing, index, out, ckpt)
    assert keyset(read_matches(spark, out)) == expect
    after = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert sorted(after) == sorted(batch_dirs)


# ---------------------------------------------------------------------------
# State-size bounds (round-5): the externally observable proof, via
# StreamingQueryProgress stateOperators, that every stateful op keeps
# state DIMENSION-bounded (windows × types, users, watermark window,
# both-sides-within-watermark) rather than stream-length-bounded.
# The streaming stress harness (scripts/scale_stress.py --family
# stream) asserts the same bounds at 16x replica volume.
# ---------------------------------------------------------------------------


def _drain(spark, key, sf_dir):
    from ojo_daps_mirror_spark import plans
    from ojo_daps_mirror_spark.streaming import stock

    plans.load_all()
    n_out = plans.QUERIES[key](spark, sf_dir).count()
    return n_out, stock.state_summary()


def _dims(spark, sf_dir):
    from pyspark.sql import functions as F

    from ojo_daps_mirror_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_clicks"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "n_purchases"
        ),
    ).collect()[0]
    return row.asDict()


def test_state_bound_windowed_aggregate(spark, sf_dir):
    """C12 tumbling windows: state rows ≤ windows × types — the
    dimension grid, never the event stream."""
    n_out, st = _drain(spark, "streaming_stock", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= (d["n_days"] + 1) * d["n_types"], st


def test_state_bound_sliding_windows(spark, sf_dir):
    """C40 sliding 24h/6h windows: each event lands in exactly 4
    windows, so state ≤ 4 × (days+1) × types."""
    n_out, st = _drain(spark, "streaming_sliding_counts", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= 4 * (d["n_days"] + 1) * d["n_types"], st


def test_state_bound_dedup_within_watermark(spark, sf_dir):
    """C14 dropDuplicatesWithinWatermark: state holds at most the
    DISTINCT (user, type) keys inside the watermark horizon — bounded
    by the key space, not by how many duplicate events streamed by."""
    n_out, st = _drain(spark, "streaming_dedup", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= d["n_users"] * d["n_types"], st
    assert st["rows"] < d["n_events"], "state grew with the stream"


def test_state_bound_stateful_profiles(spark, sf_dir):
    """C21 applyInPandasWithState per-user profiles: one state row per
    user, period."""
    n_out, st = _drain(spark, "streaming_stateful_profiles", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= d["n_users"], st


def test_state_bound_rate_anomaly(spark, sf_dir):
    """C72 per-event-type anomaly state: one row per type."""
    n_out, st = _drain(spark, "streaming_rate_anomaly", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= d["n_types"], st


def test_state_bound_stream_stream_join(spark, sf_dir):
    """C22 inner interval join: both sides buffered, bounded by the
    click+purchase volume inside watermark+range (≤ all clicks +
    purchases; at this horizon nothing has been evicted yet, so the
    bound is the participating-row total, never all events)."""
    n_out, st = _drain(spark, "streaming_join_conversions", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= d["n_clicks"] + d["n_purchases"], st


def test_state_bound_outer_join(spark, sf_dir):
    """C57 left-outer interval join: same both-sides bound as C22."""
    n_out, st = _drain(spark, "streaming_unconverted_clicks", sf_dir)
    d = _dims(spark, sf_dir)
    assert n_out > 0 and st["rows"] > 0
    assert st["rows"] <= d["n_clicks"] + d["n_purchases"], st


def test_state_bound_minhash_probe_is_stateless(spark, sf_dir):
    """C229 foreachBatch probe: stream state is ONLY source offsets —
    zero stateOperators rows — and the signature store stays
    O(corpus index): the drain reads it, never appends to it."""
    import hashlib
    import os

    from ojo_daps_mirror_spark import plans
    from ojo_daps_mirror_spark.streaming import stock

    plans.load_all()
    n_out = plans.QUERIES["streaming_minhash_dedup"](spark, sf_dir).count()
    assert n_out >= 0
    st = stock.state_summary()
    assert st["rows"] == 0 and st["by_operator"] == {}, st
    # the signature store on disk is exactly the seeded corpus index
    from ojo_daps_mirror_spark.operators.stagecache import work_dir
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    work = work_dir(spark, f"stream_mh_{tag}")
    assert os.path.isdir(work), "work dir missing"
    idx = spark.read.parquet(os.path.join(work, "index"))
    from pyspark.sql import functions as F
    from ojo_daps_mirror_spark.plans.llm_plans6 import PROBE_MOD, PROBE_REM
    from ojo_daps_mirror_spark.plans.text_plans import minhash_bands
    from ojo_daps_mirror_spark.sources import load_table
    expected = minhash_bands(
        load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % PROBE_MOD != PROBE_REM
        )
    ).count()
    assert idx.count() == expected
