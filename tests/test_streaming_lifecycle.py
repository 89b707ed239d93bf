"""Streaming-drain lifecycle: a drain leaves nothing behind in the
catalog, and the file-stream link dir is private to the application
and reaped with its stagecache dir."""

from __future__ import annotations

import hashlib
import os
import tempfile

from ojo_daps_mirror_spark.operators import stagecache
from ojo_daps_mirror_spark.streaming.stock import (
    events_stream,
    streaming_event_counts,
)


def test_drains_leave_no_sink_views(spark, sf_dir):
    results = [
        sorted(map(tuple, streaming_event_counts(spark, sf_dir).collect()))
        for _ in range(3)
    ]
    assert results[0] and results[0] == results[1] == results[2]
    sinks = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("stream_sink_")
    ]
    assert sinks == []


def test_link_dir_lives_in_the_app_stage_dir(spark, sf_dir, tmp_path, monkeypatch):
    # an isolated temp root and reaper state, so clear_cache below
    # touches nothing that other tests' stages rely on
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(stagecache, "_DIRS", set())
    monkeypatch.setattr(stagecache, "_CACHE", {})

    events_stream(spark, sf_dir)
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    app_dir = stagecache._app_dir(spark.sparkContext.applicationId)
    link_dir = os.path.join(
        app_dir, f"stream_{hashlib.md5(src.encode()).hexdigest()[:8]}"
    )
    assert os.listdir(tmp_path) == [os.path.basename(app_dir)]
    assert os.readlink(os.path.join(link_dir, "events.parquet")) == src

    stagecache.clear_cache(spark)
    assert not os.path.exists(app_dir)
