"""Contract of the materialized stage cache (operators/stagecache.py)
and its consensus-family instantiation. Every stage family — the
suffix sort included — shares this code, so these tests cover them all:

- per-app tempdir layout: orphaned ``ojo_stage_*`` dirs (and legacy
  ``ojo_suffix_*``/``ojo_stream_*`` dirs) reaped by mtime TTL,
  liveness judged by the freshest mtime of dir-or-child.
- shared-dir layout (``SPARK_GRAFT_STAGE_CACHE_DIR``): publish via
  tmp + atomic rename, reuse read-if-exists, reap stale ``__tmp_``
  debris only.
- builds are sequential: each part's builder receives the READ-BACK
  parquet frames of its predecessors (real lineage cuts).
- cache hits heartbeat stage + parent and re-assert persist after an
  external ``spark.catalog.clearCache()``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from ojo_daps_mirror_spark.operators import stagecache


def _age(path: str, secs: float) -> None:
    t = time.time() - secs
    os.utime(path, (t, t))


def _builders(spark):
    def b_base(parts):
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("x"))

    def b_derived(parts):
        # must see the read-back parquet of `base`, not a live plan
        return parts["base"].groupBy().agg(F.sum("x").alias("sx"))

    return [("base", b_base), ("derived", b_derived)]


def test_build_read_back_and_persist_reassert(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(tmp_path / "lake"))
    parts = stagecache.materialized_stage(
        spark, "tstfam", 1, "k1", _builders(spark)
    )
    assert parts["base"].count() == 10
    assert parts["derived"].collect()[0]["sx"] == 90
    path = stagecache._stage_path(
        spark.sparkContext.applicationId, "tstfam", 1,
        __import__("hashlib").md5(b"k1").hexdigest()[:12],
    )
    assert os.path.exists(os.path.join(path, "_STAGE_OK"))
    assert os.path.exists(os.path.join(path, "base", "_SUCCESS"))

    # external clearCache (bench key isolation) drops the persist
    # registration; the next stage call must re-assert it
    spark.catalog.clearCache()
    parts2 = stagecache.materialized_stage(
        spark, "tstfam", 1, "k1", _builders(spark)
    )
    sl = parts2["base"].storageLevel
    assert sl.useMemory or sl.useDisk

    # read-if-exists: published stage is never rewritten
    mt = os.path.getmtime(os.path.join(path, "_STAGE_OK"))
    key = (spark.sparkContext.applicationId, path)
    for df in stagecache._CACHE.pop(key).values():  # simulate new process
        df.unpersist()
    parts3 = stagecache.materialized_stage(
        spark, "tstfam", 1, "k1", _builders(spark)
    )
    assert parts3["derived"].collect()[0]["sx"] == 90
    assert os.path.getmtime(os.path.join(path, "_STAGE_OK")) == mt


def test_sweep_spares_dir_with_fresh_child(tmp_path, monkeypatch):
    import tempfile

    root = tmp_path / "tmproot"
    root.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(root))

    old = stagecache._STALE_TTL_SECS + 3600

    dead = root / "ojo_stage_deadapp"
    (dead / "consensus_v1_x").mkdir(parents=True)
    _age(str(dead / "consensus_v1_x"), old)
    _age(str(dead), old)

    live = root / "ojo_stage_liveapp"
    (live / "consensus_v1_y").mkdir(parents=True)
    _age(str(live), old)  # child heartbeat stays fresh

    monkeypatch.setattr(stagecache, "_swept", False)
    monkeypatch.setattr(stagecache, "_DIRS", set())
    stagecache._sweep_stale()

    assert not dead.exists(), "stale dir with stale children must be reaped"
    assert live.exists(), "fresh child heartbeat must keep the dir alive"


def test_sweep_reaps_stale_legacy_dirs(tmp_path, monkeypatch):
    """Suffix and streaming dirs that older code wrote directly under
    the temp dir go by the same TTL and liveness rule."""
    import tempfile

    root = tmp_path / "tmproot"
    root.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(root))
    old = stagecache._STALE_TTL_SECS + 3600
    names = ["ojo_suffix_app1", "ojo_stream_mh_app1", "ojo_stream_abc"]
    for name in names:
        (root / name / "part").mkdir(parents=True)
        _age(str(root / name / "part"), old)
        _age(str(root / name), old)
        (root / f"{name}_fresh").mkdir()
    other = root / "ojo_other_app1"
    other.mkdir()
    _age(str(other), old)

    monkeypatch.setattr(stagecache, "_swept", False)
    monkeypatch.setattr(stagecache, "_DIRS", set())
    stagecache._sweep_stale()

    for name in names:
        assert not (root / name).exists(), name
        assert (root / f"{name}_fresh").exists(), name
    assert other.exists(), "only the package's own prefixes are swept"


def test_shared_dir_reaps_stale_tmp_keeps_fresh(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(tmp_path / "lake2"))
    os.makedirs(tmp_path / "lake2")
    app = spark.sparkContext.applicationId
    import hashlib

    path = stagecache._stage_path(
        app, "tstfam2", 1, hashlib.md5(b"k2").hexdigest()[:12]
    )
    stale_tmp = f"{path}.__tmp_deadapp"
    fresh_tmp = f"{path}.__tmp_otherapp"
    os.makedirs(stale_tmp)
    os.makedirs(fresh_tmp)
    _age(stale_tmp, stagecache._STALE_TTL_SECS + 3600)

    parts = stagecache.materialized_stage(
        spark, "tstfam2", 1, "k2", _builders(spark)
    )
    assert parts["base"].count() == 10
    assert not os.path.exists(stale_tmp), "stale __tmp_ debris must be reaped"
    assert os.path.exists(fresh_tmp), "fresh __tmp_ dir must survive"
    assert os.path.exists(os.path.join(path, "_STAGE_OK"))


def test_heartbeat_refreshes_stage_and_parent(spark, tmp_path, monkeypatch):
    """A cache hit refreshes the stage dir AND the parent dir the sweep
    reaps by, in both the shared-dir and the default per-app layout."""
    import hashlib

    app = spark.sparkContext.applicationId
    for key, lake in (("k3", tmp_path / "lake3"), ("k3app", None)):
        if lake is None:
            monkeypatch.delenv("SPARK_GRAFT_STAGE_CACHE_DIR", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(lake))
        stagecache.materialized_stage(spark, "tstfam3", 1, key, _builders(spark))
        path = stagecache._stage_path(
            app, "tstfam3", 1, hashlib.md5(key.encode()).hexdigest()[:12]
        )
        base = os.path.dirname(path)
        if lake is None:
            assert os.path.basename(base) == f"ojo_stage_{app}"
        _age(path, stagecache._STALE_TTL_SECS + 3600)
        _age(base, stagecache._STALE_TTL_SECS + 3600)
        stagecache.materialized_stage(spark, "tstfam3", 1, key, _builders(spark))
        now = time.time()
        assert now - os.path.getmtime(path) < 600, key
        assert now - os.path.getmtime(base) < 600, key


def test_changed_base_dir_builds_under_new_dir(spark, tmp_path, monkeypatch):
    """The in-process handle is keyed on the resolved stage path: once
    SPARK_GRAFT_STAGE_CACHE_DIR changes, the same stage key is built
    under the new dir instead of serving the old dir's handle."""
    import hashlib

    monkeypatch.delenv("SPARK_GRAFT_STAGE_CACHE_DIR", raising=False)
    stagecache.materialized_stage(spark, "tstfam4", 1, "k4", _builders(spark))
    lake = tmp_path / "lake4"
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(lake))
    parts = stagecache.materialized_stage(
        spark, "tstfam4", 1, "k4", _builders(spark)
    )
    path = stagecache._stage_path(
        spark.sparkContext.applicationId, "tstfam4", 1,
        hashlib.md5(b"k4").hexdigest()[:12],
    )
    assert path.startswith(str(lake))
    assert os.path.exists(os.path.join(path, "_STAGE_OK"))
    assert parts["derived"].collect()[0]["sx"] == 90


def test_input_fingerprint_tracks_data_changes(tmp_path):
    """Overwriting the input within one application must key a FRESH
    stage: the fingerprint changes with content size or mtime."""
    d = tmp_path / "documents.parquet"
    d.mkdir()
    f = d / "part-0"
    f.write_bytes(b"x" * 10)
    fp1 = stagecache.input_fingerprint(str(d))
    f.write_bytes(b"y" * 20)  # size change
    assert stagecache.input_fingerprint(str(d)) != fp1
    fp2 = stagecache.input_fingerprint(str(d))
    t = time.time() + 5
    os.utime(f, (t, t))  # same bytes, re-landed later
    assert stagecache.input_fingerprint(str(d)) != fp2


def test_consensus_stage_parts_consistent(spark, sf_dir):
    """The consensus family's stage: every part present, comps1/comps2
    cover the same node set, and comps2 refines comps1 (every
    subcommunity lives inside exactly one parent community)."""
    from ojo_daps_mirror_spark.plans.community_plans import _consensus_stage

    parts = _consensus_stage(spark, sf_dir)
    assert set(parts) == {"edges", "labels", "votes", "comps1", "comps2"}
    n_nodes = parts["comps1"].count()
    assert n_nodes > 0
    assert parts["comps2"].count() == n_nodes
    both = parts["comps1"].join(parts["comps2"], "id")
    n_parents = (
        both.groupBy("subcommunity")
        .agg(F.countDistinct("community").alias("np"))
        .agg(F.max("np"))
        .collect()[0][0]
    )
    assert n_parents == 1, "a subcommunity must sit inside ONE community"
