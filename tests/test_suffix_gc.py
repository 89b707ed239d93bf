"""GC contract of the suffix-stage cache, end to end through
``suffix.adjacent_suffixes``.

The suffix stage is the stagecache family ``suffix`` (one part,
``stage``), so it inherits stagecache's two storage layouts:

- per-app tempdir layout (default): orphaned ``ojo_stage_*`` dirs are
  reaped by mtime TTL. Liveness must consider the FRESHEST mtime of
  the dir or any direct child — the in-process heartbeat utimes the
  stage subdir, and a parent-only check would reap a live long-running
  session's stage.
- shared-dir layout (``SPARK_GRAFT_STAGE_CACHE_DIR``): stages are
  published by atomic rename and reused read-if-exists; crashed
  writers leave ``*.__tmp_<app>`` debris that the NEXT writer reaps
  iff older than the stale TTL.

tests/test_stagecache.py checks the same rules on a synthetic family;
these tests check that the suffix stage really goes through them.
"""

from __future__ import annotations

import os
import time

from ojo_daps_mirror_spark.operators import stagecache, suffix


def _age(path: str, secs: float) -> None:
    t = time.time() - secs
    os.utime(path, (t, t))


def _cache_key(df) -> tuple:
    """The stagecache entry (app id, stage path) whose ``stage`` part
    is ``df``."""
    return next(
        k
        for k, parts in stagecache._CACHE.items()
        if os.path.basename(k[1]).startswith("suffix_v")
        and parts.get("stage") is df
    )


def _stage_dir(df) -> str:
    """The published stage dir ``df`` reads from."""
    path = _cache_key(df)[1]
    assert os.path.basename(path).startswith(f"suffix_v{suffix._STAGE_VERSION}_")
    return path


def _drop_cached(df) -> None:
    """Forget ``df``'s in-process cache entry, as a new process would."""
    for part in stagecache._CACHE.pop(_cache_key(df)).values():
        part.unpersist()


def test_sweep_spares_dir_with_fresh_child(tmp_path, monkeypatch):
    import tempfile

    root = tmp_path / "tmproot"
    root.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(root))

    old = stagecache._STALE_TTL_SECS + 3600
    stage = f"suffix_v{suffix._STAGE_VERSION}"

    # dead app: base dir AND stage child both past the TTL -> reaped
    dead = root / "ojo_stage_deadapp"
    (dead / f"{stage}_x").mkdir(parents=True)
    _age(str(dead / f"{stage}_x"), old)
    _age(str(dead), old)

    # live app: base dir mtime is stale (nothing recreated a child in
    # 48h) but the heartbeat kept the stage subdir fresh -> survives
    live = root / "ojo_stage_liveapp"
    (live / f"{stage}_y").mkdir(parents=True)
    _age(str(live), old)  # child stays fresh

    monkeypatch.setattr(stagecache, "_swept", False)
    monkeypatch.setattr(stagecache, "_DIRS", set())
    stagecache._sweep_stale()

    assert not dead.exists(), "stale dir with stale children must be reaped"
    assert live.exists(), "fresh child heartbeat must keep the dir alive"


def test_heartbeat_refreshes_parent_dir(spark, sf_dir, monkeypatch):
    """The cache-hit heartbeat must refresh the per-app BASE dir the
    sweep reaps by, not only the stage subdir."""
    monkeypatch.delenv("SPARK_GRAFT_STAGE_CACHE_DIR", raising=False)
    df = suffix.adjacent_suffixes(spark, sf_dir, cap=8)
    assert df.count() > 0
    app = spark.sparkContext.applicationId
    stage = _stage_dir(df)
    base = os.path.dirname(stage)
    assert os.path.basename(base) == f"ojo_stage_{app}"
    assert os.path.basename(stage).startswith(
        f"suffix_v{suffix._STAGE_VERSION}_"
    )
    _age(base, stagecache._STALE_TTL_SECS + 3600)
    _age(stage, stagecache._STALE_TTL_SECS + 3600)
    suffix.adjacent_suffixes(spark, sf_dir, cap=8)  # cache hit -> heartbeat
    now = time.time()
    assert now - os.path.getmtime(stage) < 600
    assert now - os.path.getmtime(base) < 600


def test_shared_dir_reaps_stale_tmp_and_reuses_published(
    spark, sf_dir, tmp_path, monkeypatch
):
    shared = tmp_path / "lake"
    shared.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_DIR", str(shared))
    # a fresh key (unique cap) so the in-process cache misses
    cap = 9

    # crashed-writer debris: one stale (reap), one fresh (keep — its
    # writer may still be alive between tmp write and rename)
    debris = shared / f"suffix_v{suffix._STAGE_VERSION}_0123456789ab"
    stale_tmp = f"{debris}.__tmp_deadapp"
    fresh_tmp = f"{debris}.__tmp_otherapp"
    os.makedirs(stale_tmp)
    os.makedirs(fresh_tmp)
    _age(stale_tmp, stagecache._STALE_TTL_SECS + 3600)

    df = suffix.adjacent_suffixes(spark, sf_dir, cap=cap)
    n = df.count()
    assert n > 0
    path = _stage_dir(df)
    assert os.path.dirname(path) == str(shared)
    assert not os.path.exists(stale_tmp), "stale __tmp_ debris must be reaped"
    assert os.path.exists(fresh_tmp), "fresh __tmp_ dir must survive"
    assert os.path.exists(os.path.join(path, "_STAGE_OK"))

    # read-if-exists: a second build of the same key from a fresh
    # process must NOT rewrite the published stage
    published_mtime = os.path.getmtime(os.path.join(path, "_STAGE_OK"))
    _drop_cached(df)
    df2 = suffix.adjacent_suffixes(spark, sf_dir, cap=cap)
    assert df2.count() == n
    assert (
        os.path.getmtime(os.path.join(path, "_STAGE_OK")) == published_mtime
    ), "published stage must be reused read-if-exists, not rewritten"

    # shared-dir stages are the operator's to GC — never in _DIRS
    assert str(shared) not in stagecache._DIRS
    assert path not in stagecache._DIRS
    _drop_cached(df2)
