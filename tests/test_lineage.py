"""Contract of ``operators/lineage.py:fixpoint``, the one round loop of
the iterative graph operators:

- until-converged mode stops after the first round whose observed
  changed count is 0; fixed-count mode runs exactly N rounds;
- a round launches no Spark job beyond its lineage cut (the changed
  count rides the cut's own job), connected components included, whose
  first round runs uncut inside the first cut (cuts = rounds - 1);
- the observed count is also right when the session has a checkpoint
  dir (reliable ``checkpoint`` instead of ``localCheckpoint``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from ojo_daps_mirror_spark.operators import dedup, lineage
from ojo_daps_mirror_spark.operators.lineage import fixpoint


def _job_id(spark) -> int:
    """Next job id of the scheduler: jobs submitted so far."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _countdown(spark, top: int):
    """State x = 0..top and a step that lowers every x by one (floor 0),
    keeping the previous value as ``old``; ``calls`` counts rounds."""
    calls = []

    def step(state):
        calls.append(1)
        return state.select(
            F.greatest(F.col("x") - 1, F.lit(0)).alias("x"), F.col("x").alias("old")
        )

    state = spark.range(top + 1).select(
        F.col("id").alias("x"), F.col("id").alias("old")
    )
    return step, state, calls


def test_converges_at_first_unchanged_round(spark):
    step, state, calls = _countdown(spark, 6)
    out = fixpoint(step, state, changed=F.col("x") != F.col("old"))
    # rounds 1..6 each lower the max by one; round 7 changes nothing
    assert len(calls) == 7
    assert out.agg(F.max("x")).collect()[0][0] == 0


def test_fixed_rounds_and_mode_check(spark):
    step, state, calls = _countdown(spark, 6)
    out = fixpoint(step, state, rounds=3)
    assert len(calls) == 3
    assert out.agg(F.max("x")).collect()[0][0] == 3
    assert fixpoint(step, state, rounds=0) is state
    with pytest.raises(ValueError):
        fixpoint(step, state)
    with pytest.raises(ValueError):
        fixpoint(step, state, rounds=2, changed=F.col("x") != F.col("old"))


def _jobs_in_cuts(spark, monkeypatch):
    """Wrap ``lineage.cut_lineage``, which ``fixpoint`` calls through
    the module global; returns a list that collects the Spark jobs each
    cut launched."""
    per_cut = []
    real = lineage.cut_lineage

    def counted(df):
        j0 = _job_id(spark)
        out = real(df)
        per_cut.append(_job_id(spark) - j0)
        return out

    monkeypatch.setattr(lineage, "cut_lineage", counted)
    return per_cut


def test_round_launches_no_job_beyond_its_cut(spark, monkeypatch):
    per_cut = _jobs_in_cuts(spark, monkeypatch)
    step, state, calls = _countdown(spark, 4)
    j0 = _job_id(spark)
    fixpoint(step, state, changed=F.col("x") != F.col("old"))
    assert len(per_cut) == len(calls) == 5
    assert _job_id(spark) - j0 == sum(per_cut)


def _cc_cuts(spark, monkeypatch, pairs, n_vertices):
    """Run connected components on ``pairs``; returns the Spark jobs of
    each lineage cut it made and its set of component ids. Asserts
    every job the call launched ran inside a cut."""
    per_cut = _jobs_in_cuts(spark, monkeypatch)
    edges = spark.createDataFrame(pairs, "first_id long, second_id long")
    vertices = spark.createDataFrame(
        [(v,) for v in range(n_vertices)], "id long"
    )
    j0 = _job_id(spark)
    out = dedup.connected_components(edges, vertices)
    assert _job_id(spark) - j0 == sum(per_cut)
    return per_cut, {r["component_id"] for r in out.collect()}


def test_connected_components_jobs_are_all_cuts(spark, monkeypatch):
    """CC's only Spark jobs are its lineage cuts, one per round after
    the first: round 1 is closed-form in the uncut prologue, so the
    first cut runs the prologue, round 1 and round 2."""
    chain = [(i, i + 1) for i in range(5)]
    per_cut, comps = _cc_cuts(spark, monkeypatch, chain, 6)
    # 0-1-...-5: five rounds move the min label to vertex 5, a sixth
    # confirms nothing changed; rounds 2..6 are cuts
    assert len(per_cut) == 5
    assert comps == {0}


@pytest.mark.parametrize(
    "pairs, n_vertices, cuts, comps",
    [
        # every vertex is adjacent to its component's min, so round 1
        # settles it and round 2, the first cut, confirms
        (
            [(0, 1), (3, 2), (4, 5), (4, 6), (5, 6)]
            + [(a, b) for a in range(7, 11) for b in range(a + 1, 11)],
            11,
            1,
            {0, 2, 4, 7},
        ),
        # the 30-chain of test_operators_dedup: 30 rounds
        ([(i, i + 1) for i in range(29)], 30, 29, {0}),
    ],
    ids=["pairs_and_cliques", "chain30"],
)
def test_connected_components_cut_count(
    spark, monkeypatch, pairs, n_vertices, cuts, comps
):
    per_cut, got = _cc_cuts(spark, monkeypatch, pairs, n_vertices)
    assert len(per_cut) == cuts
    assert got == comps


_CHECKPOINT_PROBE = textwrap.dedent(
    """
    import json
    from pyspark.sql import functions as F
    from ojo_daps_mirror_spark.operators.dedup import connected_components
    from ojo_daps_mirror_spark.operators.lineage import fixpoint
    from ojo_daps_mirror_spark.session import get_spark

    spark = get_spark(app_name="ojo-tests-ckpt", shuffle_partitions=2)
    calls = []

    def step(s):
        calls.append(1)
        return s.select(
            F.greatest(F.col("x") - 1, F.lit(0)).alias("x"), F.col("x").alias("old")
        )

    s = spark.range(5).select(F.col("id").alias("x"), F.col("id").alias("old"))
    fixpoint(step, s, changed=F.col("x") != F.col("old"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "first_id long, second_id long"
    )
    verts = spark.createDataFrame([(v,) for v in range(8)], "id long")
    comps = {r["component_id"] for r in connected_components(edges, verts).collect()}
    print(json.dumps({
        "ckpt": spark.sparkContext.getCheckpointDir(),
        "rounds": len(calls),
        "comps": sorted(comps),
    }))
    spark.stop()
    """
)


def test_observed_count_with_reliable_checkpoint(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CHECKPOINT_DIR=str(tmp_path / "ckpt"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CHECKPOINT_PROBE],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["ckpt"] and str(tmp_path / "ckpt") in got["ckpt"]
    assert got["rounds"] == 5  # 4 lowering rounds, then one unchanged
    assert got["comps"] == [0]
