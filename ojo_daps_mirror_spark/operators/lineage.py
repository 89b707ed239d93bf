"""Lineage cutting for iterative plans — reliable when it matters.

Iterative operators (connected components, label propagation,
PageRank, Bellman-Ford, k-center rounds ...) must cut lineage every
round or round k's plan replays rounds 1..k-1. ``localCheckpoint`` is
the cheap way — but it stores blocks on executors, so on a real
cluster one lost executor poisons every later round of a long job.

``cut_lineage`` prefers a RELIABLE ``checkpoint`` whenever the session
has a checkpoint directory (set ``SPARK_GRAFT_CHECKPOINT_DIR`` to an
HDFS/S3 path on a cluster — session.py wires it through
``setCheckpointDir``), and falls back to ``localCheckpoint`` on the
bare local rig where executor loss means the JVM died anyway. Both
paths materialize eagerly and preserve partitioning, so callers'
co-partitioning contracts (e.g. label_propagation's fixed edge
partitioning) hold unchanged.

``fixpoint`` is the one round loop of the iterative graph operators
(operators/dedup.py, operators/graph.py). Each round is
``state = cut_lineage(step(state))``, so the only Spark jobs a round
launches are its lineage cut's. It runs in one of two modes:

- ``rounds=N``: exactly N rounds — for loops whose DuckDB oracles
  unroll a fixed iteration count (PageRank, label propagation, HITS).
- ``changed=<boolean Column>``: until converged. The number of rows of
  ``step(state)`` for which ``changed`` holds is attached with
  ``DataFrame.observe`` to the frame being cut, so it comes back from
  the cut's own job (reliable and local checkpoints alike, and as 0
  on an empty frame) instead of a separate count job. The loop stops
  after the first round whose count is 0; there is no round cap, so
  ``step`` must be monotone (connected components' min-labels only
  decrease).

``state`` may be a lazy prologue: the first cut then runs it with
the first step (connected components folds its round 1 in this way).

``fixpoint`` calls ``cut_lineage`` through this module's global, so a
wrapper installed on ``lineage.cut_lineage`` (perfbench's job
tracing) sees every round.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage — reliably if the
    session has a checkpoint dir, locally otherwise. Use via
    ``df.transform(cut_lineage)`` inside iterative loops."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - very old API fallback
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def fixpoint(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    *,
    rounds: int | None = None,
    changed: Column | None = None,
) -> DataFrame:
    """Iterate ``state = cut_lineage(step(state))`` for exactly
    ``rounds`` rounds, or — given ``changed`` instead — until a round
    in which no row of ``step(state)`` satisfies ``changed``. Returns
    the last cut state (``state`` itself when ``rounds`` is 0)."""
    if (rounds is None) == (changed is None):
        raise ValueError("fixpoint needs exactly one of rounds= or changed=")
    done = 0
    while rounds is None or done < rounds:
        nxt = step(state)
        done += 1
        if changed is None:
            state = cut_lineage(nxt)
            continue
        obs = Observation()
        state = cut_lineage(
            nxt.observe(obs, F.count(F.when(changed, 1)).alias("changed"))
        )
        if obs.get["changed"] == 0:
            break
    return state
