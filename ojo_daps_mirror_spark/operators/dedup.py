"""Duplicate-handling operators.

The reference materialises near-duplicate *edges* (JobAdDuplicateLink:
first_id/second_id/weight, written by flows/enrich/deduplication.py),
then at query time builds **connected components** with networkx on the
driver (dqa/data_getters.py:get_duplicate_subgraphs), optionally
re-splits components by location (get_subgraphs_by_location, dropping
singleton splits), and flags every member except a deterministic min-id
exemplar as duplicate (identify_duplicates).

A networkx graph on one machine dies at 100 TB. Here components are
computed distributed, by iterative min-label propagation over a state
of one row per edge-incident vertex, ``(vid, nbrs, component_id,
__old__)``. A round is one union of own rows with one message per
neighbour and one aggregate on ``vid``: one shuffle of O(|E| + |V|)
rows, no join. The loop is ``lineage.fixpoint``: each round is cut and
its changed-label count rides the cut's job. Round 1 is closed-form in
the uncut prologue, so the first cut runs rounds 1 and 2 and a call
makes rounds - 1 cuts. Labels only decrease, so the loop ends at the
first unchanged round, with no cap: O(component diameter) rounds.
Duplicate components are mostly tiny cliques and chains; a long chain
(an ad reposted N times) just takes more rounds, never a wrong answer.
"""

from __future__ import annotations

from .lineage import fixpoint
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_duplicates(df: DataFrame, id_col: str, key: F.Column) -> DataFrame:
    """Group rows by a duplicate key; flag all but the min-id exemplar.

    Mirrors identify_duplicates' exemplar rule: "deterministically select
    (i.e. 'min') and then remove the exemplar" (dqa/data_getters.py).
    Single hash shuffle on the key; exemplar via a partition-window min.
    """
    w = Window.partitionBy("dup_key")
    return (
        df.select(F.col(id_col), key.alias("dup_key"))
        .withColumn("exemplar_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("exemplar_id"))
    )


def chain_edges(df: DataFrame, id_col: str, key: F.Column) -> DataFrame:
    """Adjacent-pair edges within each duplicate-key group.

    Emits a *chain* (id1—id2—id3…), not a clique: recovering the full
    group from these edges requires real transitive closure, which is
    exactly what makes them a proper test input for
    ``connected_components``. Analog of the JobAdDuplicateLink edge list.
    """
    w = Window.partitionBy("dup_key").orderBy(id_col)
    return (
        df.select(F.col(id_col), key.alias("dup_key"))
        .withColumn("prev_id", F.lag(id_col).over(w))
        .where(F.col("prev_id").isNotNull())
        .select(
            F.col("prev_id").alias("first_id"),
            F.col(id_col).alias("second_id"),
        )
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Distributed connected components by min-label propagation.

    Returns (id_col, component_id) for every vertex; isolated vertices
    never change, so they stay out of the loop and are joined back as
    their own component. Replaces the reference's driver-side
    ``networkx.connected_components``. Edge endpoints missing from
    ``vertices`` carry labels but are not in the output.

    The prologue (symmetric edges grouped by ``vid`` into ``nbrs``,
    with round 1's ``least(vid, array_min(nbrs))``) is not cut: its two
    references in the first round share one exchange, so the upstream
    edge pipeline runs once, inside ``fixpoint``'s first cut.
    """
    pair = F.explode(
        F.array(F.array("first_id", "second_id"), F.array("second_id", "first_id"))
    )
    state = (
        edges.select(pair.alias("e"))
        .groupBy(F.col("e")[0].alias("vid"))
        .agg(F.collect_set(F.col("e")[1]).alias("nbrs"))
        .select(
            "vid",
            "nbrs",
            F.least("vid", F.array_min("nbrs")).alias("component_id"),
            F.col("vid").alias("__old__"),
        )
    )

    def step(state: DataFrame) -> DataFrame:
        # Own rows carry nbrs and the label as __old__; messages carry
        # neither. Every message target has an own row (the edges are
        # symmetric), so each group holds exactly one non-NULL nbrs and
        # __old__, and max() picks it deterministically.
        own = state.withColumn("__old__", F.col("component_id"))
        msgs = state.select(F.explode("nbrs").alias("vid"), "component_id")
        return (
            own.unionByName(msgs, allowMissingColumns=True)
            .groupBy("vid")
            .agg(
                F.max("nbrs").alias("nbrs"),
                F.min("component_id").alias("component_id"),
                F.max("__old__").alias("__old__"),
            )
        )

    labels = fixpoint(
        step, state, changed=F.col("component_id") != F.col("__old__")
    )
    return (
        vertices.select(F.col(id_col).alias("vid"))
        # AQE broadcasts when labels is small
        .join(labels.select("vid", "component_id"), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.coalesce("component_id", "vid").alias("component_id"),
        )
    )


def split_components_by(
    members: DataFrame, comp_col: str, attr_col: str, id_col: str
) -> DataFrame:
    """Re-split components by an attribute, keep multi-member splits only.

    Mirrors get_subgraphs_by_location: unique (component, attribute)
    pairs become sub-groups; groups of one are not duplicates and are
    dropped ("filter(lambda graph: len(graph) > 1)").
    """
    w = Window.partitionBy(comp_col, attr_col)
    return (
        members.withColumn("subgroup_size", F.count(F.lit(1)).over(w))
        .where(F.col("subgroup_size") > 1)
        .withColumn("exemplar_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("exemplar_id"))
    )
