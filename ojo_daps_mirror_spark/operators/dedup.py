"""Duplicate-handling operators.

The reference materialises near-duplicate *edges* (JobAdDuplicateLink:
first_id/second_id/weight, written by flows/enrich/deduplication.py),
then at query time builds **connected components** with networkx on the
driver (dqa/data_getters.py:get_duplicate_subgraphs), optionally
re-splits components by location (get_subgraphs_by_location, dropping
singleton splits), and flags every member except a deterministic min-id
exemplar as duplicate (identify_duplicates).

A networkx graph on one machine dies at 100 TB. Here components are
computed distributed, by iterative min-label propagation over the edge
DataFrame: every vertex repeatedly adopts the smallest label among
itself and its neighbours. The loop is ``lineage.fixpoint``: each
round's labels are materialized by ``cut_lineage`` (a reliable
checkpoint when the session has a checkpoint dir, a local one
otherwise), and the count of labels that changed rides that same job,
so a round costs one aggregate shuffle and no extra count job. There
is no round cap: labels only decrease, so the loop ends after the
first round in which none changed — O(component diameter) rounds.
Duplicate-description components are overwhelmingly tiny
cliques/chains, so diameter — and the round count — stays small even
at full scale; a long chain (an ad reposted N times gives an N-vertex
chain) just takes more rounds, never a wrong answer.
"""

from __future__ import annotations

from .lineage import cut_lineage, fixpoint
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
    are their own component. Replaces the reference's driver-side
    ``networkx.connected_components``.
    """
    sym = (
        edges.selectExpr("first_id AS src", "second_id AS dst")
        .union(edges.selectExpr("second_id AS src", "first_id AS dst"))
        .distinct()
        # Materialised once: the loop joins this every iteration, and
        # without it the entire upstream edge pipeline (e.g. a full
        # minhash-LSH pass) re-executes per round.
        .transform(cut_lineage)
    )
    # The loop only carries edge-incident vertices: isolated vertices are
    # their own component and can never change, so keeping them in the
    # iteration would shuffle the full vertex set every round. At corpus
    # scale |V(edges)| ≪ |docs| (dup edges are sparse), so loop state is
    # tiny; isolates are joined back once at the end.
    labels = sym.select(F.col("src").alias("vid")).distinct().select(
        "vid", F.col("vid").alias("component_id")
    )

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("vid", "component_id")
        # Neighbour labels: for each dst, the min label among its sources.
        neighbour_min = (
            sym.join(labels, sym.src == labels.vid)
            .groupBy("dst")
            .agg(F.min("component_id").alias("component_id"))
            .select(
                F.col("dst").alias("vid"),
                "component_id",
                F.lit(False).alias("own"),
            )
        )
        # least(own label, neighbour min) as ONE union + min aggregate —
        # not a left join (two shuffled sides per round) — and the old
        # label rides the same aggregate, so the changed count is a
        # column comparison observed on the cut's own job, not a
        # new⋈old join per round. Every vid appears exactly once with
        # own=true (neighbour dsts are a subset of the label vids), so
        # max(own label) IS the previous label.
        return (
            labels.select("vid", "component_id", F.lit(True).alias("own"))
            .unionByName(neighbour_min)
            .groupBy("vid")
            .agg(
                F.min("component_id").alias("component_id"),
                F.max(F.when(F.col("own"), F.col("component_id"))).alias(
                    "__old__"
                ),
            )
        )

    labels = fixpoint(
        step, labels, changed=F.col("component_id") != F.col("__old__")
    )
    return (
        vertices.select(F.col(id_col).alias("vid"))
        .join(labels, "vid", "left")  # AQE broadcasts when labels is small
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
