"""Connected-components canonicalization: min-label components over the
selected alignment, as iterative DataFrame self-joins (north rule; same shape
as the reference's SimilarityFlooding fixpoint, structuralMatchers/
SimilarityFlooding.java:472-575 — bounded rounds + convergence check +
per-round checkpoint to cut lineage).

Canonical id of a cluster = min(entity_id) over the component → stable across
runs and parallelism levels. ``canonicalize`` (the KG's node ids) does not
iterate: its input is a 1-1 alignment, whose components have at most two
nodes.

Round 4: the default algorithm is the two-phase large-star/small-star
alternation (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which converges in O(log n) rounds independent of component
diameter — plain hash-min label propagation is O(diameter) rounds, which a
near-dup chain of 1000 docs at web scale never finishes within any sane
round cap. Output is identical (min member id per component); the planted
chain test pins both equality to hash-min and the round-count win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u (over the symmetrized edge set): connect every
    strictly-larger neighbor to m(u) = min(N(u) ∪ {u})."""
    sym = e.unionByName(
        e.select(F.col("a").alias("b"), F.col("b").alias("a")).select("a", "b")
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    return (
        sym.join(mins, "a")
        .withColumn("m", F.least(F.col("mn"), F.col("a")))
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct each edge toward its larger endpoint; for each node u connect
    all (smaller) neighbors and u itself to m(u) = min(N(u))."""
    d = (
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = d.groupBy("a").agg(F.min("b").alias("mn"))
    nbr = (
        d.join(mins, "a")
        .filter(F.col("b") != F.col("mn"))
        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
    )
    own = mins.select("a", F.col("mn").alias("b"))
    return nbr.unionByName(own).distinct()


def connected_components(
    edges: DataFrame,
    src_col: str = "src_id",
    dst_col: str = "dst_id",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """edges → (entity_id, component_id) with component_id = min member id.

    Large-star/small-star alternation: each round applies large-star (hook
    big neighbors to the local min) then small-star (collapse small
    neighbors onto it), until the edge set is a fixed star forest — checked
    with a fused (count, bit_xor-of-hash) aggregate, one job per round.
    O(log n) rounds regardless of diameter; ``stats['rounds']`` reports the
    alternations applied."""
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # materialized by the first _sig job
    )
    nodes = (
        e.select(F.col("a").alias("entity_id"))
        .unionByName(e.select(F.col("b").alias("entity_id")))
        .distinct()
        .localCheckpoint(eager=False)  # read once, by the final union
    )

    def _sig(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("x"),
        ).collect()[0]
        return row.n, row.x

    sig = _sig(e)
    rounds = 0
    for _ in range(max_rounds):
        # lazy checkpoint: the _sig aggregate below materializes it, so a
        # round costs ONE blocking driver action instead of two
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        new_sig = _sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds

    # fixed point is a star forest: every edge is (member, root). Labels:
    # members map to their root, roots (and nothing else) map to themselves.
    member = e.select(
        F.col("a").alias("entity_id"), F.col("b").alias("component_id")
    )
    root = nodes.join(
        e.select(F.col("a").alias("entity_id")), "entity_id", "left_anti"
    ).select("entity_id", F.col("entity_id").alias("component_id"))
    return member.unionByName(root)


def hash_min_components(
    edges: DataFrame,
    src_col: str = "src_id",
    dst_col: str = "dst_id",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Plain hash-min label propagation (the pre-round-4 default, kept as
    the semantic reference for the equivalence test): every vertex takes
    the min label of its closed neighborhood per round; O(diameter)
    rounds."""
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("entity_id"))
        .distinct()
        .withColumn("component_id", F.col("entity_id"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym.b == labels.entity_id)
            .groupBy("a")
            .agg(F.min("component_id").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.entity_id == nbr_min.a, "left")
            .select(
                "entity_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_label"), F.col("component_id")),
                ).alias("component_id"),
                F.col("component_id").alias("old"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("component_id") != F.col("old")).count()
        labels = new_labels.drop("old")
        rounds += 1
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def canonicalize(alignment: DataFrame, entities: DataFrame) -> DataFrame:
    """alignment(src_id, dst_id) + entities → entities with ``canonical_id``
    (= component min id; singletons keep their own id).

    Precondition: ``alignment`` is 1-1 between disjoint id sets (no src_id
    and no dst_id repeats, and no id is both), as ``select_one_to_one``
    outputs. Every component then has at most two nodes, so its min id is
    ``least(src_id, dst_id)`` and one projection plus one join replaces the
    iterative ``connected_components``, which stays the operator for
    general graphs (dedup clusters, assignment blocks)."""
    pair_min = F.least("src_id", "dst_id").alias("component_id")
    comps = alignment.select(
        F.col("src_id").alias("entity_id"), pair_min
    ).unionByName(
        alignment.select(F.col("dst_id").alias("entity_id"), pair_min)
    )
    return entities.join(
        comps, entities.entity_id == comps.entity_id, "left"
    ).select(
        entities["*"],
        F.coalesce(F.col("component_id"), entities.entity_id).alias("canonical_id"),
    )
