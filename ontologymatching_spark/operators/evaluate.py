"""P/R/F evaluation vs a gold alignment — ReferenceEvaluator semantics
(referenceAlignment/ReferenceEvaluator.java:21-123: correct = |eval ∩ ref| by
URI-pair equality, P = correct/found, R = correct/ref, F harmonic α=0.5) —
plus the matcher-disagreement metric (am/evaluation/disagreement/variance/
VarianceDisagreement.java:30-62, VarianceComputation.java:20-50): per-pair
POPULATION variance of the matchers' similarity signature vector; high
variance = the matchers disagree = the pair a feedback loop should ask a
user about first (VarianceDisagreementComparator orders descending).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def disagreement_variance(pairs: DataFrame, sim_cols: list[str],
                          out_col: str = "disagreement") -> DataFrame:
    """Append the variance-disagreement column over the given matcher
    similarity columns (the signature vector). Pure column arithmetic —
    no shuffle, no UDF; stays inside whole-stage codegen."""
    k = len(sim_cols)
    mean: Column = sum(
        (F.col(c) for c in sim_cols[1:]), F.col(sim_cols[0])
    ) / F.lit(float(k))
    var: Column = sum(
        ((F.col(c) - mean) * (F.col(c) - mean) for c in sim_cols[1:]),
        (F.col(sim_cols[0]) - mean) * (F.col(sim_cols[0]) - mean),
    ) / F.lit(float(k))
    return pairs.withColumn(out_col, var)


def global_confidence(weights: DataFrame, quality_col: str = "quality") -> float:
    """GlobalConfidenceQuality (qualityEvaluation/metrics/
    GlobalConfidenceQuality.java:30-62): the matcher-level scalar quality =
    average of the per-row local confidences in ``weights`` (one
    LocalConfidenceQuality per source row, 1 - avg(non-best sims): the
    weights ``matchers.lwc_quality_weighted`` applies)."""
    row = weights.agg(F.avg(quality_col).alias("g")).collect()[0]
    return float(row.g) if row.g is not None else 0.0


def alignment_delta(a: DataFrame, b: DataFrame,
                    keys: tuple[str, str] = ("src_uri", "dst_uri")) -> DataFrame:
    """Alignment edit-distance classification (evaluation/alignment/
    DeltaFromReference.java:24-44: delta = #insertions + #deletions;
    AlignmentMetrics.java:30-66 derives correct/found from the overlap):
    full-outer join of the two pair sets, each pair tagged ``both`` /
    ``only_a`` / ``only_b``. delta = count(status != 'both')."""
    k = list(keys)
    da = a.select(*k).distinct().withColumn("_a", F.lit(1))
    db = b.select(*k).distinct().withColumn("_b", F.lit(1))
    return (
        da.join(db, k, "full_outer")
        .select(
            *k,
            F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), "both")
            .when(F.col("_a").isNotNull(), "only_a")
            .otherwise("only_b")
            .alias("status"),
        )
    )


def precision_recall(alignment: DataFrame, gold: DataFrame) -> dict[str, float]:
    """alignment(src_uri, dst_uri) vs gold(src_uri, dst_uri) → P/R/F dict.
    Equality = URI-pair join (Alignment.contains, Alignment.java:147-204)."""
    found = alignment.select("src_uri", "dst_uri").distinct()
    ref = gold.select("src_uri", "dst_uri").distinct()
    n_found = found.count()
    n_ref = ref.count()
    n_correct = found.join(ref, ["src_uri", "dst_uri"]).count()
    p = n_correct / n_found if n_found else 0.0
    r = n_correct / n_ref if n_ref else 0.0
    f = 2 * p * r / (p + r) if (p + r) else 0.0
    return {
        "precision": p,
        "recall": r,
        "fmeasure": f,
        "found": n_found,
        "ref": n_ref,
        "correct": n_correct,
    }


def _mapping_pairs(
    alignment: DataFrame, max_pairs: int | None = None
) -> DataFrame:
    """All unordered mapping pairs (a1,a1p) < (a2,a2p) — WITHOUT a cartesian
    product: mappings get a deterministic dense index (row_number over the
    (a, ap) order), each row explodes the index range above itself, and an
    equi-join on the exploded index closes the pair. The plan is
    Generate + equi-join — no CartesianProduct node, and it partitions.

    ``max_pairs`` caps the quadratic output for lake-scale alignments: a
    deterministic md5-hash sample of ~sqrt(2·max_pairs) mappings (smallest
    hashes first, ties by (a, ap)) bounds expected pairs ≤ max_pairs. The
    bounded sample also bounds the global row_number window. Default None =
    exact (the sf0.01 oracle mode)."""
    al = alignment.select(F.col("src_id").alias("a"), F.col("dst_id").alias("ap"))
    if max_pairs is not None:
        k = max(2, int((2 * max_pairs) ** 0.5))
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("a"), F.col("ap"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        al = (
            al.withColumn("_h", h)
            .orderBy("_h", "a", "ap")
            .limit(k)
            .drop("_h")
        )
    from pyspark.sql import Window

    idx = al.withColumn(
        "rn", F.row_number().over(Window.orderBy("a", "ap"))
    ).localCheckpoint()
    n = idx.count()
    # rn < n guard: Spark's sequence(start, stop) DESCENDS when start > stop,
    # so the last row would otherwise pair with itself via sequence(n+1, n)
    left = idx.filter(F.col("rn") < n).select(
        F.col("a").alias("a1"), F.col("ap").alias("a1p"),
        F.explode(F.sequence(F.col("rn") + 1, F.lit(n))).alias("rn2"),
    )
    right = idx.select(
        F.col("a").alias("a2"), F.col("ap").alias("a2p"),
        F.col("rn").alias("rn2"),
    )
    return left.join(right, "rn2").drop("rn2")


def order_preservation(
    alignment: DataFrame,
    src_ancestors: DataFrame,
    dst_ancestors: DataFrame,
    max_pairs: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Joslyn order-preservation quality (qualityEvaluation/metrics/joslyn/
    JoslynStructuralQuality.java:149-204 via OrderPreservationQM): for every
    unordered pair of mappings a1=(a,a'), a2=(b,b'), discrepancy = 1 iff
    order(a,b) ≠ order(a',b') where order ∈ {ancestor, descendant,
    noncomparable} against each side's ancestor relation; quality =
    1 − Σdiscrepancy / C(n,2). → one row (order_quality, n_mapping_pairs).

    Pair enumeration is an indexed explode+equi-join (no CartesianProduct),
    and ``max_pairs`` deterministically hash-samples the alignment at lake
    scale (see _mapping_pairs). ancestors = (anc_id, desc_id) pairs.
    ``pairs`` lets callers share one checkpointed enumeration across the
    Joslyn metric family instead of rebuilding it per metric."""
    if pairs is None:
        pairs = _mapping_pairs(alignment, max_pairs)

    def _order(df, x, y, anc, tag):
        lt = anc.select(
            F.col("anc_id").alias(x), F.col("desc_id").alias(y),
            F.lit(True).alias(f"_lt_{tag}"),
        )
        gt = anc.select(
            F.col("desc_id").alias(x), F.col("anc_id").alias(y),
            F.lit(True).alias(f"_gt_{tag}"),
        )
        df = df.join(lt, [x, y], "left").join(gt, [x, y], "left")
        return df.withColumn(
            f"ord_{tag}",
            F.when(F.col(f"_lt_{tag}"), "anc")
            .when(F.col(f"_gt_{tag}"), "desc")
            .otherwise("nc"),
        ).drop(f"_lt_{tag}", f"_gt_{tag}")

    pairs = _order(pairs, "a1", "a2", src_ancestors, "src")
    pairs = _order(pairs, "a1p", "a2p", dst_ancestors, "dst")
    return pairs.agg(
        F.round(
            1.0
            - F.coalesce(
                F.avg((F.col("ord_src") != F.col("ord_dst")).cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("order_quality"),
        F.count(F.lit(1)).alias("n_mapping_pairs"),
    )


def order_discrepancy(
    alignment: DataFrame,
    src_ancestors: DataFrame,
    dst_ancestors: DataFrame,
    max_pairs: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """OrderDiscrepancyQM (qualityEvaluation/metrics/OrderDiscrepancyQM.java:
    JoslynStructuralQuality with PREF_USE_PRESERVATION=false): the raw
    discrepancy Σ[order(a,b) ≠ order(a',b')] / C(n,2) — the dissimilarity
    twin of order_preservation. → one row (order_discrepancy,
    n_mapping_pairs). Computed from its own pair aggregation (not
    1 − order_quality, which is not bit-safe through round(·,6))."""
    if pairs is None:
        pairs = _mapping_pairs(alignment, max_pairs)

    def _order(df, x, y, anc, tag):
        lt = anc.select(
            F.col("anc_id").alias(x), F.col("desc_id").alias(y),
            F.lit(True).alias(f"_lt_{tag}"),
        )
        gt = anc.select(
            F.col("desc_id").alias(x), F.col("anc_id").alias(y),
            F.lit(True).alias(f"_gt_{tag}"),
        )
        df = df.join(lt, [x, y], "left").join(gt, [x, y], "left")
        return df.withColumn(
            f"ord_{tag}",
            F.when(F.col(f"_lt_{tag}"), "anc")
            .when(F.col(f"_gt_{tag}"), "desc")
            .otherwise("nc"),
        ).drop(f"_lt_{tag}", f"_gt_{tag}")

    pairs = _order(pairs, "a1", "a2", src_ancestors, "src")
    pairs = _order(pairs, "a1p", "a2p", dst_ancestors, "dst")
    return pairs.agg(
        F.round(
            F.coalesce(
                F.avg((F.col("ord_src") != F.col("ord_dst")).cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("order_discrepancy"),
        F.count(F.lit(1)).alias("n_mapping_pairs"),
    )


def joslyn_diameter(anc: DataFrame, nodes: DataFrame) -> float:
    """Top-bottom diameter of one side's dag (JoslynStructuralQuality
    :320-420 normalization): |nodes| − 1, +1 when roots ≠ 1, +1 when
    leaves ≠ 1. ONE aggregation job — the previous three separate counts
    (n_nodes + two anti-join counts), issued per side per metric call,
    dominated q_joslyn's wall with 12 sequential driver actions."""
    anc_ids = (
        anc.select(F.col("anc_id").alias("node_id")).distinct()
        .withColumn("_is_anc", F.lit(True))
    )
    desc_ids = (
        anc.select(F.col("desc_id").alias("node_id")).distinct()
        .withColumn("_is_desc", F.lit(True))
    )
    row = (
        nodes.join(desc_ids, "node_id", "left")
        .join(anc_ids, "node_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_is_desc").isNull(), 1).otherwise(0))
            .alias("roots"),
            F.sum(F.when(F.col("_is_anc").isNull(), 1).otherwise(0))
            .alias("leaves"),
        )
        .collect()[0]
    )
    d = float((row.n or 0) - 1)
    if (row.roots or 0) != 1:
        d += 1
    if (row.leaves or 0) != 1:
        d += 1
    return max(d, 1.0)


def distance_preservation(
    alignment: DataFrame,
    src_ancestors: DataFrame,
    dst_ancestors: DataFrame,
    src_nodes: DataFrame,
    dst_nodes: DataFrame,
    mode: str = "upper",
    max_pairs: int | None = None,
    pairs: DataFrame | None = None,
    diameters: tuple[float, float] | None = None,
) -> DataFrame:
    """Joslyn Upper/LowerDistancePreservationQM (UpperDistancePreservationQM
    .java / LowerDistance* via JoslynStructuralQuality.getDistanceQuality
    :320-420): node distance d(a,b) = n(a) + n(b) − 2·max_{c ∈ S(a)∩S(b)}
    n(c), where S = ancestor sets and n = |S| for mode='upper' (descendant
    sets for 'lower'); distances normalize by the side's top-bottom diameter
    (|nodes| − 1, +1 when roots ≠ 1, +1 when leaves ≠ 1); per mapping pair
    the discrepancy is |d_src − d_dst|; quality = 1 − Σ/C(n,2).

    In a tree, max n(c) over common ancestors equals n(LCA) — equivalent to
    the reference's level-scan, expressed as a relational max. Deviation
    (documented): each side normalizes by ITS OWN dag's diameter; the
    reference passes the source dag for both (JoslynStructuralQuality:365 —
    an upstream bug not reproduced). → one row (quality, discrepancy,
    n_mapping_pairs); ``discrepancy`` is the raw Σ/C(n,2) — with
    mode='lower' this is LowerDistanceDiscrepancyQM.java:30-43
    (JoslynStructuralQuality with PREF_USE_PRESERVATION=false), with
    mode='upper' the upper-distance twin. Computed from the same
    aggregation but rounded independently of ``quality`` (1−q is not
    bit-safe through round(·,6))."""
    if pairs is None:
        pairs = _mapping_pairs(alignment, max_pairs).localCheckpoint()

    def _dists(node_pairs: DataFrame, anc: DataFrame, diam: float,
               x: str, y: str, out: str) -> DataFrame:
        # membership: S(node) = ancestors (upper) / descendants (lower)
        if mode == "upper":
            mem = anc.select(F.col("desc_id").alias("_node"),
                             F.col("anc_id").alias("_c"))
        else:
            mem = anc.select(F.col("anc_id").alias("_node"),
                             F.col("desc_id").alias("_c"))
        nsz = mem.groupBy("_node").agg(F.count("*").alias("_n"))
        nsz_c = nsz.select(F.col("_node").alias("_c"), F.col("_n").alias("_nc"))
        common = (
            node_pairs.join(
                mem.select(F.col("_node").alias(x), "_c"), x
            )
            .join(mem.select(F.col("_node").alias(y), "_c"), [y, "_c"])
            .join(nsz_c, "_c", "left")
            .groupBy(x, y)
            .agg(F.max(F.coalesce(F.col("_nc"), F.lit(0))).alias("_maxc"))
        )
        return (
            node_pairs.join(nsz.select(F.col("_node").alias(x),
                                       F.col("_n").alias("_na")), x, "left")
            .join(nsz.select(F.col("_node").alias(y),
                             F.col("_n").alias("_nb")), y, "left")
            .join(common, [x, y], "left")
            .select(
                x, y,
                (
                    (
                        F.coalesce(F.col("_na"), F.lit(0))
                        + F.coalesce(F.col("_nb"), F.lit(0))
                        - 2 * F.coalesce(F.col("_maxc"), F.lit(0))
                    ).cast("double")
                    / F.lit(diam)
                ).alias(out),
            )
        )

    if diameters is not None:
        sdiam, ddiam = diameters
    else:
        sdiam = joslyn_diameter(src_ancestors, src_nodes)
        ddiam = joslyn_diameter(dst_ancestors, dst_nodes)
    sp = _dists(
        pairs.select("a1", "a2").distinct(), src_ancestors, sdiam,
        "a1", "a2", "d_src",
    )
    dp = _dists(
        pairs.select("a1p", "a2p").distinct(), dst_ancestors, ddiam,
        "a1p", "a2p", "d_dst",
    )
    j = pairs.join(sp, ["a1", "a2"]).join(dp, ["a1p", "a2p"])
    return j.agg(
        F.round(
            1.0
            - F.coalesce(
                F.avg(F.abs(F.col("d_src") - F.col("d_dst"))), F.lit(0.0)
            ),
            6,
        ).alias("quality"),
        F.round(
            F.coalesce(
                F.avg(F.abs(F.col("d_src") - F.col("d_dst"))), F.lit(0.0)
            ),
            6,
        ).alias("discrepancy"),
        F.count(F.lit(1)).alias("n_mapping_pairs"),
    )
