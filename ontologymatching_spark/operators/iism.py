"""IISM — iterative instance/structural refinement
(IterativeInstanceStructuralMatcher.java:92-155 driver). Each rule family is
a DataFrame join + conditional boost over the pair table; the driver
iterates rules for bounded rounds.

Code-graft rule families (reference provenance per rule):
  parent rule        (matchSuperclasses :1034-1070): if the two entities'
                     parents are aligned above ``parent_thr``, boost.
  sibling rule       (subclasses-set comparison :560-625): if >=2 sibling
                     pairs are aligned, boost the family's pairs.
  range/domain rule  (matchRangeAndDomain / rangeAndDomainSimilarity
                     :1191-1250): sim_rd = (domainSim + rangeSim)/2 with
                     the reference's exact gates — kind mismatch → 0, one
                     side missing domain/range → 0, both missing → 0.8,
                     primitive target range damps rangeSim ×0.75.
  usage rule         (matchPropertyUsage :643-710): usage sets must have
                     EQUAL nonzero size; sim_use = aligned-usage matches /
                     size.
  values rule        (matchPropertyValues :324-373): sim_pv = |V1 ∩ V2| /
                     max(|V1|, |V2|) over distinct value sets.
  subproperties rule (matchSubProperties :401-489): for aligned parent
                     pairs with EQUAL nonzero sub-set sizes, remove
                     already-aligned sub pairs; the remaining unaligned
                     subs are aligned positionally (rank-zip by id) at
                     sim 1.0.
  unionclasses rule  (matchUnionClasses :757-930): for 2-member union
                     classes whose one member pair is strongly aligned
                     (> strong_thr) while the complementary members are
                     weakly aligned on both sides (row/col max <
                     weak_thr), align the complementary pair at 1.0.

Boosts are multiplicative toward 1.0: sim' = sim + boost*(1-sim), mirroring
the reference's boost* parameters (thresholds .5-.89,
OAEI2011Matcher.java:209-231; the reference sets boosted sims straight to
1.0 — the softer blend keeps the combination stage monotone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _boost(sim_col, flag_col, boost: float):
    return F.when(
        flag_col, F.round(sim_col + boost * (1.0 - sim_col), 12)
    ).otherwise(sim_col)


def range_domain_sim(
    pairs: DataFrame,
    src_sig: DataFrame,
    dst_sig: DataFrame,
    aligned_domains: DataFrame,
) -> DataFrame:
    """Append ``sim_rd`` per pair (rangeAndDomainSimilarity :1191-1250).

    ``*_sig``: (entity_id, kind, domain_id nullable, range_id nullable,
    range_primitive boolean). ``aligned_domains``: (s_domain, d_domain)
    accepted domain-entity alignments. Semantics mirrored exactly:
      kind mismatch → 0; domain/range present on one side only → 0;
      both domains missing → domainSim 0.8, else 1.0 iff equal-or-aligned
      else 0; ranges both missing → 0.8, else equality (×0.75 when the
      dst range is primitive); sim_rd = (domainSim + rangeSim) / 2."""
    ss = src_sig.select(
        F.col("entity_id").alias("src_id"), F.col("kind").alias("s_kind"),
        F.col("domain_id").alias("s_dom"), F.col("range_id").alias("s_rng"),
    )
    ds = dst_sig.select(
        F.col("entity_id").alias("dst_id"), F.col("kind").alias("d_kind"),
        F.col("domain_id").alias("d_dom"), F.col("range_id").alias("d_rng"),
        F.col("range_primitive").alias("d_rng_prim"),
    )
    ad = aligned_domains.select(
        F.col("s_domain").alias("s_dom"), F.col("d_domain").alias("d_dom")
    ).withColumn("dom_aligned", F.lit(True))
    j = (
        pairs.join(ss, "src_id", "left")
        .join(ds, "dst_id", "left")
        .join(ad, ["s_dom", "d_dom"], "left")
    )
    dom_sim = (
        F.when(F.col("s_dom").isNull() & F.col("d_dom").isNull(), 0.8)
        .when(F.col("s_dom").isNull() | F.col("d_dom").isNull(), 0.0)
        .when(
            (F.col("s_dom") == F.col("d_dom"))
            | F.coalesce(F.col("dom_aligned"), F.lit(False)),
            1.0,
        )
        .otherwise(0.0)
    )
    rng_eq = F.when(F.col("s_rng") == F.col("d_rng"), 1.0).otherwise(0.0)
    rng_sim = (
        F.when(F.col("s_rng").isNull() & F.col("d_rng").isNull(), 0.8)
        .when(F.col("s_rng").isNull() | F.col("d_rng").isNull(), 0.0)
        .otherwise(
            rng_eq
            * F.when(F.coalesce(F.col("d_rng_prim"), F.lit(False)), 0.75)
            .otherwise(1.0)
        )
    )
    sim_rd = F.when(
        F.col("s_kind") != F.col("d_kind"), 0.0
    ).otherwise((dom_sim + rng_sim) / 2)
    return j.withColumn("sim_rd", sim_rd).drop(
        "s_kind", "d_kind", "s_dom", "d_dom", "s_rng", "d_rng",
        "d_rng_prim", "dom_aligned",
    )


def usage_sim(
    pairs: DataFrame,
    src_usage: DataFrame,
    dst_usage: DataFrame,
    accepted: DataFrame,
) -> DataFrame:
    """Append ``sim_use`` (matchPropertyUsage :643-710): the two entities'
    user sets (modules importing/calling them) must have EQUAL nonzero size
    (the reference's l1.size()==l2.size() gate); sim_use = number of user
    pairs aligned by ``accepted`` / size (the count of aligned pairs stands
    in for the reference's optimalAlignment over the restriction matrix —
    each accepted alignment is 1-1, so the count is the matching size).
    ``*_usage``: (entity_id, user_id)."""
    su = src_usage.select(
        F.col("entity_id").alias("src_id"), F.col("user_id").alias("s_user")
    ).distinct()
    du = dst_usage.select(
        F.col("entity_id").alias("dst_id"), F.col("user_id").alias("d_user")
    ).distinct()
    sn = su.groupBy("src_id").agg(F.count("*").alias("n_s"))
    dn = du.groupBy("dst_id").agg(F.count("*").alias("n_d"))
    acc = accepted.select(
        F.col("src_id").alias("s_user"), F.col("dst_id").alias("d_user")
    ).distinct()
    matched = (
        pairs.select("src_id", "dst_id")
        .join(su, "src_id")
        .join(du, "dst_id")
        .join(acc, ["s_user", "d_user"])
        .groupBy("src_id", "dst_id")
        .agg(F.count("*").alias("n_matched"))
    )
    return (
        pairs.join(sn, "src_id", "left")
        .join(dn, "dst_id", "left")
        .join(matched, ["src_id", "dst_id"], "left")
        .withColumn(
            "sim_use",
            F.when(
                F.col("n_s").isNull()
                | F.col("n_d").isNull()
                | (F.col("n_s") != F.col("n_d")),
                0.0,
            ).otherwise(
                F.least(
                    F.coalesce(F.col("n_matched"), F.lit(0)), F.col("n_s")
                ).cast("double")
                / F.col("n_s")
            ),
        )
        .drop("n_s", "n_d", "n_matched")
    )


def values_sim(
    pairs: DataFrame,
    src_values: DataFrame,
    dst_values: DataFrame,
) -> DataFrame:
    """Append ``sim_pv`` (matchPropertyValues :324-373): over DISTINCT value
    sets, sim = |V1 ∩ V2| / max(|V1|, |V2|); pairs where either side has no
    values keep 0 (the reference `continue`s them). ``*_values``:
    (entity_id, value)."""
    sv = src_values.select(
        F.col("entity_id").alias("src_id"), F.col("value").alias("v")
    ).distinct()
    dv = dst_values.select(
        F.col("entity_id").alias("dst_id"), F.col("value").alias("v")
    ).distinct()
    sn = sv.groupBy("src_id").agg(F.count("*").alias("nv_s"))
    dn = dv.groupBy("dst_id").agg(F.count("*").alias("nv_d"))
    inter = (
        pairs.select("src_id", "dst_id")
        .join(sv, "src_id")
        .join(dv, ["dst_id", "v"])
        .groupBy("src_id", "dst_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(sn, "src_id", "left")
        .join(dn, "dst_id", "left")
        .join(inter, ["src_id", "dst_id"], "left")
        .withColumn(
            "sim_pv",
            F.when(
                F.col("nv_s").isNull() | F.col("nv_d").isNull(), 0.0
            ).otherwise(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / F.greatest(F.col("nv_s"), F.col("nv_d"))
            ),
        )
        .drop("nv_s", "nv_d", "n_common")
    )


def subproperty_alignments(
    pairs: DataFrame,
    src_subs: DataFrame,
    dst_subs: DataFrame,
    prop_thr: float = 0.75,
    sim_col: str = "sim",
) -> DataFrame:
    """New (src_id, dst_id) sub-entity alignments implied by aligned
    parents (matchSubProperties :401-489).

    For every aligned parent pair (sim >= ``prop_thr``) whose sub-sets
    have EQUAL nonzero size, sub pairs already aligned above the threshold
    are removed; if the same number of subs remains unaligned on both
    sides, the remainders are aligned positionally. The reference removes
    greedily in index order and assigns >1 remainders by optimal
    range/domain assignment (Utils.optimalAlignments); here removal is by
    set membership (identical when the over-threshold cells are 1-1, as
    they are after any selection stage) and >1 remainders rank-zip by id —
    the repo's documented deterministic-deviation convention for
    oversized blocks. ``*_subs``: (parent_id, sub_id)."""
    aligned = pairs.filter(F.col(sim_col) >= prop_thr).select(
        "src_id", "dst_id"
    )
    ss = src_subs.select(
        F.col("parent_id").alias("s_parent"), F.col("sub_id").alias("s_sub")
    ).distinct()
    ds = dst_subs.select(
        F.col("parent_id").alias("d_parent"), F.col("sub_id").alias("d_sub")
    ).distinct()
    ns = ss.groupBy("s_parent").agg(F.count(F.lit(1)).alias("n_s"))
    nd = ds.groupBy("d_parent").agg(F.count(F.lit(1)).alias("n_d"))
    pp = (
        aligned.select(
            F.col("src_id").alias("s_parent"), F.col("dst_id").alias("d_parent")
        )
        .join(ns, "s_parent")
        .join(nd, "d_parent")
        .filter(F.col("n_s") == F.col("n_d"))
        .select("s_parent", "d_parent")
    )
    al = aligned.select(
        F.col("src_id").alias("s_sub"), F.col("dst_id").alias("d_sub")
    )
    # sub cells per parent pair that are themselves aligned — blocks are
    # tiny (a parent's direct subs), so the per-block cross join is bounded
    block = pp.join(ss, "s_parent").join(ds, "d_parent")
    m = block.join(al, ["s_sub", "d_sub"])
    ms = m.select("s_parent", "d_parent", "s_sub").distinct()
    md = m.select("s_parent", "d_parent", "d_sub").distinct()
    ws = Window.partitionBy("s_parent", "d_parent")
    rs = (
        pp.join(ss, "s_parent")
        .join(ms, ["s_parent", "d_parent", "s_sub"], "left_anti")
        .withColumn("rk", F.row_number().over(ws.orderBy(F.col("s_sub").asc())))
        .withColumn("cnt_s", F.count(F.lit(1)).over(ws))
    )
    rd = (
        pp.join(ds, "d_parent")
        .join(md, ["s_parent", "d_parent", "d_sub"], "left_anti")
        .withColumn("rk", F.row_number().over(ws.orderBy(F.col("d_sub").asc())))
        .withColumn("cnt_d", F.count(F.lit(1)).over(ws))
    )
    return (
        rs.join(rd, ["s_parent", "d_parent", "rk"])
        .filter(F.col("cnt_s") == F.col("cnt_d"))
        .select(
            F.col("s_sub").alias("src_id"), F.col("d_sub").alias("dst_id")
        )
        .distinct()
    )


def union_class_alignments(
    pairs: DataFrame,
    src_unions: DataFrame,
    dst_unions: DataFrame,
    strong_thr: float = 0.8,
    weak_thr: float = 0.6,
    sim_col: str = "sim",
) -> DataFrame:
    """New (src_id, dst_id) alignments implied by 2-member union classes
    (matchUnionClasses :757-930 + matchUnionClassMember): when one member
    pair of a (source union, target union) pair is strongly aligned
    (sim > ``strong_thr``) and the complementary members are weakly
    aligned on both sides (row max and col max < ``weak_thr``), the
    complementary pair is aligned at 1.0. All four member-pair
    orientations (ULAS1-4) fall out of the member/other construction.
    ``*_unions``: (union_id, member_id); unions with more than two
    members are skipped (the reference returns on size > 2)."""

    def members(unions: DataFrame, m: str, o: str) -> DataFrame:
        two = (
            unions.select("union_id", "member_id")
            .distinct()
            .groupBy("union_id")
            .agg(
                F.min("member_id").alias("m0"),
                F.max("member_id").alias("m1"),
                F.count(F.lit(1)).alias("n"),
            )
            .filter(F.col("n") == 2)
        )
        return two.select(F.col("m0").alias(m), F.col("m1").alias(o)).union(
            two.select(F.col("m1").alias(m), F.col("m0").alias(o))
        )

    sm = members(src_unions, "src_id", "other_src")
    dm = members(dst_unions, "dst_id", "other_dst")
    strong = pairs.filter(F.col(sim_col) > strong_thr).select(
        "src_id", "dst_id"
    )
    cand = (
        strong.join(sm, "src_id").join(dm, "dst_id")
        .select("other_src", "other_dst")
        .distinct()
    )
    rowmax = pairs.groupBy("src_id").agg(F.max(sim_col).alias("rmax"))
    colmax = pairs.groupBy("dst_id").agg(F.max(sim_col).alias("cmax"))
    return (
        cand.join(rowmax, cand.other_src == rowmax.src_id, "left")
        .join(colmax, cand.other_dst == colmax.dst_id, "left")
        .filter(
            (F.coalesce(F.col("rmax"), F.lit(0.0)) < weak_thr)
            & (F.coalesce(F.col("cmax"), F.lit(0.0)) < weak_thr)
        )
        .select(
            F.col("other_src").alias("src_id"),
            F.col("other_dst").alias("dst_id"),
        )
        .distinct()
    )


def iism(
    pairs: DataFrame,
    src_parents: DataFrame,
    dst_parents: DataFrame,
    parent_thr: float = 0.6,
    boost: float = 0.15,
    rounds: int = 2,
    src_sig: DataFrame | None = None,
    dst_sig: DataFrame | None = None,
    aligned_domains: DataFrame | None = None,
    src_usage: DataFrame | None = None,
    dst_usage: DataFrame | None = None,
    src_values: DataFrame | None = None,
    dst_values: DataFrame | None = None,
    rd_thr: float = 0.85,
    use_thr: float = 0.6,
    pv_thr: float = 0.5,
    src_subs: DataFrame | None = None,
    dst_subs: DataFrame | None = None,
    sub_thr: float = 0.75,
    src_unions: DataFrame | None = None,
    dst_unions: DataFrame | None = None,
    union_strong: float = 0.8,
    union_weak: float = 0.6,
    certainty_boost: float = 1.0,
) -> DataFrame:
    """pairs(src_id, dst_id, sim) → same with refined sim (sim_iism).

    Always applies the parent and sibling rules. When the corresponding
    side tables are provided, also applies the range/domain rule
    (``src_sig``/``dst_sig``/``aligned_domains``), the usage rule
    (``src_usage``/``dst_usage``) and the values rule (``src_values``/
    ``dst_values``) — each fires a ``boost`` toward 1.0 when its rule
    similarity crosses its threshold (the reference sets boosted mappings
    straight into the matrix; rd_thr/use_thr/pv_thr mirror
    getRangeDomainThreshold / property usage / getPropertyValuesThreshold).

    The pairs at or above ``parent_thr`` at the start of a round seed that
    round's rules, iterated ``rounds`` times (the reference's fixpoint
    driver with a bound).

    Parents do not depend on sim, so each pair is carried as one row per
    (s_parent, d_parent) combination of its parents (null where an entity
    has none), built once. A round's parent flag is one left join of the
    accepted pairs on (s_parent, d_parent), its sibling flag a count of
    accepted rows over the parent family, and a pair takes each flag's max
    over its rows."""
    ids = ["src_id", "dst_id"]
    fam = ["s_parent", "d_parent"]
    sp = src_parents.select(
        F.col("child_id").alias("src_id"), F.col("parent_id").alias("s_parent")
    )
    dp = dst_parents.select(
        F.col("child_id").alias("dst_id"), F.col("parent_id").alias("d_parent")
    )
    cur = (
        pairs.select(*ids, "sim", F.col("sim").alias("sim_iism"))
        .join(sp, "src_id", "left")
        .join(dp, "dst_id", "left")
    )
    by_family = Window.partitionBy(*fam)
    by_pair = Window.partitionBy(*ids)
    has_parents = F.col("s_parent").isNotNull() & F.col("d_parent").isNotNull()
    pair_rules = any(t is not None for t in (
        src_sig, src_usage, src_values, src_subs, src_unions))

    def boosted(df: DataFrame, flag, b: float) -> DataFrame:
        return df.withColumn(
            "sim_iism", _boost(F.col("sim_iism"), flag, b)
        ).select(*ids, "sim_iism")

    for _ in range(rounds):
        ok = F.col("sim_iism") >= parent_thr
        accepted = cur.filter(ok).select(*ids).distinct()
        acc_parents = accepted.select(
            F.col("src_id").alias("s_parent"), F.col("dst_id").alias("d_parent"),
            F.lit(True).alias("pa"),
        )
        # parent rule: the pair's parents are aligned; sibling rule: >=2
        # aligned pairs in the parent family boost all of its pairs
        pa = F.coalesce(F.col("pa"), F.lit(False))
        fs = has_parents & (F.count(F.when(ok, 1)).over(by_family) >= 2)
        cur = (
            cur.join(acc_parents, fam, "left")
            .withColumn("fs", fs)
            .withColumn("pa", F.max(pa).over(by_pair))
            .withColumn("fs", F.max("fs").over(by_pair))
            .withColumn("sim_iism", _boost(
                _boost(F.col("sim_iism"), F.col("pa"), boost),
                F.col("fs"), boost / 2,
            ))
            .drop("pa", "fs")
        )
        if pair_rules:
            # the optional rules read and write one row per pair
            pair = cur.select(*ids, "sim_iism").dropDuplicates(ids)

            # range/domain rule
            if src_sig is not None and dst_sig is not None:
                ad = (
                    aligned_domains
                    if aligned_domains is not None
                    else accepted.select(
                        F.col("src_id").alias("s_domain"),
                        F.col("dst_id").alias("d_domain"),
                    )
                )
                pair = boosted(range_domain_sim(pair, src_sig, dst_sig, ad),
                               F.col("sim_rd") >= rd_thr, boost)

            # usage rule
            if src_usage is not None and dst_usage is not None:
                pair = boosted(usage_sim(pair, src_usage, dst_usage, accepted),
                               F.col("sim_use") >= use_thr, boost)

            # values rule
            if src_values is not None and dst_values is not None:
                pair = boosted(values_sim(pair, src_values, dst_values),
                               F.col("sim_pv") >= pv_thr, boost)

            # subproperties rule (certainty rule — the reference writes 1.0)
            if src_subs is not None and dst_subs is not None:
                new_sub = subproperty_alignments(
                    pair, src_subs, dst_subs, prop_thr=sub_thr,
                    sim_col="sim_iism",
                ).withColumn("sub_rule", F.lit(True))
                pair = boosted(
                    pair.join(new_sub, ids, "left"),
                    F.coalesce(F.col("sub_rule"), F.lit(False)),
                    certainty_boost,
                )

            # unionclasses rule (certainty rule). Both certainty rules boost
            # candidate pairs already present in the sparse pair table — the
            # reference writes arbitrary matrix cells; a blocked pair table
            # only carries candidate cells (documented deviation: recall of
            # the blocking stage bounds which cells exist).
            if src_unions is not None and dst_unions is not None:
                new_un = union_class_alignments(
                    pair, src_unions, dst_unions, strong_thr=union_strong,
                    weak_thr=union_weak, sim_col="sim_iism",
                ).withColumn("union_rule", F.lit(True))
                pair = boosted(
                    pair.join(new_un, ids, "left"),
                    F.coalesce(F.col("union_rule"), F.lit(False)),
                    certainty_boost,
                )
            cur = cur.drop("sim_iism").join(pair, ids)
        cur = cur.localCheckpoint()
    return cur.dropDuplicates(ids).select(*ids, "sim", "sim_iism")
