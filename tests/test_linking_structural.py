"""Tests for mention linking, structural matchers (DSI/SSC/SF), and the
per-component assignment selectors."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ontologymatching_spark.operators import assignment, linking, selection, structural


# ---------------------------------------------------------------------------
# linking
# ---------------------------------------------------------------------------


def test_link_mentions_prefers_same_repo(spark):
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "mention_id": [1, 2],
                "label": ["mod001", "modx"],
                "repo": ["r1", "r1"],
            }
        )
    )
    entities = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [10, 20, 30],
                "uri": ["r1/mod001", "r2/mod001", "r2/modX"],
                "norm_name": ["mod001", "mod001", "modx"],
                "tokens": [["mod001"], ["mod001"], ["modx"]],
                "repo": ["r1", "r2", "r2"],
            }
        )
    )
    links = linking.link_mentions(mentions, entities).toPandas()
    got = dict(zip(links["mention_id"], links["entity_id"]))
    assert got[1] == 10  # same-repo candidate wins
    assert got[2] == 30  # cross-repo fallback (stage 2) still links
    assert len(links) == 2


def test_mentions_from_triples(spark, small_corpus):
    from ontologymatching_spark.operators.extract import extract_triples

    src_files, _ = small_corpus
    triples = extract_triples(spark.createDataFrame(src_files))
    m = linking.mentions_from_triples(triples).toPandas()
    n_imports = triples.filter(F.col("pred") == "imports").count()
    assert len(m) == n_imports
    assert m["mention_id"].is_unique


# ---------------------------------------------------------------------------
# structural: DSI / SSC / SF
# ---------------------------------------------------------------------------


@pytest.fixture()
def family(spark):
    # src: parent P1 with children a1,a2 ; dst: parent Q1 with children b1,b2
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "src_id": [1, 2, 100],
                "dst_id": [11, 12, 110],
                "sim": [0.8, 0.4, 0.9],  # (a1,b1), (a2,b2), (P1,Q1)
            }
        )
    )
    src_parents = spark.createDataFrame(
        pd.DataFrame({"child_id": [1, 2], "parent_id": [100, 100]})
    )
    dst_parents = spark.createDataFrame(
        pd.DataFrame({"child_id": [11, 12], "parent_id": [110, 110]})
    )
    return pairs, src_parents, dst_parents


def test_dsi_blends_parent_sim(spark, family):
    pairs, sp, dp = family
    out = structural.dsi(pairs, sp, dp, mcp=0.75).toPandas()
    d = {(r.src_id, r.dst_id): r.sim_dsi for r in out.itertuples()}
    # child pair (1,11): 0.75*0.8 + 0.25*parent_sim(100,110)=0.9 → 0.825
    assert d[(1, 11)] == pytest.approx(0.75 * 0.8 + 0.25 * 0.9)
    assert d[(2, 12)] == pytest.approx(0.75 * 0.4 + 0.25 * 0.9)
    # parent pair has no parents → keeps own sim
    assert d[(100, 110)] == pytest.approx(0.9)


def test_ssc_sibling_contribution(spark, family):
    pairs, sp, dp = family
    out = structural.ssc(pairs, sp, dp, weight=0.2).toPandas()
    d = {(r.src_id, r.dst_id): r.sim_ssc for r in out.itertuples()}
    # (1,11): siblings' avg = sim(2,12)=0.4 → 0.8*0.8 + 0.2*0.4 = 0.72
    assert d[(1, 11)] == pytest.approx(0.8 * 0.8 + 0.2 * 0.4)
    assert d[(2, 12)] == pytest.approx(0.8 * 0.4 + 0.2 * 0.8)
    assert d[(100, 110)] == pytest.approx(0.9)  # untouched (no parents)


def test_similarity_flooding_converges_and_boosts_connected(spark, family):
    pairs, sp, dp = family
    se = sp.withColumn("pred", F.lit("declares"))
    de = dp.withColumn("pred", F.lit("declares"))
    stats: dict = {}
    out = structural.similarity_flooding(
        pairs, se, de, max_rounds=10, stats=stats
    ).toPandas()
    d = {(r.src_id, r.dst_id): r.sim_sf for r in out.itertuples()}
    assert len(d) == 3
    # all sims normalized into (0, 1], structurally connected pairs keep mass
    assert all(0 < v <= 1.0 for v in d.values())
    # the parent pair receives flow from both child pairs → stays the max
    assert max(d, key=d.get) == (100, 110)
    # the fused mx+delta collect must not regress convergence detection:
    # this 3-pair graph converges well before the 10-round cap
    assert 1 <= stats["rounds"] < 10


# ---------------------------------------------------------------------------
# per-component assignment
# ---------------------------------------------------------------------------


def test_optimal_beats_or_ties_greedy(spark):
    # classic greedy-suboptimal block: greedy takes (a,x,0.9) leaving b with
    # 0.1; optimal takes (a,y,0.8)+(b,x,0.85)
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, 11, "a", "x", 0.9),
                (1, 12, "a", "y", 0.8),
                (2, 11, "b", "x", 0.85),
            ],
            columns=["src_id", "dst_id", "src_uri", "dst_uri", "sim"],
        )
    )
    greedy = selection.select_one_to_one(pairs, threshold=0.0).toPandas()
    opt = assignment.select_optimal_by_component(pairs, threshold=0.0).toPandas()
    assert greedy["sim"].sum() == pytest.approx(0.9)
    assert opt["sim"].sum() == pytest.approx(0.8 + 0.85)


def test_iism_parent_and_sibling_boost(spark, family):
    from ontologymatching_spark.operators import iism as iism_mod

    pairs, sp, dp = family
    out = iism_mod.iism(pairs, sp, dp, parent_thr=0.6, boost=0.2, rounds=1)
    d = {(r.src_id, r.dst_id): r.sim_iism for r in out.toPandas().itertuples()}
    # (1,11): parents (100,110) aligned at 0.9>=0.6 → 0.8+0.2*0.2 = 0.84
    assert d[(1, 11)] == pytest.approx(0.84)
    # (2,12): same parent boost: 0.4+0.2*0.6 = 0.52
    assert d[(2, 12)] == pytest.approx(0.52)
    # parent pair has no parents → unchanged
    assert d[(100, 110)] == pytest.approx(0.9)


def test_iism_range_domain_rule(spark, family):
    from ontologymatching_spark.operators import iism as iism_mod

    pairs, _, _ = family
    src_sig = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1, 2, 100],
                "kind": ["function", "function", "module"],
                "domain_id": [100, 100, None],
                "range_id": [7, 8, None],
                "range_primitive": [False, True, False],
            }
        )
    )
    dst_sig = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [11, 12, 110],
                "kind": ["function", "method", "module"],
                "domain_id": [110, 110, None],
                "range_id": [7, 8, None],
                "range_primitive": [False, True, False],
            }
        )
    )
    ad = spark.createDataFrame(
        pd.DataFrame({"s_domain": [100], "d_domain": [110]})
    )
    out = iism_mod.range_domain_sim(pairs, src_sig, dst_sig, ad).toPandas()
    d = {(r.src_id, r.dst_id): r.sim_rd for r in out.itertuples()}
    # (1,11): domains aligned (1.0), ranges equal non-primitive (1.0) → 1.0
    assert d[(1, 11)] == pytest.approx(1.0)
    # (2,12): kind mismatch function vs method → 0 (reference's type gate)
    assert d[(2, 12)] == 0.0
    # (100,110): both domains AND ranges missing → (0.8+0.8)/2 = 0.8
    assert d[(100, 110)] == pytest.approx(0.8)


def test_iism_range_domain_primitive_damp(spark):
    from ontologymatching_spark.operators import iism as iism_mod

    pairs = spark.createDataFrame(
        pd.DataFrame({"src_id": [1], "dst_id": [11], "sim": [0.5]})
    )
    sig_s = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1], "kind": ["function"], "domain_id": [100],
                "range_id": [7], "range_primitive": [True],
            }
        )
    )
    sig_d = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [11], "kind": ["function"], "domain_id": [110],
                "range_id": [7], "range_primitive": [True],
            }
        )
    )
    ad = spark.createDataFrame(
        pd.DataFrame({"s_domain": [100], "d_domain": [110]})
    )
    out = iism_mod.range_domain_sim(pairs, sig_s, sig_d, ad).toPandas()
    # primitive dst range damps rangeSim ×0.75 → (1.0 + 0.75)/2 = 0.875
    assert out["sim_rd"].iloc[0] == pytest.approx(0.875)


def test_iism_usage_rule(spark):
    from ontologymatching_spark.operators import iism as iism_mod

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"src_id": [1, 2], "dst_id": [11, 12], "sim": [0.5, 0.5]}
        )
    )
    su = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": [1, 1, 2], "user_id": [201, 202, 203]}
        )
    )
    du = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": [11, 11, 12, 12], "user_id": [301, 302, 303, 304]}
        )
    )
    accepted = spark.createDataFrame(
        pd.DataFrame({"src_id": [201, 202], "dst_id": [301, 302]})
    )
    out = iism_mod.usage_sim(pairs, su, du, accepted).toPandas()
    d = {(r.src_id, r.dst_id): r.sim_use for r in out.itertuples()}
    # (1,11): |users|=2=2, both user pairs aligned → 2/2 = 1.0
    assert d[(1, 11)] == pytest.approx(1.0)
    # (2,12): sizes 1 vs 2 differ → 0 (equal-size gate)
    assert d[(2, 12)] == 0.0


def test_iism_values_rule(spark):
    from ontologymatching_spark.operators import iism as iism_mod

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"src_id": [1, 2], "dst_id": [11, 12], "sim": [0.5, 0.5]}
        )
    )
    sv = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": [1, 1, 1, 2], "value": ["a", "b", "b", "x"]}
        )
    )
    dv = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": [11, 11, 11], "value": ["a", "b", "c"]}
        )
    )
    out = iism_mod.values_sim(pairs, sv, dv).toPandas()
    d = {(r.src_id, r.dst_id): r.sim_pv for r in out.itertuples()}
    # V1={a,b} (dup collapsed), V2={a,b,c} → 2/3
    assert d[(1, 11)] == pytest.approx(2 / 3)
    # dst 12 has no values → 0 (reference continues empty lists)
    assert d[(2, 12)] == 0.0


def test_iism_driver_applies_new_rules(spark, family):
    from ontologymatching_spark.operators import iism as iism_mod

    pairs, sp, dp = family
    sv = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 2], "value": ["v1", "v2"]})
    )
    dv = spark.createDataFrame(
        pd.DataFrame({"entity_id": [11, 12], "value": ["v1", "zz"]})
    )
    out = iism_mod.iism(
        pairs, sp, dp, parent_thr=0.6, boost=0.2, rounds=1,
        src_values=sv, dst_values=dv, pv_thr=0.5,
    )
    d = {(r.src_id, r.dst_id): r.sim_iism for r in out.toPandas().itertuples()}
    # (1,11): parent boost 0.8→0.84, then values rule (1/1=1.0 ≥ .5)
    # fires: 0.84 + 0.2*0.16 = 0.872
    assert d[(1, 11)] == pytest.approx(0.872)
    # (2,12): values disjoint → only parent boost: 0.52
    assert d[(2, 12)] == pytest.approx(0.52)


def test_iism_subproperty_rule(spark):
    """matchSubProperties (:401-489): aligned parents with equal-size sub
    sets align their single unaligned remainder at 1.0; multi-remainder
    blocks rank-zip; unequal-size sub sets never fire."""
    from ontologymatching_spark.operators import iism as iism_mod

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # parents (100,110) aligned at 0.9; subs of 100 = {1,2},
                # subs of 110 = {11,12}; (1,11) aligned at 0.8 → remaining
                # (2,12) must be aligned by the rule
                "src_id": [100, 1, 2],
                "dst_id": [110, 11, 12],
                "sim": [0.9, 0.8, 0.3],
            }
        )
    )
    sp = spark.createDataFrame(
        pd.DataFrame({"parent_id": [100, 100], "sub_id": [1, 2]})
    )
    dp = spark.createDataFrame(
        pd.DataFrame({"parent_id": [110, 110], "sub_id": [11, 12]})
    )
    new = iism_mod.subproperty_alignments(pairs, sp, dp, prop_thr=0.75)
    assert [(r.src_id, r.dst_id) for r in new.collect()] == [(2, 12)]

    # wired through the driver: (2,12) gets the certainty boost to 1.0
    parents = spark.createDataFrame(
        pd.DataFrame({"child_id": [], "parent_id": []}),
        "child_id long, parent_id long",
    )
    out = iism_mod.iism(
        pairs, parents, parents, rounds=1, boost=0.0,
        src_subs=sp, dst_subs=dp, sub_thr=0.75,
    ).toPandas()
    d = dict(zip(zip(out["src_id"], out["dst_id"]), out["sim_iism"]))
    assert d[(2, 12)] == pytest.approx(1.0)
    assert d[(1, 11)] == pytest.approx(0.8)

    # unequal sub-set sizes → the rule must not fire
    dp3 = spark.createDataFrame(
        pd.DataFrame({"parent_id": [110, 110, 110], "sub_id": [11, 12, 13]})
    )
    assert iism_mod.subproperty_alignments(pairs, sp, dp3).count() == 0

    # two unaligned remainders on each side rank-zip by id
    pairs2 = spark.createDataFrame(
        pd.DataFrame(
            {"src_id": [100], "dst_id": [110], "sim": [0.9]}
        )
    )
    new2 = iism_mod.subproperty_alignments(pairs2, sp, dp, prop_thr=0.75)
    assert sorted((r.src_id, r.dst_id) for r in new2.collect()) == [
        (1, 11), (2, 12)
    ]


def test_iism_unionclass_rule(spark):
    """matchUnionClasses (:757-930): strong member pair (>0.8) + weakly
    aligned complementary members (row/col max < 0.6) → complementary
    pair aligned at 1.0; all four orientations; >2-member unions skip."""
    from ontologymatching_spark.operators import iism as iism_mod

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # union S = {1,2}, union T = {11,12}; (1,11) strong at 0.9;
                # 2's row max = 0.3 < 0.6, 12's col max = 0.3 < 0.6 → fire
                "src_id": [1, 2],
                "dst_id": [11, 12],
                "sim": [0.9, 0.3],
            }
        )
    )
    su = spark.createDataFrame(
        pd.DataFrame({"union_id": [7, 7], "member_id": [1, 2]})
    )
    du = spark.createDataFrame(
        pd.DataFrame({"union_id": [9, 9], "member_id": [11, 12]})
    )
    new = iism_mod.union_class_alignments(pairs, su, du)
    assert [(r.src_id, r.dst_id) for r in new.collect()] == [(2, 12)]

    # complementary member already well-aligned (>= 0.6) → no fire
    pairs2 = spark.createDataFrame(
        pd.DataFrame(
            {"src_id": [1, 2], "dst_id": [11, 12], "sim": [0.9, 0.7]}
        )
    )
    assert iism_mod.union_class_alignments(pairs2, su, du).count() == 0

    # cross orientation: strong (1,12) → candidate (2,11)
    pairs3 = spark.createDataFrame(
        pd.DataFrame(
            {"src_id": [1, 2], "dst_id": [12, 11], "sim": [0.9, 0.2]}
        )
    )
    new3 = iism_mod.union_class_alignments(pairs3, su, du)
    assert [(r.src_id, r.dst_id) for r in new3.collect()] == [(2, 11)]

    # 3-member union skipped (reference returns on size > 2)
    su3 = spark.createDataFrame(
        pd.DataFrame({"union_id": [7, 7, 7], "member_id": [1, 2, 3]})
    )
    assert iism_mod.union_class_alignments(pairs, su3, du).count() == 0

    # wired through the driver
    parents = spark.createDataFrame(
        pd.DataFrame({"child_id": [], "parent_id": []}),
        "child_id long, parent_id long",
    )
    out = iism_mod.iism(
        pairs, parents, parents, rounds=1, boost=0.0,
        src_unions=su, dst_unions=du,
    ).toPandas()
    d = dict(zip(zip(out["src_id"], out["dst_id"]), out["sim_iism"]))
    assert d[(2, 12)] == pytest.approx(1.0)
    assert d[(1, 11)] == pytest.approx(0.9)
