"""Selection tests mirroring the reference's degenerate test matchers
(testMatchers/AllOneMatcher, AllZeroMatcher — FIXTURES.md §3) plus the 1-1
conflict-block fixture pinning greedy semantics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ontologymatching_spark.operators import selection


def _pairs(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["src_id", "dst_id", "src_uri", "dst_uri", "sim"]
    )
    return spark.createDataFrame(pdf)


def test_all_one(spark):
    # k x k all at sim=1.0 → 1-1 selection returns exactly k pairs
    k = 5
    rows = [
        (i, 100 + j, f"s{i}", f"d{j}", 1.0) for i in range(k) for j in range(k)
    ]
    out = selection.select_one_to_one(_pairs(spark, rows)).toPandas()
    assert len(out) == k
    assert out["src_id"].nunique() == k and out["dst_id"].nunique() == k
    # deterministic tie-break: src s0→d0, s1→d1 ... (uri asc)
    got = dict(zip(out["src_uri"], out["dst_uri"]))
    assert got == {f"s{i}": f"d{i}" for i in range(k)}


def test_all_zero(spark):
    rows = [(i, 100 + j, f"s{i}", f"d{j}", 0.0) for i in range(3) for j in range(3)]
    out = selection.select_one_to_one(_pairs(spark, rows), threshold=0.6)
    assert out.count() == 0


def test_greedy_conflict_block(spark):
    # known optimal greedy outcome: global max first, remove row+col
    rows = [
        (1, 11, "a", "x", 0.9),
        (1, 12, "a", "y", 0.8),
        (2, 11, "b", "x", 0.85),
        (2, 12, "b", "y", 0.7),
    ]
    out = selection.select_one_to_one(_pairs(spark, rows)).toPandas()
    got = {(r.src_uri, r.dst_uri) for r in out.itertuples()}
    # greedy: (a,x,0.9) then (b,y,0.7)
    assert got == {("a", "x"), ("b", "y")}


def _block_rows():
    """A random 20x20 block: 400 pairs with 6-digit sims."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        for j in range(20):
            sim = float(np.round(rng.random(), 6))
            rows.append((i, 100 + j, f"s{i:02d}", f"d{j:02d}", sim))
    return rows


def _greedy_vs_sequential(spark, **kwargs):
    """Select the random block and return the selection's stats, its pairs
    and the sequential greedy's pairs."""
    rows = _block_rows()
    stats: dict = {}
    out = selection.select_one_to_one(
        _pairs(spark, rows), threshold=0.0, stats=stats, **kwargs
    ).toPandas()
    got = {(r.src_uri, r.dst_uri) for r in out.itertuples()}

    ordered = sorted(rows, key=lambda r: (-r[4], r[2], r[3]))
    used_s, used_d, want = set(), set(), set()
    for _, _, su, du, sim in ordered:
        if su in used_s or du in used_d:
            continue
        used_s.add(su)
        used_d.add(du)
        want.add((su, du))
    return stats, got, want


def test_greedy_matches_sequential_oracle(spark):
    # below the tail bound the one-task tail selects the whole block
    stats, got, want = _greedy_vs_sequential(spark)
    assert stats == {"rounds": 0, "tail_rows": 400}
    assert got == want


@pytest.mark.parametrize("tail_rows", [200, 0])
def test_rounds_then_tail_match_sequential_oracle(spark, monkeypatch,
                                                  tail_rows):
    # above the bound mutual-best rounds run first: with 200 they leave a
    # remainder to the tail, with 0 they select everything themselves
    monkeypatch.setattr(selection, "TAIL_ROWS", tail_rows)
    stats, got, want = _greedy_vs_sequential(spark)
    assert stats["rounds"] > 0
    if tail_rows:
        assert 0 < stats["tail_rows"] <= tail_rows
    else:
        assert stats["tail_rows"] == 0
    assert got == want


def test_max_rounds_above_bound_skips_tail(spark, monkeypatch):
    # one round leaves more than the bound: the tail is not handed the
    # oversized remainder, and the selection is that round's pairs only
    monkeypatch.setattr(selection, "TAIL_ROWS", 50)
    stats, got, want = _greedy_vs_sequential(spark, max_rounds=1)
    assert stats == {"rounds": 1, "tail_rows": 0}
    first_round = selection.mutual_best_round(
        _pairs(spark, _block_rows()), threshold=0.0
    ).toPandas()
    assert got == {(r.src_uri, r.dst_uri) for r in first_round.itertuples()}
    assert got < want


def test_topk_per_src(spark):
    rows = [(1, 100 + j, "a", f"d{j}", 0.6 + j / 100) for j in range(5)]
    out = selection.select_topk_per_src(_pairs(spark, rows), k=2).toPandas()
    assert sorted(out["dst_uri"]) == ["d3", "d4"]


def test_best_match_boosting(spark):
    rows = [(1, 11, "a", "x", 0.5), (1, 12, "a", "y", 0.4)]
    out = (
        selection.best_match_boosting(_pairs(spark, rows), boost=1.2)
        .orderBy(F.desc("sim"))
        .toPandas()
    )
    assert abs(out["sim"][0] - 0.6) < 1e-12  # best boosted
    assert abs(out["sim"][1] - 0.4) < 1e-12  # rest untouched


def test_salted_join_equals_plain_join(spark):
    """Hot-key skew fixture (FIXTURES.md §3.7): the salted exact-key join
    must produce exactly the plain equi-join's pair set."""
    import pandas as pd

    from ontologymatching_spark.operators import blocking

    # 60% of entities named 'main' (hot), rest unique
    def side(prefix, n):
        rows = []
        for i in range(n):
            name = "main" if i % 5 < 3 else f"{prefix}_u{i}"
            rows.append(
                {
                    "entity_id": (1000 if prefix == "s" else 2000) + i,
                    "kind": "function",
                    "norm_name": name,
                    "nodigit_name": name,
                    "uri": f"{prefix}/{i}",
                }
            )
        return spark.createDataFrame(pd.DataFrame(rows))

    s, d = side("s", 40), side("d", 40)
    plain = (
        s.selectExpr("entity_id as src_id", "concat(kind,'|',norm_name) as key")
        .join(
            d.selectExpr("entity_id as dst_id", "concat(kind,'|',norm_name) as key"),
            "key",
        )
        .select("src_id", "dst_id")
    )
    salted = blocking.salted_exact_pairs(s, d, salt_buckets=8)
    a = {(r.src_id, r.dst_id) for r in plain.collect()}
    b = {(r.src_id, r.dst_id) for r in salted.collect()}
    assert a == b and len(a) > 500  # 24 x 24 mains + uniques


def test_lwc_quality_weighted(spark):
    """Quality-weighted LWC: a matcher whose row has one standout candidate
    gets high local confidence; its vote dominates the average."""
    import pandas as pd

    from ontologymatching_spark.operators import matchers

    pdf = pd.DataFrame(
        {
            "src_id": [1, 1, 1],
            "dst_id": [11, 12, 13],
            # matcher A: clear winner at 11; matcher B: flat (uninformative)
            "sim_a": [0.9, 0.1, 0.1],
            "sim_b": [0.5, 0.5, 0.5],
        }
    )
    df = spark.createDataFrame(pdf)
    out = matchers.lwc_quality_weighted(df, ["sim_a", "sim_b"]).toPandas()
    got = dict(zip(out["dst_id"], out["sim"]))
    # quality(A) = 1 - avg(non-best) = 1 - 0.1 = 0.9; quality(B) = 0.5
    # combined(11) = (0.9*0.9 + 0.5*0.5)/(0.9+0.5) ≈ 0.757 > plain avg 0.7
    assert got[11] > 0.7
    assert got[11] > got[12] == got[13]


def test_lwc_sigmoid_average(spark):
    """SIGMOIDAVERAGECOMB: sigmoid(k=5, c=0.5) applied per matcher, missing
    sims rescaled from 0 (reference reads empty cells as 0)."""
    import math

    import pytest as pt

    from ontologymatching_spark.operators import matchers

    df = spark.createDataFrame(
        [(1, 11, 0.5, None), (1, 12, 1.0, 1.0)],
        "src_id long, dst_id long, sim_a double, sim_b double",
    )
    out = matchers.lwc_sigmoid_average(df, ["sim_a", "sim_b"]).toPandas()
    got = dict(zip(out["dst_id"], out["sim"]))

    def sg(x):
        return 1.0 / (1.0 + math.exp(-5.0 * (x - 0.5)))

    assert got[11] == pt.approx((sg(0.5) + sg(0.0)) / 2)
    assert got[12] == pt.approx(sg(1.0))
