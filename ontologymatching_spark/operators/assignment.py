"""Per-component optimal assignment — the reference's exact-1-1 selectors
(MaxWeightBipartiteMatching.java:128-310, HungarianAlgorithm.java:47-613) are
inherently sequential global algorithms; the Spark-native strategy is to
partition the candidate graph into connected components (small after
blocking) and solve each component independently inside a grouped pandas UDF
(SURVEY.md §2.6).

``select_optimal_by_component`` solves each component as a max-weight
bipartite assignment (exact DP/auction-free implementation below, pure
Python — no scipy in this environment), matching the reference's MWBM
semantics for small components. The greedy 1-1 (chooseBestN) is
``selection.select_one_to_one``; a component too large for the exact
solver falls back to its sequential pass, ``selection._greedy_tail``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .components import connected_components
from .selection import _greedy_tail

_OUT_SCHEMA = StructType(
    [
        StructField("src_id", LongType()),
        StructField("dst_id", LongType()),
        StructField("src_uri", StringType()),
        StructField("dst_uri", StringType()),
        StructField("sim", DoubleType()),
    ]
)


def _hungarian_small(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact max-weight bipartite matching per component via O(n^2 m)
    augmenting-path search (Kuhn-Munkres on the sparse pair list). Components
    after blocking are small; fall back to greedy above a size guard."""
    srcs = {s: i for i, s in enumerate(sorted(pdf["src_id"].unique()))}
    dsts = {d: j for j, d in enumerate(sorted(pdf["dst_id"].unique()))}
    if len(srcs) * len(dsts) > 250_000:
        return _greedy_tail(pdf)
    import numpy as np

    w = np.zeros((len(srcs), len(dsts)))
    for r in pdf.itertuples(index=False):
        w[srcs[r.src_id], dsts[r.dst_id]] = max(
            w[srcs[r.src_id], dsts[r.dst_id]], r.sim
        )
    n, m = w.shape
    # pad to square for Jonker-style DP; zeros = "no edge"
    k = max(n, m)
    cost = np.zeros((k, k))
    cost[:n, :m] = w
    # Hungarian (maximization) via potentials — O(k^3)
    u = np.zeros(k + 1)
    v = np.zeros(k + 1)
    p = np.zeros(k + 1, dtype=int)  # p[j] = row matched to column j
    way = np.zeros(k + 1, dtype=int)
    a = -cost  # minimize negative
    for i in range(1, k + 1):
        p[0] = i
        j0 = 0
        minv = np.full(k + 1, np.inf)
        used = np.zeros(k + 1, dtype=bool)
        while True:
            used[j0] = True
            i0, delta, j1 = p[j0], np.inf, 0
            for j in range(1, k + 1):
                if not used[j]:
                    cur = a[i0 - 1, j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(k + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            p[j0] = p[way[j0]]
            j0 = way[j0]
    inv_s = {i: s for s, i in srcs.items()}
    inv_d = {j: d for d, j in dsts.items()}
    pair_lookup = {
        (r.src_id, r.dst_id): (r.src_uri, r.dst_uri, r.sim)
        for r in pdf.itertuples(index=False)
    }
    rows = []
    for j in range(1, k + 1):
        i = p[j]
        if i == 0 or i - 1 >= n or j - 1 >= m:
            continue
        s, d = inv_s[i - 1], inv_d[j - 1]
        if (s, d) in pair_lookup:
            su, du, sim = pair_lookup[(s, d)]
            rows.append((s, d, su, du, sim))
    return pd.DataFrame(
        rows, columns=["src_id", "dst_id", "src_uri", "dst_uri", "sim"]
    )


def select_optimal_by_component(pairs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Exact max-weight 1-1 per component (MWBM semantics)."""
    p = pairs.filter(F.col("sim") >= threshold).select(
        "src_id", "dst_id", "src_uri", "dst_uri", "sim"
    )
    comps = connected_components(p)
    with_comp = p.join(
        comps.withColumnRenamed("entity_id", "src_id"), "src_id"
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _hungarian_small(pdf.drop(columns=["component_id"]))

    return with_comp.groupBy("component_id").applyInPandas(solve, _OUT_SCHEMA)
