"""Structural refinement matchers over the code graph (SURVEY.md §2.8):

  DSI — DescendantsSimilarityInheritance (dsi/DescendantsSimilarity
        InheritanceMatcher.java:63-185): sim' = MCP*sim + (1-MCP)*
        avg_over_src_parents(max_over_dst_parents(parent_sim)). The reference
        recurses with memoization over the DAG; here each level is one pass
        of joins (SURVEY.md §4: process levels in a bounded loop).

  SSC — SiblingsSimilarityContribution (ssc/SiblingsSimilarityContribution
        Matcher.java:77-117): blend in the average similarity of the two
        nodes' sibling sets.

  SF  — SimilarityFlooding (structuralMatchers/SimilarityFlooding.java:
        34-47,375-447,472-575): Melnik fixpoint over the pairwise
        connectivity graph, propagation coefficient = 1/out-degree per
        predicate, ROUND_MAX=10, normalize by global max each round,
        converge on max-delta. DataFrame self-join loop with localCheckpoint
        per round to cut lineage.

Parent edges here are (child_id, parent_id). In the KG a class's or
function's parent is its own file's module (`extract.module_id_col`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dsi(
    pairs: DataFrame,
    src_parents: DataFrame,
    dst_parents: DataFrame,
    mcp: float = 0.75,
) -> DataFrame:
    """pairs(src_id, dst_id, sim) + parent edges → pairs with sim_dsi.

    MCP (main contribution percentage) weighs the node's own sim; the rest
    comes from the best-aligned parents (recursiveDSI:110)."""
    p = pairs.select("src_id", "dst_id", "sim")
    sp = src_parents.select(
        F.col("child_id").alias("src_id"), F.col("parent_id").alias("s_parent")
    )
    dp = dst_parents.select(
        F.col("child_id").alias("dst_id"), F.col("parent_id").alias("d_parent")
    )
    psim = p.select(
        F.col("src_id").alias("s_parent"),
        F.col("dst_id").alias("d_parent"),
        F.col("sim").alias("parent_sim"),
    )
    # per (pair, src-parent): best-matching dst-parent similarity; a parent
    # with NO aligned counterpart in the matrix stays NULL (neutral) rather
    # than 0 — in our kind-gated matrix module parents are often absent, and
    # the reference's recursion simply has no cell to read there
    per_sparent = (
        p.join(sp, "src_id")
        .join(dp, "dst_id")
        .join(psim, ["s_parent", "d_parent"], "left")
        .groupBy("src_id", "dst_id", "s_parent")
        .agg(F.max(F.col("parent_sim")).alias("best"))
    )
    contrib = per_sparent.groupBy("src_id", "dst_id").agg(
        F.avg("best").alias("parent_contrib")  # avg ignores NULLs
    )
    return (
        p.join(contrib, ["src_id", "dst_id"], "left")
        .withColumn(
            "sim_dsi",
            F.round(
                F.lit(mcp) * F.col("sim")
                + (1 - mcp) * F.coalesce(F.col("parent_contrib"), F.col("sim")),
                12,
            ),
        )
        .select("src_id", "dst_id", "sim", "sim_dsi")
    )


def ssc(
    pairs: DataFrame,
    src_parents: DataFrame,
    dst_parents: DataFrame,
    weight: float = 0.25,
) -> DataFrame:
    """Sibling contribution: avg sim over aligned sibling pairs (children of
    the two parents, excluding the pair itself), blended at ``weight``."""
    p = pairs.select("src_id", "dst_id", "sim")
    sp = src_parents.select(
        F.col("child_id").alias("src_id"), F.col("parent_id").alias("s_parent")
    )
    dp = dst_parents.select(
        F.col("child_id").alias("dst_id"), F.col("parent_id").alias("d_parent")
    )
    # sibling pair sims grouped by (s_parent, d_parent)
    fam = p.join(sp, "src_id").join(dp, "dst_id")
    fam_stats = fam.groupBy("s_parent", "d_parent").agg(
        F.sum("sim").alias("fam_sum"), F.count("*").alias("fam_n")
    )
    out = (
        fam.join(fam_stats, ["s_parent", "d_parent"])
        .withColumn(
            "sib_avg",
            F.when(
                F.col("fam_n") > 1,
                (F.col("fam_sum") - F.col("sim")) / (F.col("fam_n") - 1),
            ).otherwise(F.col("sim")),
        )
        .withColumn(
            "sim_ssc",
            F.round((1 - weight) * F.col("sim") + weight * F.col("sib_avg"), 12),
        )
        # a pair may have several parent combos (multi-parent DAGs): take max
        .groupBy("src_id", "dst_id")
        .agg(F.max("sim_ssc").alias("sim_ssc"), F.first("sim").alias("sim"))
    )
    return p.join(out.select("src_id", "dst_id", "sim_ssc"), ["src_id", "dst_id"], "left").withColumn(
        "sim_ssc", F.coalesce(F.col("sim_ssc"), F.col("sim"))
    )


# Inflow contributions are quantized onto a 2^-40 binary grid before the
# groupBy sum: every term becomes an exact multiple of 2^-40, so partial sums
# (bounded well under 2^13) are EXACT doubles in ANY addition order — the sum
# is bit-identical across partition counts, engines (DuckDB oracle) and
# cluster sizes. Without this, summing hundreds of doubles is order-sensitive
# at ~1e-11, which the per-round round(·,12) cannot absorb.
_Q = float(1 << 40)


def _round12_half_up(x: float) -> float:
    """Bit-exact driver twin of Spark's ``F.round(col, 12)`` on doubles.
    Spark rounds via ``BigDecimal.valueOf(double)`` — the SHORTEST
    round-trip string (Double.toString), NOT the exact binary value — then
    setScale(12, HALF_UP) → double. ``Decimal(repr(x))`` is the same
    shortest-string construction (``Decimal(x)`` would take the exact
    binary expansion and diverge, e.g. at 0.9999999999995), ``quantize``
    with ROUND_HALF_UP the same rounding, ``float()`` the same
    correctly-rounded narrowing (guarded by the test_sf_frontier round-twin
    property test — including exact decimal .5 ties, where a half-even
    rounder would diverge)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("1E-12"), rounding=ROUND_HALF_UP)
    )


def similarity_flooding(
    pairs: DataFrame,
    src_edges: DataFrame,
    dst_edges: DataFrame,
    max_rounds: int = 10,
    epsilon: float = 1e-3,
    stats: dict | None = None,
) -> DataFrame:
    """Melnik similarity flooding fixpoint.

    PCG nodes = candidate pairs; a PCG edge connects (a,b)→(a',b') when
    edge(a,a') exists in the source graph and edge(b,b') in the target graph
    with the same predicate, in both directions, weighted 1/out-degree
    (propagation coefficients, SimilarityFlooding.java:375-447).

    sigma_{i+1} = normalize(sigma_0 + sigma_i + sum_in(coeff * sigma_i)),
    rounds capped at ROUND_MAX=10, convergence on max per-pair delta.

    Scale design (round 4; bit-identical results to the naive loop, guarded
    by ``tests/test_sf_frontier.py``):

    * **connected/isolated split** — only pairs that are PCG *nodes* can
      send or receive flow; every other pair evolves by the closed-form
      per-row recurrence ``s ← round((s0 + s)/mx, 12)``. Isolated pairs
      (the overwhelming majority under cross-source blocking, where the
      doc-pair PCG is literally empty) are therefore NEVER materialized
      per round: their contribution to the per-round normalization max and
      convergence delta is ONE codegen aggregation scan with the recurrence
      unrolled in the expression, and their final sigma is computed lazily
      at the end. Only the (small) connected state is checkpointed.
    * **frontier/delta inflow** — from round 2 on, the inflow join ships
      only pairs whose sigma CHANGED last round; each changed source adds
      ``q(c·s_new) − q(c·s_old)`` to the stored inflow. Exact because every
      term is quantized to the 2^-40 grid before summing (see ``_Q``), so
      incremental sums are bit-identical to full recomputation in any
      order/engine.
    * one ``localCheckpoint`` per round (raw state), with sigma derived as
      a narrow projection, and ``s0`` carried in the state (no per-round
      re-join against the base table).

    One scalar collect per round (not two): the aggregate returns BOTH the
    normalization max of this round's raw scores AND the convergence delta
    of the previous transition, so convergence is detected one iteration
    later at zero extra Spark jobs. ``stats['rounds']`` reports the number
    of sigma updates applied (guards the fusion in tests)."""
    import time as _time

    _t0 = _time.time()
    # materialize the base pair table once: it is referenced by the PCG
    # build (twice), the sigma init, AND every round's raw computation —
    # uncheckpointed, its upstream lineage (e.g. a full TF-IDF query) would
    # re-execute at each of those points
    sigma0 = pairs.select(
        "src_id", "dst_id", F.col("sim").alias("s0")
    ).localCheckpoint()
    _t_input = _time.time()

    se = src_edges.select(
        F.col("child_id").alias("sa"), F.col("parent_id").alias("sb"),
        F.col("pred") if "pred" in src_edges.columns else F.lit("e").alias("pred"),
    )
    de = dst_edges.select(
        F.col("child_id").alias("da"), F.col("parent_id").alias("db"),
        F.col("pred") if "pred" in dst_edges.columns else F.lit("e").alias("pred"),
    )
    # forward PCG edges between pair nodes, built PAIRS-FIRST: anchor on the
    # candidate pairs and walk one edge per side, requiring the far endpoints
    # to be a candidate pair too. The naive alternative — se.join(de, "pred")
    # then restrict — materializes a |src_edges| x |dst_edges| cross on each
    # hot predicate BEFORE the restriction (25M rows at sf0.1's single
    # 'grouped' pred; quadratic in docs at scale), for the identical result.
    keys = sigma0.select(
        F.col("src_id").alias("from_src"), F.col("dst_id").alias("from_dst")
    )
    # "to" candidates = pairs whose BOTH endpoints are parent ids — the only
    # rows the existence check can ever hit. Pre-restricting sigma0 through
    # two broadcast semi-joins against the (small) distinct-parent-id sets
    # turns the final existence join from a pairs×pairs shuffle into
    # broadcast-sized work (the to-candidate set is bounded by the graph's
    # parent structure, not the candidate-pair count).
    to_cands = (
        sigma0
        .join(F.broadcast(se.select(F.col("sb").alias("src_id")).distinct()),
              "src_id", "semi")
        .join(F.broadcast(de.select(F.col("db").alias("dst_id")).distinct()),
              "dst_id", "semi")
        .select(F.col("src_id").alias("to_src"), F.col("dst_id").alias("to_dst"))
        .localCheckpoint()
    )
    to_cands_b = (
        F.broadcast(to_cands) if to_cands.count() <= 2_000_000 else to_cands
    )
    # the edge maps (child→parent per side) are dimension-sized relative to
    # the pair table: broadcast them when they fit so the pairs-first walk
    # is a single narrow pass over cached sigma0 instead of two pairs-sized
    # shuffles (measured at sf1: 24 s setup → ~10 s)
    n_se = se.count()
    n_de = de.count()
    se_j = F.broadcast(se) if n_se <= 5_000_000 else se
    de_j = F.broadcast(de) if n_de <= 5_000_000 else de
    fwd = (
        keys
        .join(se_j, F.col("from_src") == F.col("sa"))
        .join(
            de_j.withColumnRenamed("pred", "pred_d"),
            (F.col("from_dst") == F.col("da"))
            & (F.col("pred") == F.col("pred_d")),
        )
        .join(
            to_cands_b,
            (F.col("sb") == F.col("to_src")) & (F.col("db") == F.col("to_dst")),
        )
        .select("from_src", "from_dst", "to_src", "to_dst")
    )
    bwd = fwd.select(
        F.col("to_src").alias("from_src"), F.col("to_dst").alias("from_dst"),
        F.col("from_src").alias("to_src"), F.col("from_dst").alias("to_dst"),
    )
    # materialize the edge list BEFORE the out-degree self-join: pcg0 is
    # referenced twice (agg build + join probe) and its lineage contains the
    # pairs-sized fwd walk — uncached, that walk would execute twice
    pcg0 = fwd.unionByName(bwd).localCheckpoint()
    outdeg = pcg0.groupBy("from_src", "from_dst").agg(
        F.count("*").alias("deg")
    )
    pcg = pcg0.join(outdeg, ["from_src", "from_dst"]).withColumn(
        "coeff", F.lit(1.0) / F.col("deg")
    ).localCheckpoint()

    # PCG node set (bwd mirrors fwd, so the from- and to-key sets coincide):
    # these pairs — and ONLY these — participate in flow
    nodes = pcg.select(
        F.col("from_src").alias("src_id"), F.col("from_dst").alias("dst_id")
    ).distinct().localCheckpoint()
    n_conn = nodes.count()
    n_iso = sigma0.count() - n_conn
    # the node set is tiny relative to the pair table (it is bounded by the
    # graph's edge structure, not the candidate-pair count): broadcast the
    # semi/anti splits when it fits, else fall back to shuffle joins
    nodes_b = F.broadcast(nodes) if n_conn <= 2_000_000 else nodes
    iso = sigma0.join(nodes_b, ["src_id", "dst_id"], "left_anti")

    def _iso_s(n_applied: int, mxs: list) -> "F.Column":
        # the isolated-pair recurrence unrolled: identical double ops to the
        # full-table path (raw = (s0+s)+0.0; s' = round(raw/mx, 12))
        s = F.col("s0")
        for k in range(n_applied):
            s = F.round((F.col("s0") + s) / F.lit(mxs[k]), 12)
        return s

    # driver-side replay of the recurrence for the max-s0 isolated row:
    # s_i(s0) is monotone nondecreasing in s0 (+, ÷mx>0 and HALF_UP round
    # all preserve order), so this ONE row yields the EXACT isolated-side
    # normalization max each round with zero scans, and a lower bound on
    # the isolated convergence delta that skips the exact delta scan while
    # a break is impossible (every op is replayed bit-identically:
    # _round12_half_up is the driver twin of F.round(·, 12))
    iso_s0max = iso.agg(F.max("s0")).collect()[0][0] if n_iso else None
    iso_s_cur = iso_s0max
    iso_s_prev: float | None = None

    # connected state: (src_id, dst_id, s0, s, s_prev, inflow)
    conn = sigma0.join(nodes_b, ["src_id", "dst_id"], "semi").select(
        "src_id", "dst_id", "s0", F.col("s0").alias("s"),
        F.lit(None).cast("double").alias("s_prev"),
        F.lit(None).cast("double").alias("inflow"),
    )
    if n_conn:
        conn = conn.localCheckpoint()
    _t_setup = _time.time()
    _n_scans = 0
    mxs: list[float] = []
    rounds = 0
    for i in range(max_rounds):
        conn_mx = conn_delta = None
        if n_conn:
            if i == 0:
                # full inflow: every PCG source contributes q(coeff * s)
                contrib = pcg.join(
                    conn.select(
                        F.col("src_id").alias("from_src"),
                        F.col("dst_id").alias("from_dst"),
                        F.col("s").alias("in_s"),
                    ),
                    ["from_src", "from_dst"],
                ).groupBy("to_src", "to_dst").agg(
                    F.sum(
                        F.floor(F.col("coeff") * F.col("in_s") * _Q) / _Q
                    ).alias("d")
                )
            else:
                # frontier: only CHANGED sources re-enter the join; their
                # grid-quantized contribution delta updates the stored
                # inflow exactly (all terms are 2^-40 multiples)
                changed = conn.filter(F.col("s") != F.col("s_prev")).select(
                    F.col("src_id").alias("from_src"),
                    F.col("dst_id").alias("from_dst"),
                    F.col("s").alias("in_s"),
                    F.col("s_prev").alias("in_sp"),
                )
                contrib = pcg.join(
                    changed, ["from_src", "from_dst"]
                ).groupBy("to_src", "to_dst").agg(
                    F.sum(
                        F.floor(F.col("coeff") * F.col("in_s") * _Q) / _Q
                        - F.floor(F.col("coeff") * F.col("in_sp") * _Q) / _Q
                    ).alias("d")
                )
            contrib = contrib.select(
                F.col("to_src").alias("src_id"),
                F.col("to_dst").alias("dst_id"),
                "d",
            )
            conn = (
                conn.join(contrib, ["src_id", "dst_id"], "left")
                .select(
                    "src_id", "dst_id", "s0", "s", "s_prev",
                    (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.coalesce(F.col("d"), F.lit(0.0))
                    ).alias("inflow"),
                )
                .withColumn(
                    "raw",
                    (F.col("s0") + F.col("s")) + F.col("inflow"),
                )
            ).localCheckpoint()  # the ONLY per-round materialization
            crow = conn.agg(
                F.max("raw").alias("mx"),
                F.max(F.abs(F.col("s") - F.col("s_prev"))).alias("delta"),
            ).collect()[0]
            conn_mx, conn_delta = crow.mx, crow.delta
        iso_mx = ((iso_s0max + iso_s_cur) + 0.0) if n_iso else None
        # break check: the global delta is max(conn_delta, iso_delta); any
        # part already >= epsilon forecloses the break, so the exact
        # isolated delta scan only runs when a break is still on the table
        may_break = i > 0 and not (
            conn_delta is not None and conn_delta >= epsilon
        )
        iso_delta = None
        if n_iso and i > 0:
            bound = abs(iso_s_cur - iso_s_prev)
            if bound >= epsilon:
                may_break = False
            elif may_break:
                _n_scans += 1
                iso_delta = iso.agg(
                    F.max(F.abs(_iso_s(i, mxs) - _iso_s(i - 1, mxs)))
                ).collect()[0][0]
        if may_break:
            deltas = [d for d in (conn_delta, iso_delta) if d is not None]
            if deltas and max(deltas) < epsilon:
                break
        cands = [m for m in (conn_mx, iso_mx) if m is not None]
        mx = (max(cands) if cands else None) or 1.0
        if n_conn:
            conn = conn.select(
                "src_id", "dst_id", "s0",
                F.round(F.col("raw") / F.lit(mx), 12).alias("s"),
                F.col("s").alias("s_prev"),
                "inflow",
            )  # narrow projection of the checkpointed raw state — no 2nd write
        mxs.append(mx)
        rounds += 1
        if n_iso:
            iso_s_prev = iso_s_cur
            iso_s_cur = _round12_half_up((iso_s0max + iso_s_cur) / mx)
    if stats is not None:
        stats["rounds"] = rounds
        stats["n_conn"] = n_conn
        stats["n_iso"] = n_iso
        stats["iso_delta_scans"] = _n_scans
        stats["t_input"] = round(_t_input - _t0, 3)
        stats["t_setup"] = round(_t_setup - _t_input, 3)
        stats["t_rounds"] = round(_time.time() - _t_setup, 3)
    out_iso = iso.select("src_id", "dst_id", _iso_s(rounds, mxs).alias("sim_sf"))
    if not n_conn:
        return out_iso
    out_conn = conn.select("src_id", "dst_id", F.col("s").alias("sim_sf"))
    return out_conn.unionByName(out_iso) if n_iso else out_conn
