"""Alignment selection — the reference's ``scanMatrix`` dispatch
(AbstractMatcher.java:758-792) re-expressed over the sparse pair table:

  ANY-ANY → everything over threshold        (getThemAll :884-895)
  N-ANY   → top-k per source row              (:839-877, getRowMaxValues)
  ANY-N   → top-k per target column
  1-1     → iterative mutual-best (greedy / stable-marriage semantics of
            scanWithBothConstraints :897-1041 and chooseBestN
            ArraySimilarityMatrix.java:513-566)

Determinism: the reference's loops are index-ordered (:953). Under Spark
parallelism we must make tie-breaking explicit — everywhere the order is
(sim DESC, src_uri ASC, dst_uri ASC), so results are identical at local[8],
local[32], and on a real cluster (SURVEY.md §4 custom work (d)).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAIR_COLS = ["src_id", "dst_id", "src_uri", "dst_uri", "sim"]


def _w_src():
    return Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("dst_uri").asc()
    )


def _w_dst():
    return Window.partitionBy("dst_id").orderBy(
        F.col("sim").desc(), F.col("src_uri").asc()
    )


def select_all(pairs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """ANY-ANY: keep every pair over threshold (getThemAll)."""
    return pairs.filter(F.col("sim") >= threshold)


def select_topk_per_src(pairs: DataFrame, k: int, threshold: float = 0.6) -> DataFrame:
    """N-ANY: top-k per source (getRowMaxValues,
    ArraySimilarityMatrix.java:231-255)."""
    return (
        pairs.filter(F.col("sim") >= threshold)
        .withColumn("rn", F.row_number().over(_w_src()))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def select_topk_per_dst(pairs: DataFrame, k: int, threshold: float = 0.6) -> DataFrame:
    """ANY-N: top-k per target (getColMaxValues :269-295)."""
    return (
        pairs.filter(F.col("sim") >= threshold)
        .withColumn("rn", F.row_number().over(_w_dst()))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# Once the unselected remainder of a 1-1 selection is at most this many
# rows, the exact sequential greedy finishes it in one pandas task.
# Measured on a 4-core VM: ``_greedy_tail`` alone takes 0.03-0.15 s at 50k
# rows and 0.7-1.9 s at 1M (a ~140 MB frame), more the more pairs it keeps.
# On the 201k pairs of ``benchqueries.q_one_to_one_full`` at sf0.1 the
# selection takes 0.8 s at this bound (tail only), 2.5-2.9 s at a 50k or
# 200k bound (3 rounds, then a 43k-row tail) and 7.2 s rounds-only. On
# its 20.3M pairs at sf1 the first rounds over the full input dominate:
# at bounds of 50k, 1M and 4M rows the wall stays within the run-to-run
# spread of the rounds-only selection (110-151 s over all runs). A larger
# bound buys no measured time and grows the one task's memory.
TAIL_ROWS = 1_000_000


def _greedy_tail(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sequential greedy 1-1 (chooseBestN, ArraySimilarityMatrix.java:
    513-566): walk the pairs in (sim DESC, src_uri ASC, dst_uri ASC) order
    and keep each pair whose source and target are both still free — the
    same order and loop as ``oracle.matcher_oracle.match_oracle``."""
    pdf = pdf.sort_values(
        ["sim", "src_uri", "dst_uri"], ascending=[False, True, True]
    )
    used_s: set = set()
    used_d: set = set()
    keep = []
    for i, (s, d) in enumerate(zip(pdf["src_id"], pdf["dst_id"])):
        if s in used_s or d in used_d:
            continue
        used_s.add(s)
        used_d.add(d)
        keep.append(i)
    return pdf.iloc[keep]


def select_one_to_one(
    pairs: DataFrame,
    threshold: float = 0.6,
    max_rounds: int = 50,
    ckpt_every: int = 3,
    stats: dict | None = None,
) -> DataFrame:
    """Greedy 1-1 selection: mutual-best rounds while the input is large,
    then the exact sequential greedy on the remainder in one task.

    Each round keeps pairs that are simultaneously their source's best and
    their target's best (under the deterministic order), then removes the
    matched rows/columns and repeats — exactly the fixpoint of the
    reference's greedy `chooseBestN` (pick global max, delete row+col,
    repeat): a pair survives greedy iff it is mutual-best after all better
    pairs are removed, which is what this loop computes, O(log) rounds of
    Spark jobs instead of O(n) driver picks. The rounds run only while the
    remainder holds more than ``TAIL_ROWS`` rows; the remainder is then
    handed to ``_greedy_tail`` in a single grouped-map pandas task. Both
    halves pick the same pairs, since greedy on the remainder of a
    mutual-best prefix is greedy on the whole input.

    Physical refinements over the naive per-round materialization (the
    r03 bench's 95 s sf1 entry — VERDICT r03 next-round #4):

    - the tiny per-round ``best`` is localCheckpointed (so later rounds'
      anti-joins reference materialized rows, never re-running earlier
      rounds' windows), while the big ``remaining`` is localCheckpointed
      and counted only every ``ckpt_every`` rounds: between checkpoints the
      removals are broadcast hash anti-joins that pipeline into the next
      round's window scan — re-streaming the last checkpoint through a few
      hash filters is far cheaper than writing a 20M-row intermediate per
      round (measured at sf1: 20.3M pairs → rounds 0-11 run 5.0→0.6 s with
      ckpt+count costing ≤1.3 s every third round).
    - the tail. At pipeline sizes (hundreds to thousands of candidate
      pairs) no round runs at all: the selection is one count plus the
      tail task, where the rounds would cost Spark jobs for every round
      until the fixpoint (the benchmark's `update` batch: 15 jobs for 21
      selected pairs out of 1557, against 5 with the tail). An earlier
      tail handoff through ``assignment.select_greedy_by_component`` was
      measured and rejected at sf1 (from the round-12 remainder of 53k
      rows, 18.6 s against 4.3 s for 9 more rounds): that handoff paid
      connected components' fixed round costs, which the single pandas
      task does not. The tail never takes more than ``TAIL_ROWS`` rows,
      which bounds the one task's time and memory (see ``TAIL_ROWS``).

    ``max_rounds`` caps the rounds. If it stops them while the remainder
    still holds more than ``TAIL_ROWS`` rows, the tail does not run and
    the result is the rounds' pairs only: a truncated, not a complete,
    greedy selection.

    ``stats``, when given, receives ``rounds`` (mutual-best rounds run)
    and ``tail_rows`` (rows handed to the tail; 0 when it did not run).
    """
    remaining = (
        pairs.filter(F.col("sim") >= threshold)
        .select(*PAIR_COLS)
        .localCheckpoint(eager=False)
    )
    n = remaining.count()
    selected: list[DataFrame] = []
    rounds = 0

    # NOTE (r6): a min_by-aggregation formulation of the round (map-side
    # argmin per key + semi-join, "aggregate before you shuffle") was
    # measured and REJECTED: 17.4 s vs 11.6 s at sf0.1 — the two agg
    # branches re-stream the remaining set twice and add a third shuffle,
    # while the chained windows pass the data once.
    while n > TAIL_ROWS and rounds < max_rounds:
        for _ in range(min(ckpt_every, max_rounds - rounds)):
            # lazy checkpoint + count = ONE job per round (the count action
            # materializes the checkpoint)
            best = (
                remaining.withColumn("rs", F.row_number().over(_w_src()))
                .withColumn("rd", F.row_number().over(_w_dst()))
                .filter((F.col("rs") == 1) & (F.col("rd") == 1))
                .drop("rs", "rd")
            ).localCheckpoint(eager=False)
            rounds += 1
            if best.count() == 0:
                break
            selected.append(best)
            remaining = remaining.join(
                F.broadcast(best.select("src_id")), "src_id", "left_anti"
            ).join(F.broadcast(best.select("dst_id")), "dst_id", "left_anti")
        remaining = remaining.localCheckpoint(eager=False)
        n = remaining.count()
    # ``max_rounds`` can stop the rounds above the bound. The tail never
    # takes more than TAIL_ROWS rows, so the selection is then truncated to
    # the rounds' pairs, as a rounds-only selection would be.
    tail = n <= TAIL_ROWS
    if stats is not None:
        stats["rounds"] = rounds
        stats["tail_rows"] = n if tail else 0

    if tail:
        out = remaining.groupBy(F.lit(0).alias("_one_group")).applyInPandas(
            _greedy_tail, schema=remaining.schema
        )
    else:
        out = remaining.limit(0)
    for b in selected:
        out = out.unionByName(b)
    return out


def mutual_best_round(pairs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """One round of mutual-best (SQL-expressible; used by the oracle gate)."""
    return (
        pairs.filter(F.col("sim") >= threshold)
        .withColumn("rs", F.row_number().over(_w_src()))
        .withColumn("rd", F.row_number().over(_w_dst()))
        .filter((F.col("rs") == 1) & (F.col("rd") == 1))
        .drop("rs", "rd")
    )


def completion_filter(pairs: DataFrame, prior: DataFrame) -> DataFrame:
    """Completion mode (AbstractMatcher.java:683-717): only consider pairs
    whose source AND target are not already mapped by a prior alignment;
    anti-join both sides."""
    return pairs.join(
        prior.select("src_id").distinct(), "src_id", "left_anti"
    ).join(prior.select("dst_id").distinct(), "dst_id", "left_anti")


def best_match_boosting(pairs: DataFrame, boost: float = 1.2) -> DataFrame:
    """BestMatchBoosting (boosting/BestMatchBoosting.java:17-79): multiply
    each source row's best pair by ``boost`` (clamped to 1)."""
    return pairs.withColumn("rn", F.row_number().over(_w_src())).withColumn(
        "sim",
        F.when(F.col("rn") == 1, F.least(F.col("sim") * boost, F.lit(1.0))).otherwise(
            F.col("sim")
        ),
    ).drop("rn")
