"""Matcher stages — DataFrame re-expressions of the reference's composite
matchers (SURVEY.md §2.8). Each takes the prepared entities + candidate pairs
and returns the pairs with a similarity column added; all stay sparse (the
reference's dense SimilarityMatrix is never materialized — the pair table with
threshold-at-fill IS the AggregativeSparseMatrix, AbstractMatcher.java:504-505).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spark_sims as S

# ---------------------------------------------------------------------------
# entity preparation: normalization tiers + virtual document
# ---------------------------------------------------------------------------


def prepare_entities(entities: DataFrame) -> DataFrame:
    """Add entity_id + the BSM normalization tiers + token array.

    norm tiers are JVM expressions where possible; stemming is the one
    pandas-UDF column (Porter has no Catalyst equivalent)."""
    from .extract import with_entity_ids

    e = with_entity_ids(entities)
    e = e.withColumn("norm_name", S.norm_name_col(F.col("local_name")))
    e = e.withColumn("stem_name", S.stem_norm_udf(F.col("local_name")))
    e = e.withColumn("nodigit_name", S.stem_nodigit_norm_udf(F.col("local_name")))
    e = e.withColumn("tokens", F.split(F.col("norm_name"), " "))
    return e


def with_virtual_doc(entities: DataFrame) -> DataFrame:
    """VMM virtual document (MultiWordsMatcher.createMultiWordsString,
    multiWords/MultiWordsMatcher.java:178-300): per-entity text = own name
    tokens + names of sibling entities in the same module + module path
    tokens. Pure DataFrame: module-level aggregation + join, no UDF.

    Token order is normalized (sorted, deduped) so the doc is deterministic
    under any partitioning — required for oracle parity."""
    sib = entities.groupBy("repo", "path").agg(
        F.array_distinct(
            F.flatten(F.collect_list(F.col("tokens")))
        ).alias("module_tokens")
    )
    path_toks = F.split(
        S.norm_name_col(F.regexp_replace(F.col("path"), r"\.[a-z]+$", "")), " "
    )
    return entities.join(sib, ["repo", "path"]).withColumn(
        "doc_tokens",
        F.array_sort(
            F.array_distinct(
                F.concat(F.col("tokens"), F.col("module_tokens"), path_toks)
            )
        ),
    ).drop("module_tokens")


# ---------------------------------------------------------------------------
# pair assembly
# ---------------------------------------------------------------------------

_SRC_COLS = ["entity_id", "uri", "local_name", "norm_name", "stem_name",
             "nodigit_name", "doc_tokens"]


def pairs_with_features(pairs: DataFrame, src: DataFrame, dst: DataFrame) -> DataFrame:
    """Join the candidate-pair ids back to both sides' feature columns."""
    s = src.select([F.col(c).alias(f"s_{c}") for c in _SRC_COLS])
    d = dst.select([F.col(c).alias(f"d_{c}") for c in _SRC_COLS])
    return (
        pairs.join(s, pairs.src_id == s.s_entity_id)
        .join(d, pairs.dst_id == d.d_entity_id)
        .drop("s_entity_id", "d_entity_id")
    )


# ---------------------------------------------------------------------------
# BSM — tiered exact-match cascade (BaseSimilarityMatcher.java:292-355)
# ---------------------------------------------------------------------------


def bsm(pairs_f: DataFrame) -> DataFrame:
    """exact=1.0 → normalized=0.95 → +stem=0.9 → +digit-strip=0.8 → 0.
    A single when-cascade over the candidate pairs; the four progressively
    normalized columns were computed once on each entity side, so this is
    pure whole-stage-codegen arithmetic (no join, no UDF here)."""
    sim = (
        F.when(F.col("s_local_name") == F.col("d_local_name"), F.lit(1.0))
        .when(F.col("s_norm_name") == F.col("d_norm_name"), F.lit(0.95))
        .when(F.col("s_stem_name") == F.col("d_stem_name"), F.lit(0.9))
        .when(
            (F.col("s_nodigit_name") == F.col("d_nodigit_name"))
            & (F.length("s_nodigit_name") > 0),
            F.lit(0.8),
        )
        .otherwise(F.lit(0.0))
    )
    return pairs_f.withColumn("sim_bsm", sim)


# ---------------------------------------------------------------------------
# PSM — weighted string similarity over fields with weight redistribution
# (ParametricStringMatcher.java:118-382; OAEI weights .33/.34/.33 localname/
# label/comment, metric AMSUB_AND_EDIT, OAEI2011Matcher.java:281-299)
# ---------------------------------------------------------------------------


def psm(pairs_f: DataFrame,
        w_local: float = 0.33, w_label: float = 0.34, w_doc: float = 0.33) -> DataFrame:
    """Fields here: localname (raw name), label (normalized name), comment
    (virtual doc). Missing/irrelevant fields (Utility.isIrrelevant) surrender
    their weight to the present ones (weight redistribution)."""
    sim_local = S.amsub_edit_udf(F.col("s_local_name"), F.col("d_local_name"))
    sim_label = S.amsub_edit_udf(F.col("s_norm_name"), F.col("d_norm_name"))
    sim_doc = S.jaccard_col(F.col("s_doc_tokens"), F.col("d_doc_tokens"))

    def present(a: str, b: str):
        return (F.length(F.col(a)) > 0) & (F.length(F.col(b)) > 0)

    p_local = present("s_local_name", "d_local_name")
    p_label = present("s_norm_name", "d_norm_name")
    p_doc = (F.size("s_doc_tokens") > 0) & (F.size("d_doc_tokens") > 0)

    w_l = F.when(p_local, F.lit(w_local)).otherwise(F.lit(0.0))
    w_b = F.when(p_label, F.lit(w_label)).otherwise(F.lit(0.0))
    w_d = F.when(p_doc, F.lit(w_doc)).otherwise(F.lit(0.0))
    total = w_l + w_b + w_d
    num = (
        F.when(p_local, sim_local).otherwise(F.lit(0.0)) * w_l
        + F.when(p_label, sim_label).otherwise(F.lit(0.0)) * w_b
        + F.when(p_doc, sim_doc).otherwise(F.lit(0.0)) * w_d
    )
    return pairs_f.withColumn(
        "sim_psm", F.when(total > 0, num / total).otherwise(F.lit(0.0))
    )


# ---------------------------------------------------------------------------
# VMM — TF-IDF cosine over virtual documents (MultiWordsMatcher.java:103-176,
# 469-479). Corpus = union of BOTH sides' docs (corpus build :122-149).
# Sparse per-pair cosine — the dense matrix never exists.
# ---------------------------------------------------------------------------


def vmm(pairs: DataFrame, src: DataFrame, dst: DataFrame) -> DataFrame:
    """→ (src_id, dst_id, sim_vmm). ``doc_tokens`` are distinct
    (``with_virtual_doc``), so tf ≡ 1 and a term's weight is
    w(t) = ln(N/df(t)), N = docs in the corpus. Each doc becomes one
    term → w map and an L2 norm; per pair,
    sim = Σ_{t ∈ s ∩ d} s_w[t]·d_w[t] / (s_nrm·d_nrm), 0 when no term is
    shared or a norm is 0. Norm and dot sum in sorted term order, so the
    result does not depend on partitioning."""
    docs = src.select("entity_id", "doc_tokens").unionByName(
        dst.select("entity_id", "doc_tokens"))
    terms = docs.select(
        "entity_id", F.explode("doc_tokens").alias("term")
    ).filter(F.length("term") > 0)
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    idf = (
        terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(n_docs)
        .select("term", F.log(F.col("n") / F.col("df")).alias("w"))
    )
    vec = terms.join(idf, "term").groupBy("entity_id").agg(
        F.array_sort(F.collect_list(F.struct("term", "w"))).alias("vec"))
    vec = vec.select(
        "entity_id",
        F.map_from_entries("vec").alias("wmap"),
        F.sqrt(F.aggregate("vec", F.lit(0.0),
                           lambda a, x: a + x["w"] * x["w"])).alias("nrm"),
    )

    def side(p: str, id_col: str) -> DataFrame:
        return vec.select(F.col("entity_id").alias(id_col),
                          F.col("wmap").alias(f"{p}_w"),
                          F.col("nrm").alias(f"{p}_nrm"))

    # map_zip_with runs over s's keys in order, then d's others (null there)
    prods = F.map_values(F.map_zip_with("s_w", "d_w", lambda _, a, b: a * b))
    dot = F.aggregate(prods, F.lit(0.0),
                      lambda acc, x: acc + F.coalesce(x, F.lit(0.0)))
    return (
        pairs.select("src_id", "dst_id")
        .join(side("s", "src_id"), "src_id", "left")
        .join(side("d", "dst_id"), "dst_id", "left")
        .select(
            "src_id", "dst_id",
            F.when((F.col("s_nrm") > 0) & (F.col("d_nrm") > 0),
                   dot / (F.col("s_nrm") * F.col("d_nrm")))
            .otherwise(F.lit(0.0)).alias("sim_vmm"),
        )
    )


# ---------------------------------------------------------------------------
# LWC — combination (Combination/CombinationMatcher.java:93-199)
# ---------------------------------------------------------------------------


def lwc_average(pairs_sims: DataFrame, sim_cols: list[str]) -> DataFrame:
    """AVERAGECOMB: plain average of the available matcher similarities."""
    n = len(sim_cols)
    expr = sum((F.coalesce(F.col(c), F.lit(0.0)) for c in sim_cols), F.lit(0.0)) / n
    return pairs_sims.withColumn("sim", expr)


def lwc_sigmoid_average(pairs_sims: DataFrame, sim_cols: list[str]) -> DataFrame:
    """SIGMOIDAVERAGECOMB (CombinationMatcher.java:151-153,182-186): average
    of sigmoid-rescaled similarities, sigmoid = 1/(1+exp(-5*(x-0.5)))
    (Utility.getSigmoidFunction:232-239 — k=5, midpoint 0.5). Missing sims
    enter as 0.0 BEFORE the sigmoid (the reference reads an empty matrix
    cell as sim=0 and rescales it), so an absent matcher contributes
    sigmoid(0) ≈ 0.076, not 0."""
    n = len(sim_cols)

    def sg(c):
        return 1.0 / (
            1.0 + F.exp(-5.0 * (F.coalesce(F.col(c), F.lit(0.0)) - 0.5))
        )

    expr = sum((sg(c) for c in sim_cols[1:]), sg(sim_cols[0])) / n
    return pairs_sims.withColumn("sim", expr)


def lwc_quality_weighted(pairs_sims: DataFrame, sim_cols: list[str]) -> DataFrame:
    """Quality-weighted average: each matcher's sim is weighted by its
    per-source-row local confidence, LocalConfidenceQuality
    (qualityEvaluation/metrics/LocalConfidenceQuality.java:32-119):
    1 - avg(non-best sims), high when the best candidate stands out. Every
    matcher's confidence is a window over the same source row, so the pair
    plan runs once (a group-by joined back would run it twice)."""
    row = Window.partitionBy("src_id")
    n = F.count(F.lit(1)).over(row)
    qcols = [
        F.when(n > 1, 1.0 - (F.sum(c).over(row) - F.max(c).over(row)) / (n - 1))
        .otherwise(F.lit(1.0))
        for c in sim_cols
    ]
    num = sum((F.coalesce(F.col(c), F.lit(0.0)) * F.coalesce(q, F.lit(1.0))
               for c, q in zip(sim_cols, qcols)), F.lit(0.0))
    den = sum((F.coalesce(q, F.lit(1.0)) for q in qcols), F.lit(0.0))
    return pairs_sims.withColumn(
        "sim", F.when(den > 0, num / den).otherwise(F.lit(0.0)))


# ---------------------------------------------------------------------------
# ASM — content-word sub-matrix (AdvancedSimilarityMatcher.java:31-533)
# ---------------------------------------------------------------------------

# word lists from AdvancedSimilarityMatcher.initializeVariables (:547-562)
# and BaseSimilarityMatcher.isNonContent (:608-627)
ASM_ISHAS = ["is", "are", "was", "were", "has", "have"]
ASM_PREP = ["to", "at", "as", "in", "on", "of", "by", "for"]
ASM_BASE_NONCONTENT = [
    "the", "is", "this", "are", "to", "a", "e", "an", "in", "or", "and",
    "for", "that",
]
# ASM.isNonContent(s) = base nonContent OR relevant (isHas ∪ prep) (:499-502)
ASM_NONCONTENT = sorted(
    set(ASM_BASE_NONCONTENT) | set(ASM_ISHAS) | set(ASM_PREP)
)


def asm_weight_tables(max_tokens: int):
    """Literal lookup tables for ASM computeValue (:451-491), precomputed in
    Python so both engines (Spark and the DuckDB oracle) evaluate identical
    doubles — exp/atan are never computed engine-side.

    Returns (svc, add): svc[d] = start_value_contribution for word distance
    d; add[(d, a)] = distContribution + quantityContribution for word
    distance d and integer-divided average word count a = (s+t)//2 — the
    reference's (sSize+tSize)/2 is Java INTEGER division (:322)."""
    import math

    def weights(d):
        if d == 0:
            return 1.0, 0.0, 0.0
        if d == 1:
            return 0.75, 0.0, 0.25
        if d == 2:
            return 0.65, 0.0, 0.35
        return 0.60, 0.15, 0.25

    svc, add = {}, {}
    for d in range(max_tokens + 1):
        sv, wd, aw = weights(d)
        svc[d] = sv
        for a in range(max_tokens + 1):
            dist = (1.0 - math.exp(d - 2.5)) * wd
            quant = (1.0 / math.pi * math.atan(a - 3) + 0.5) * aw
            add[(d, a)] = dist + quant
    return svc, add


def asm_noncontent_outcome(src_toks, dst_toks):
    """Column: the nonContentWordCheck (:339-398) result over two lowercased
    token arrays — -1.0 (NO_MATCH), a 0.05 bonus, or 0.0.

    The reference's scan is position-dependent; re-expressed per source
    token s (restricted to the relevant words isHas ∪ prep, since the outer
    guard isNonContent(s) && isRelevantString(s) reduces to relevance):

      pos_eq   = first position of s itself among the relevant dst tokens
      pos_conf = first position of a same-class (isHas/isHas or prep/prep)
                 UNEQUAL relevant dst token
      outcome  = NO_MATCH  if pos_conf exists and precedes any pos_eq
                 (the reference returns NO_MATCH the moment it is seen;
                 an earlier equal token `break`s the scan first — :372-386)
               | 0.05      if pos_eq exists (first-equal break)
               | 0.0       if any relevant dst token was scanned
               | unassigned otherwise (simValue keeps its prior value)

    Overall: NO_MATCH if ANY source token's outcome is NO_MATCH (the return
    interrupts everything); else the LAST assigned outcome (later source
    tokens overwrite simValue); else 0.0."""
    rel = ASM_ISHAS + ASM_PREP
    rel_s = F.filter(src_toks, lambda x: x.isin(rel))
    rel_d = F.filter(dst_toks, lambda x: x.isin(rel))

    def outcome(s):
        pos_eq = F.array_position(rel_d, s)
        pos_conf = F.array_min(
            F.transform(
                rel_d,
                lambda t, j: F.when(
                    (
                        (s.isin(ASM_ISHAS) & t.isin(ASM_ISHAS))
                        | (s.isin(ASM_PREP) & t.isin(ASM_PREP))
                    )
                    & (t != s),
                    j + 1,
                ),
            )
        )
        return (
            F.when(
                pos_conf.isNotNull()
                & ((pos_eq == 0) | (pos_conf < pos_eq)),
                F.lit(-1.0),
            )
            .when(pos_eq > 0, F.lit(0.05))
            .when(F.size(rel_d) > 0, F.lit(0.0))
        )

    outcomes = F.transform(rel_s, outcome)
    assigned = F.filter(outcomes, lambda o: o.isNotNull())
    return F.when(
        F.exists(outcomes, lambda o: o == -1.0), F.lit(-1.0)
    ).otherwise(
        F.when(F.size(assigned) > 0, F.element_at(assigned, -1)).otherwise(
            F.lit(0.0)
        )
    )


def asm_advanced_sim(
    pairs: DataFrame,
    kernel=None,
    max_tokens: int = 8,
    row_kernel: bool = False,
) -> DataFrame:
    """ASM content-word sub-matrix similarity
    (AdvancedSimilarityMatcher.java:154-323) — the round-3 VERDICT's missing
    item #2 (the sorted-token inversion tier covers only token-reorder
    equality; this is the full per-token sub-matrix).

    Input: (src_id, dst_id, src_toks, dst_toks) candidate pairs with
    order-preserved token arrays. Output: (src_id, dst_id, asm_sim) for
    pairs the reference would map (NO_MATCH and sim<=0 pairs dropped, as
    alignWithoutProfiling returns null for them :222-240).

    Plan (scale-first):
      1. token arrays are sliced to ``max_tokens`` and lowercased JVM-side;
         the nonContent bonus/NO_MATCH state machine is pure array HOFs
         (no shuffle, no UDF);
      2. content words (non-``ASM_NONCONTENT``) are posexploded into the
         per-pair token grid — grid size is bounded by max_tokens², never
         corpus-dependent;
      3. ``kernel(s, t)`` scores each cell (default: the reference's
         AMSUB_AND_EDIT pandas UDF, simkernels.py; any (Column,Column)→
         Column works), rounded to the 1e-6 integer grid so greedy
         selection compares exact longs in any engine;
      4. greedy 1-1 per pair (chooseBestN over the local matrix :313) is
         ONE codegen expression: sort_array over the ≤max_tokens² cell
         structs (key = (-sim6, i, j) — the greedy total order), then
         F.aggregate with a (row-bitmask, col-bitmask, sum) accumulator —
         i and j index ≤max_tokens tokens so each mask is one long. A
         first applyInPandas cut paid ~1 ms of per-group pandas overhead
         × 518k pair-groups at sf0.1 (≈9 min); the bitmask fold is pure
         whole-stage codegen after a single groupBy shuffle — and with
         ``row_kernel=True`` (kernel is a pure Column expression, e.g.
         lev) the grid is built IN-ROW by nested transforms instead:
         no explode, no groupBy, ZERO shuffles after the block join.
         The mean sim is sum/(min(ns,nt)·1e6) — greedy over a full grid
         always selects exactly min(ns, nt) cells;
      5. computeValue (:451-491) uses the literal asm_weight_tables CASE
         chain — exp/atan precomputed, expression shape
         ``mean*svc + add`` identical in the DuckDB twin.
    """
    from ..functions.spark_sims import amsub_edit_udf

    if max_tokens > 32:
        raise ValueError("max_tokens > 32 breaks the greedy bitmask fold")
    if kernel is None:
        kernel = amsub_edit_udf

    low = lambda c: F.transform(  # noqa: E731
        F.slice(c, 1, max_tokens), lambda x: F.lower(x)
    )
    p = pairs.select(
        "src_id", "dst_id",
        low(F.col("src_toks")).alias("s_toks"),
        low(F.col("dst_toks")).alias("d_toks"),
    )
    p = p.withColumn(
        "bonus", asm_noncontent_outcome(F.col("s_toks"), F.col("d_toks"))
    ).filter(F.col("bonus") != -1.0)
    content = lambda c: F.filter(  # noqa: E731
        c, lambda x: ~x.isin(ASM_NONCONTENT)
    )
    p = (
        p.withColumn("s_content", content(F.col("s_toks")))
        .withColumn("d_content", content(F.col("d_toks")))
        .withColumn("ns", F.size("s_content"))
        .withColumn("nt", F.size("d_content"))
        .filter((F.col("ns") > 0) & (F.col("nt") > 0))
        .select("src_id", "dst_id", "bonus", "ns", "nt", "s_content",
                "d_content")
    )

    if row_kernel:
        # kernel is a pure Column expression: build the whole cell grid
        # IN-ROW with nested transforms — no posexplode, no groupBy, zero
        # shuffles after the block join (pandas-UDF kernels cannot appear
        # inside HOF lambdas, so they take the explode path below)
        grid = p.withColumn(
            "arr",
            F.sort_array(F.flatten(F.transform(
                F.col("s_content"),
                lambda a, i: F.transform(
                    F.col("d_content"),
                    lambda b, j: F.struct(
                        (-F.round(kernel(a, b) * 1e6, 0).cast("long"))
                        .alias("k"),
                        i.alias("i"),
                        j.alias("j"),
                    ),
                ),
            ))),
        )
    else:
        cells = p.select(
            "src_id", "dst_id", "bonus", "ns", "nt", "d_content",
            F.posexplode("s_content").alias("i", "s_tok"),
        ).select(
            "src_id", "dst_id", "bonus", "ns", "nt", "i", "s_tok",
            F.posexplode("d_content").alias("j", "t_tok"),
        )
        cells = cells.withColumn(
            "sim6",
            F.round(kernel(F.col("s_tok"), F.col("t_tok")) * 1e6, 0)
            .cast("long"),
        ).select("src_id", "dst_id", "bonus", "ns", "nt", "i", "j", "sim6")

        cell = F.struct(
            (-F.col("sim6")).alias("k"),
            F.col("i").alias("i"),
            F.col("j").alias("j"),
        )
        grid = cells.groupBy("src_id", "dst_id", "bonus", "ns", "nt").agg(
            F.sort_array(F.collect_list(cell)).alias("arr")
        )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("mi"),
        F.lit(0).cast("long").alias("mj"),
        F.lit(0).cast("long").alias("s"),
    )

    def greedy_step(acc, x):
        # pyspark's F.shiftleft wrapper only takes a Python int for numBits;
        # the underlying SQL function accepts a column — call it directly
        bi = F.call_function("shiftleft", F.lit(1).cast("long"), x["i"])
        bj = F.call_function("shiftleft", F.lit(1).cast("long"), x["j"])
        take = (acc["mi"].bitwiseAND(bi) == 0) & (
            acc["mj"].bitwiseAND(bj) == 0
        )
        return F.when(
            take,
            F.struct(
                acc["mi"].bitwiseOR(bi).alias("mi"),
                acc["mj"].bitwiseOR(bj).alias("mj"),
                (acc["s"] - x["k"]).alias("s"),
            ),
        ).otherwise(acc)

    sums = grid.select(
        "src_id", "dst_id", "bonus", "ns", "nt",
        F.aggregate("arr", acc0, greedy_step)["s"].alias("sum6"),
    )

    svc, add = asm_weight_tables(max_tokens)
    d_col = F.abs(F.col("ns") - F.col("nt"))
    a_col = (F.col("ns") + F.col("nt")).cast("long") / F.lit(2)
    a_col = F.floor(a_col).cast("int")
    svc_expr = F.lit(None).cast("double")
    for d in range(max_tokens, -1, -1):
        svc_expr = F.when(d_col == d, F.lit(svc[d])).otherwise(svc_expr)
    # word distance > max_tokens impossible (arrays sliced); a likewise
    add_expr = F.lit(None).cast("double")
    for (d, a), v in add.items():
        add_expr = F.when(
            (d_col == d) & (a_col == a), F.lit(v)
        ).otherwise(add_expr)

    mean = F.col("sum6").cast("double") / (
        F.least(F.col("ns"), F.col("nt")).cast("double") * F.lit(1e6)
    )
    cv = F.least(F.lit(1.0), mean * svc_expr + add_expr)
    sim = F.when(
        F.col("bonus") > 0,
        F.least(F.lit(1.0), cv * (F.lit(1.0) + F.col("bonus"))),
    ).otherwise(F.least(F.lit(1.0), cv))
    return (
        sums.withColumn("cv", cv)
        .filter(F.col("cv") > 0)
        .withColumn("asm_sim", F.floor(sim * 1e6) / 1e6)
        .select("src_id", "dst_id", "asm_sim")
    )
