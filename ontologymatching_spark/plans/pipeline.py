"""End-to-end KG-construction pipeline (the OAEI2011 ensemble shape,
OAEI2011Matcher.java:203-232, re-expressed as checkpointed DataFrame stages):

  src_files → extract(triples, entities) → prepare(norm tiers, virtual docs)
    → block(candidate_pairs) → BSM + PSM + VMM → combine → select 1-1
    → connected components → nodes/edges

Every stage checkpoints through CheckpointStore (resume-from-snapshot), and
every row carries lineage (repo, path, commit, content_sha256 + stage name).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking, components, matchers, selection
from ..operators.extract import extract_entities, extract_triples
from .checkpoint import CheckpointStore


@dataclass
class PipelineConfig:
    threshold: float = 0.6
    max_block_pairs: int = 10_000
    combination: str = "average"  # average | max | lwc
    topk_guard: int = 50  # per-source candidate cap before selection
    # optional structural refinement between combine and select
    # (SURVEY.md §7.9 boost stage; off by default — the oracle models the
    # base ensemble). True/"dsi" → DSI parent blend; "iism" → IISM rule
    # boosts (the OAEI GENERAL_PURPOSE shape, OAEI2011Matcher.java:209-231).
    structural_boost: bool | str = False
    dsi_mcp: float = 0.75
    # submit independent stage chains (triples→mentions→links vs the
    # matching chain) as concurrent Spark jobs. Stage outputs are
    # byte-identical either way. Measured on the single-box sandbox this
    # HURTS (local[32] 205s → 285s on 100k files): both chains are
    # checkpoint-write-bound and interleaving them turns sequential writes
    # into seek thrash on the one shared disk. On a real cluster, where
    # chains land on different executors/disks, it overlaps genuinely
    # independent I/O — hence a knob (KG_OVERLAP=1), default off.
    # field(default_factory=...) so the env var is read at PipelineConfig()
    # construction time, not at module import (a bench harness may import
    # first and set KG_OVERLAP later)
    overlap_stages: bool = field(
        default_factory=lambda: os.environ.get("KG_OVERLAP", "0") == "1"
    )


# Bump when extraction/matcher/selection SEMANTICS change (anything that
# would make previously checkpointed stage rows non-reusable). The
# incremental pipeline refuses to reuse a store with a different fingerprint.
PIPELINE_CODE_VERSION = "r5"


def config_fingerprint(cfg: "PipelineConfig") -> str:
    """sha256 over the result-affecting config fields + the code version —
    recorded in the store by ``KGPipeline.run`` and compared by
    ``IncrementalKGPipeline`` before reusing any checkpointed stage
    (ADVICE r04: a prev run produced by different matcher code/config would
    silently void the bit-identical rebuild invariant)."""
    import hashlib
    import json

    payload = json.dumps(
        {
            "code": PIPELINE_CODE_VERSION,
            "threshold": cfg.threshold,
            "max_block_pairs": cfg.max_block_pairs,
            "combination": cfg.combination,
            "topk_guard": cfg.topk_guard,
            "structural_boost": cfg.structural_boost,
            "dsi_mcp": cfg.dsi_mcp,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def combine_scores(pf: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    """(src_id, dst_id, src_uri, dst_uri, sim_bsm, sim_psm, sim_vmm) →
    + combined ``sim`` rounded to 12 decimals (TF-IDF partial-sum order
    varies with partitioning by ~1 ULP; rounding makes selection tie-breaks
    bit-stable across parallelism levels, SURVEY.md §4(d)). Module-level so
    the incremental pipeline combines reused and fresh scores through the
    identical transformation."""
    sim_cols = ["sim_bsm", "sim_psm", "sim_vmm"]
    if cfg.combination == "max":
        pf = matchers.lwc_max(pf, sim_cols)
    elif cfg.combination == "lwc":
        pf = matchers.lwc_quality_weighted(pf, sim_cols)
    else:
        pf = matchers.lwc_average(pf, sim_cols)
    return pf.select(
        "src_id", "dst_id", "src_uri", "dst_uri",
        "sim_bsm", "sim_psm", "sim_vmm",
        F.round(F.col("sim"), 12).alias("sim"),
    )


def assign_side(entities: DataFrame, src_files: DataFrame) -> DataFrame:
    """entities + ``side`` ('src' | 'dst'), the half of the match each
    entity sits on. A ``side`` column on ``src_files`` (one value per repo)
    decides it when present; otherwise the synthetic generator's rule does:
    even ``orgN`` index = source, odd = target. A repo outside that naming,
    a repo given two sides, or a side other than 'src'/'dst' stops the
    write with an error naming the repo (``raise_error`` runs inside the
    stage's own job)."""
    repo = F.col("repo")
    if "side" not in src_files.columns:
        digits = F.regexp_extract(repo, r"org(\d+)", 1)
        side = (
            F.when(digits == "", F.raise_error(F.concat(
                F.lit("no side for repo '"), repo,
                F.lit("': pass a 'side' column with src_files, or name "
                      "repos orgN (even N = src, odd N = dst)"),
            )))
            .when(F.substring(digits, -1, 1).isin("0", "2", "4", "6", "8"),
                  F.lit("src"))
            .otherwise(F.lit("dst"))
        )
        return entities.withColumn("side", side)
    sides = src_files.groupBy("repo").agg(
        F.min("side").alias("lo"), F.max("side").alias("hi")
    )
    side = F.when(
        (F.col("lo") == F.col("hi")) & F.col("lo").isin("src", "dst"),
        F.col("lo"),
    ).otherwise(F.raise_error(F.concat(
        F.lit("repo '"), repo,
        F.lit("' needs exactly one side, 'src' or 'dst'"),
    )))
    return entities.join(sides.select("repo", side.alias("side")), "repo")


def apply_structural_boost(scored: DataFrame, triples: DataFrame,
                           prepared: DataFrame, src_e: DataFrame,
                           dst_e: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    """Optional DSI / IISM refinement over the combined scores (SURVEY §7.9;
    OAEI2011Matcher.java:209-231 GENERAL_PURPOSE shape). Module-level so the
    incremental pipeline applies the identical transformation."""
    from ..operators.iism import iism
    from ..operators.structural import dsi, parent_edges_from_triples

    parents = parent_edges_from_triples(triples, prepared)
    src_ids = src_e.select("entity_id")
    sp = parents.join(
        src_ids, parents.child_id == src_ids.entity_id, "left_semi"
    )
    dp = parents.join(
        dst_e.select("entity_id"),
        parents.child_id == F.col("entity_id"), "left_semi",
    )
    base = scored.select("src_id", "dst_id", "sim")
    if cfg.structural_boost == "iism":
        boosted = iism(base, sp, dp).select(
            "src_id", "dst_id", F.col("sim_iism").alias("sim")
        )
    else:  # True / "dsi"
        boosted = dsi(base, sp, dp, mcp=cfg.dsi_mcp).select(
            "src_id", "dst_id", F.col("sim_dsi").alias("sim")
        )
    return scored.drop("sim").join(boosted, ["src_id", "dst_id"])


class KGPipeline:
    """Source half = repos where pmod(hash(repo),2)==0 is NOT used — the
    split is explicit: callers pass a per-repo ``side`` column on
    ``src_files`` or it is derived from the repo name (even/odd org index,
    matching corpus/generator.py); see ``assign_side``."""

    def __init__(self, spark: SparkSession, store: CheckpointStore,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.store = store
        self.cfg = config or PipelineConfig()

    # -- stages --------------------------------------------------------------

    def run(self, src_files: DataFrame) -> dict[str, DataFrame]:
        self._ex = None
        # fingerprint first, before any stage commits: a store is only ever
        # reusable together with the code/config that produced it — a resume
        # against a store written under different semantics must fail fast,
        # not silently mix stages
        fp = config_fingerprint(self.cfg)
        old = self.store.read_meta("pipeline")
        if old is not None and old.get("fingerprint") != fp:
            raise ValueError(
                "checkpoint store was written with a different code/config "
                "fingerprint; resume with the original config or use a "
                "fresh store"
            )
        self.store.write_meta("pipeline", {"fingerprint": fp})
        try:
            return self._run(src_files)
        finally:
            # drain in-flight side-chain futures even when the main chain
            # raises (e.g. injected crash): completed stages stay committed,
            # and callers never observe a half-written store
            if self._ex is not None:
                self._ex.shutdown(wait=True)
                self._ex = None

    def _run(self, src_files: DataFrame) -> dict[str, DataFrame]:
        """Stage DAG has two independent chains off ``src_files``:

          A: triples → mentions → links(needs prepared)
          B: entities → prepared → candidate_pairs → scored → alignment → nodes

        With ``overlap_stages`` they are submitted from two Python threads
        (Spark schedules concurrent jobs at task granularity), so chain A's
        shuffle/write-bound work fills cores while chain B's pandas-UDF
        scoring runs — the local[32] win is ~the whole of chain A's wall.
        """
        from concurrent.futures import ThreadPoolExecutor

        cfg = self.cfg
        st = self.store

        if not cfg.overlap_stages:
            triples = st.stage("triples", lambda: extract_triples(src_files))
            f_side = None
        else:
            self._ex = ex = ThreadPoolExecutor(max_workers=2)

            def _side_chain():
                t = st.stage("triples", lambda: extract_triples(src_files))
                from ..operators.linking import mentions_from_triples

                m = st.stage(
                    "mentions", lambda: mentions_from_triples(t),
                    inputs=["triples"],
                )
                return t, m

            f_side = ex.submit(_side_chain)

        entities_raw = st.stage("entities", lambda: extract_entities(src_files))

        def _prepared():
            e = matchers.prepare_entities(entities_raw)
            return assign_side(matchers.with_virtual_doc(e), src_files)

        prepared = st.stage("prepared", _prepared, inputs=["entities"])

        if f_side is not None:
            # links needs (mentions, prepared) — both exist now or soon;
            # overlaps with blocking + scoring below
            def _links_chain():
                _, m = f_side.result()
                from ..operators.linking import link_mentions

                lk = st.stage(
                    "links", lambda: link_mentions(m, prepared),
                    inputs=["mentions", "prepared"],
                )
                return lk

            f_links = self._ex.submit(_links_chain)

        # matching is kind-gated like the reference (classes vs properties,
        # AbstractMatcher.java:147-189): modules are KG nodes and linking
        # targets but never cross-matched
        matchable = prepared.filter(F.col("kind").isin("class", "function"))
        src_e = matchable.filter(F.col("side") == "src")
        dst_e = matchable.filter(F.col("side") == "dst")

        pairs = st.stage(
            "candidate_pairs",
            lambda: blocking.candidate_pairs(src_e, dst_e, cfg.max_block_pairs),
            inputs=["prepared"],
        )

        def _scored():
            pf = matchers.pairs_with_features(pairs, src_e, dst_e)
            pf = matchers.bsm(pf)
            pf = matchers.psm(pf)
            vm = matchers.vmm(pairs, src_e, dst_e)
            pf = pf.join(vm, ["src_id", "dst_id"], "left").fillna(
                {"sim_vmm": 0.0}
            )
            pf = pf.withColumn("src_uri", F.col("s_uri")).withColumn(
                "dst_uri", F.col("d_uri")
            )
            return combine_scores(pf, cfg)

        scored = st.stage("scored_pairs", _scored, inputs=["candidate_pairs"])

        if f_side is not None:
            # side chain is done (or nearly) by the time scoring lands
            triples, mentions = f_side.result()

        if cfg.structural_boost:
            scored = st.stage(
                "scored_boosted",
                lambda: apply_structural_boost(
                    scored, triples, prepared, src_e, dst_e, cfg
                ),
                inputs=["scored_pairs", "triples"],
            )

        def _aligned():
            # guard: cap candidates per source before the iterative selection
            # (bounds the loop's working set at scale)
            guarded = selection.select_topk_per_src(
                scored, cfg.topk_guard, cfg.threshold
            )
            return selection.select_one_to_one(guarded, cfg.threshold)

        alignment = st.stage("alignment", _aligned, inputs=["scored_pairs"])

        def _nodes():
            canon = components.canonicalize(
                alignment.select("src_id", "dst_id"),
                prepared.withColumnRenamed("side", "side_"),
            )
            return canon.select(
                "canonical_id", "entity_id", "uri", "local_name", "kind",
                "repo", "path", "commit", "content_sha256",
                F.lit("nodes").alias("stage"),
                F.spark_partition_id().alias("part_id"),
            )

        nodes = st.stage("nodes", _nodes, inputs=["alignment", "prepared"])

        if f_side is None:

            def _mentions():
                from ..operators.linking import mentions_from_triples

                return mentions_from_triples(triples)

            mentions = st.stage("mentions", _mentions, inputs=["triples"])

            def _links():
                from ..operators.linking import link_mentions

                return link_mentions(mentions, prepared)

            links = st.stage("links", _links, inputs=["mentions", "prepared"])
        else:
            links = f_links.result()

        def _edges():
            # declares + resolved-import edges, re-keyed to canonical ids
            ent_map = nodes.select("uri", "canonical_id")
            src_map = ent_map.select(
                F.col("uri").alias("subj"), F.col("canonical_id").alias("src_canonical")
            )
            dst_map = ent_map.select(
                F.col("uri").alias("obj"), F.col("canonical_id").alias("dst_canonical")
            )
            decl = (
                triples.filter(F.col("pred") == "declares")
                .join(src_map, "subj")
                .join(dst_map, "obj")
                .select(
                    "src_canonical", "dst_canonical", "pred",
                    "repo", "path", "commit", "content_sha256",
                )
            )
            ent_canon = nodes.select("entity_id", "canonical_id")
            imp = (
                mentions.join(links, "mention_id")
                .join(ent_canon, "entity_id")
                .join(
                    src_map,
                    F.col("context") == F.col("subj"),
                )
                .select(
                    "src_canonical",
                    F.col("canonical_id").alias("dst_canonical"),
                    F.lit("imports").alias("pred"),
                    "repo", "path", "commit", "content_sha256",
                )
            )
            return (
                decl.unionByName(imp)
                .withColumn("stage", F.lit("edges"))
                .withColumn("part_id", F.spark_partition_id())
            )

        edges = st.stage("edges", _edges, inputs=["nodes", "triples", "links"])

        return {
            "mentions": mentions,
            "links": links,
            "triples": triples,
            "entities": prepared,
            "candidate_pairs": pairs,
            "scored_pairs": scored,
            "alignment": alignment,
            "nodes": nodes,
            "edges": edges,
        }
