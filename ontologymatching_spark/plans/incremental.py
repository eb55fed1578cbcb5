"""Incremental re-matching — two complementary modes:

1. ``incremental_match`` — COMPLETION semantics (the reference's own
   incremental story, AbstractMatcher.java:683-717: "match only nodes not
   already mapped; copy the rest"): prior alignments are carried over
   verbatim, only pairs touching the delta are blocked/scored, completion
   filtering never re-litigates a mapped entity. Fast, append-oriented,
   NOT equal to a full recompute when a delta entity would outscore an
   existing pair — by design, matching the reference's behavior.

2. ``IncrementalKGPipeline`` — EXACT snapshot re-matching with checkpoint
   reuse: run the full pipeline semantics against a NEW corpus snapshot,
   reusing a previous run's checkpointed stages for everything the
   file-level diff does not touch — with the hard invariant that the output
   is BIT-IDENTICAL to a from-scratch rebuild on the new corpus (tested).
   Handles modifications and deletions, not just additions.

Why this exists: at 10^12 files the dominant costs are (1) re-parsing
content (mapInPandas extraction over ~100 TB) and (2) the pandas-UDF
pair-scoring kernels. Between two corpus snapshots almost all files are
unchanged, and both costs are file- or pair-local:

  - extraction is per-file            → reuse triples/entities of unchanged
                                        files (lineage (repo, path,
                                        content_sha256) identifies them);
  - entity features are FILE-local    → ``prepared`` rows of unchanged files
    (norm tiers, stem, virtual doc =    are reused verbatim (no re-stem);
    own + same-module sibling + path
    tokens — matchers.with_virtual_doc)
  - BSM/PSM scores are PAIR-local     → a candidate pair whose BOTH
    (functions of the two entities'     endpoints come from unchanged files
    features only)                      keeps its sim_bsm/sim_psm exactly —
                                        reused from the previous
                                        ``scored_pairs`` checkpoint.

What is deliberately recomputed (global semantics — reuse would break the
rebuild-equality invariant):

  - blocking: per-key caps and rank-zip depend on GLOBAL key counts, so one
    changed entity can re-decide its whole block; candidate_pairs re-runs in
    full — it is pure codegen equi-joins, linear in entities, and by
    construction produces exactly the rebuild's pair set;
  - VMM: the IDF is a corpus-level aggregate, so sim_vmm recomputes for all
    pairs (two groupBys + the term join — the cheap JVM half of scoring);
  - selection / components / nodes / edges: global by nature and cheap
    relative to scoring (alignment-sized inputs).

A v1 file that produced zero entities AND zero triples is invisible to the
previous run's lineage and is treated as new; re-extracting it again
produces nothing, so outputs are unaffected.

On a cluster the diff anti-join prunes further: with Iceberg min/max stats
on the lineage columns, snapshot-diff planning reads only partitions whose
(repo, commit) ranges intersect the changed set (SCALE.md).

No analog exists in the reference — it is batch-only (AbstractMatcher runs
the full cartesian per invocation; the closest hook is matcher/matrix
Java-serialization reuse, mappingEngine/persistance/PersistanceUtility.java,
which reloads a WHOLE previous result rather than merging a diff).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking, components, matchers, selection
from ..operators.extract import extract_entities, extract_triples
from .checkpoint import CheckpointStore
from .pipeline import (
    KGPipeline,
    PipelineConfig,
    apply_structural_boost,
    assign_side,
    combine_scores,
)

LINEAGE = ["repo", "path", "content_sha256"]


# ---------------------------------------------------------------------------
# Mode 1: completion-semantics delta matching
# ---------------------------------------------------------------------------


def _prepare(src_files: DataFrame) -> DataFrame:
    e = matchers.prepare_entities(extract_entities(src_files))
    e = assign_side(matchers.with_virtual_doc(e), src_files)
    return e.filter(F.col("kind").isin("class", "function"))


def incremental_match(
    spark: SparkSession,
    all_src_files: DataFrame,
    delta_src_files: DataFrame,
    prior_alignment: DataFrame,
    threshold: float = 0.6,
    max_block_pairs: int = 10_000,
) -> DataFrame:
    """→ updated alignment: prior pairs + matches involving delta entities.

    Only candidate pairs touching a delta entity are generated and scored
    (blocking runs delta-side x full-other-side); completion filtering drops
    pairs whose src or dst is already mapped; the new pairs then run the
    normal 1-1 selection and union with the prior alignment.

    Correctness property (tested): for additive deltas whose entities do not
    outscore existing alignments, incremental(prior, delta) == full
    recompute on the union. Where a delta entity COULD outscore an existing
    pair, the reference's completion mode has the same behavior (existing
    mappings are kept, not re-litigated) — completion semantics, not an
    approximation. For exact rebuild equality use ``IncrementalKGPipeline``.

    Note the corpus-level TF-IDF (VMM) is recomputed over the full corpus —
    IDF is a global statistic; at scale this is the stage checkpoint you
    refresh on a cadence rather than per-delta."""
    full = _prepare(all_src_files).cache()
    delta = _prepare(delta_src_files)
    delta_ids = delta.select("entity_id")

    src_e = full.filter(F.col("side") == "src")
    dst_e = full.filter(F.col("side") == "dst")
    d_src = src_e.join(delta_ids, "entity_id", "left_semi")
    d_dst = dst_e.join(delta_ids, "entity_id", "left_semi")

    # pairs touching the delta on either side
    pairs = blocking.candidate_pairs(d_src, dst_e, max_block_pairs).unionByName(
        blocking.candidate_pairs(src_e, d_dst, max_block_pairs)
    ).dropDuplicates(["src_id", "dst_id"])

    # completion: never re-litigate already-mapped entities
    pairs = selection.completion_filter(pairs, prior_alignment)

    pf = matchers.pairs_with_features(pairs, src_e, dst_e)
    pf = matchers.bsm(pf)
    pf = matchers.psm(pf)
    vm = matchers.vmm(pairs, src_e, dst_e)
    pf = pf.join(vm, ["src_id", "dst_id"], "left").fillna({"sim_vmm": 0.0})
    pf = matchers.lwc_average(pf, ["sim_bsm", "sim_psm", "sim_vmm"])
    scored = pf.select(
        "src_id", "dst_id",
        F.col("s_uri").alias("src_uri"), F.col("d_uri").alias("dst_uri"),
        F.round(F.col("sim"), 12).alias("sim"),
    )
    new_pairs = selection.select_one_to_one(scored, threshold)
    return prior_alignment.select(
        "src_id", "dst_id", "src_uri", "dst_uri", "sim"
    ).unionByName(new_pairs)


# ---------------------------------------------------------------------------
# Mode 2: exact snapshot re-matching with checkpoint reuse
# ---------------------------------------------------------------------------


def with_content_sha(src_files: DataFrame) -> DataFrame:
    """Spark-side sha256 of ``content`` — bit-identical to the extractor's
    hashlib digest (the repo's sha256 invariant test asserts F.sha2 ==
    hashlib.sha256 hexdigest)."""
    return src_files.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def prev_lineage(prev: CheckpointStore) -> DataFrame:
    """Distinct (repo, path, content_sha256) the previous run observed —
    union of the two extraction outputs' lineage columns."""
    t = prev.read("triples").select(*LINEAGE)
    e = prev.read("entities").select(*LINEAGE)
    return t.unionByName(e).dropDuplicates(LINEAGE)


REUSED_STAGES = ("triples", "entities", "prepared", "scored_pairs")


class IncrementalKGPipeline:
    """Same stage names / output dict as KGPipeline, written into a FRESH
    store (the previous snapshot stays intact — it is the rollback point).
    Reuse counts land on ``self.last_stats`` after ``run`` (kept out of the
    returned dict so it stays a uniform name→DataFrame mapping, matching
    KGPipeline's contract).

    ``__init__`` fails fast (ADVICE r04) when the previous store is missing
    any stage this plan reuses, or was produced under a different
    code/config fingerprint — silently reusing stale sim_bsm/sim_psm rows
    would void the bit-identical rebuild invariant without any test
    noticing at production scale."""

    def __init__(self, spark: SparkSession, prev_store: CheckpointStore,
                 store: CheckpointStore,
                 config: PipelineConfig | None = None,
                 check_fingerprint: bool = True):
        self.spark = spark
        self.prev = prev_store
        self.store = store
        self.cfg = config or PipelineConfig()
        self.last_stats: dict | None = None
        missing = [s for s in REUSED_STAGES if not prev_store.is_complete(s)]
        if missing:
            raise ValueError(
                f"previous store is incomplete — missing stages {missing}; "
                "incremental reuse needs a finished KGPipeline run"
            )
        if check_fingerprint:
            from .pipeline import config_fingerprint

            fp = config_fingerprint(self.cfg)
            meta = prev_store.read_meta("pipeline")
            if meta is None or meta.get("fingerprint") != fp:
                raise ValueError(
                    "previous store has no/mismatched code-config "
                    "fingerprint — its checkpointed scores may come from "
                    "different matcher semantics; rebuild it, or pass "
                    "check_fingerprint=False to override deliberately"
                )

    def _pin(self, name: str, df: DataFrame) -> DataFrame:
        """Pin a small derived frame that multiple downstream stages re-read.
        Local mode: ``localCheckpoint`` (single-JVM, executor loss is
        process death anyway). Cluster: write through the checkpoint store —
        localCheckpoint is non-reliable (lost on executor failure) and pins
        executor storage (ADVICE r04); the store write doubles as the
        kill-and-restart resume point."""
        if self.spark.sparkContext.master.startswith("local"):
            return df.localCheckpoint()
        return self.store.stage(name, lambda: df)

    def run(self, src_files_v2: DataFrame,
            with_stats: bool = True) -> dict[str, DataFrame]:
        """``with_stats=False`` skips the reuse-accounting count (one
        grouped count that re-evaluates the reusable-scores subtree;
        ``n_pairs`` is the candidate_pairs manifest's row count) — it is
        a diagnostic, not a pipeline output, and at small corpora it costs
        as much as the reuse saves."""
        cfg = self.cfg
        st = self.store
        prev = self.prev

        # fingerprint the NEW store too (mirrors KGPipeline.run): an
        # incremental run's output store is the next snapshot's prev store —
        # chained incremental maintenance (streaming/kgstream.py) would
        # otherwise fail __init__'s fail-fast check on batch 3, and a resume
        # against this store under different semantics must also fail fast.
        from .pipeline import config_fingerprint as _cfp

        fp = _cfp(cfg)
        old_meta = st.read_meta("pipeline")
        if old_meta is not None and old_meta.get("fingerprint") != fp:
            raise ValueError(
                "output store contains stages from a different code/config "
                "fingerprint; resume with the original config or use a "
                "fresh store"
            )
        st.write_meta("pipeline", {"fingerprint": fp})

        # pin only the NARROW lineage projection and the diff-sized changed
        # set — never the full v2 corpus with content (at 10^12 files that
        # pin is a memory bind; the source scan behind these two is cheap
        # relative to what the reuse saves)
        v2_full = with_content_sha(src_files_v2)
        v2 = self._pin("_v2_lineage", v2_full.select(*LINEAGE))
        lineage = prev_lineage(prev)
        # changed = new path OR new content at an existing path; files
        # REMOVED in v2 simply fail the semi-joins below.
        changed_files = self._pin(
            "_changed_files",
            v2_full.join(lineage, LINEAGE, "left_anti").drop("content_sha256"),
        )

        def _reuse(stage: str) -> DataFrame:
            """Previous stage rows whose source file is unchanged in v2.
            Shuffle semi-join on the lineage key — BOTH sides are
            corpus-sized at scale (never broadcast v2); with Iceberg
            min/max stats on (repo, commit) the scan prunes to the
            intersecting partitions."""
            return prev.read(stage).join(v2, LINEAGE, "left_semi")

        # -- extraction: reuse unchanged files' rows, parse only the diff --
        triples = st.stage(
            "triples",
            lambda: _reuse("triples").unionByName(
                extract_triples(changed_files)
            ),
        )
        entities_raw = st.stage(
            "entities",
            lambda: _reuse("entities").unionByName(
                extract_entities(changed_files)
            ),
        )

        # -- prepared: reuse unchanged files' FEATURE rows (skips the
        #    pandas-UDF stemming for the bulk of the corpus). Virtual docs
        #    are module(file)-local, so the two branches are independent —
        #    a changed file's entities all live in the fresh branch and see
        #    their full sibling set there.
        def _prepared():
            # the changed files' raw entities were already extracted into
            # the checkpointed 'entities' stage — filter them back out
            # (broadcast the diff-sized path set) instead of re-running the
            # mapInPandas parse a second time (ADVICE r04). A changed path's
            # reused rows cannot collide here: reuse is keyed on the full
            # (repo, path, sha) lineage, so a path whose content changed
            # contributes only its freshly-extracted rows.
            fresh_raw = entities_raw.join(
                F.broadcast(
                    changed_files.select("repo", "path").dropDuplicates()
                ),
                ["repo", "path"], "left_semi",
            )
            e = matchers.prepare_entities(fresh_raw)
            fresh = assign_side(matchers.with_virtual_doc(e), changed_files)
            reused = _reuse("prepared")
            return reused.unionByName(fresh.select(*reused.columns))

        prepared = st.stage("prepared", _prepared, inputs=["entities"])

        matchable = prepared.filter(F.col("kind").isin("class", "function"))
        src_e = matchable.filter(F.col("side") == "src")
        dst_e = matchable.filter(F.col("side") == "dst")

        # -- blocking: FULL re-run (global cap/rank-zip decisions; pure
        #    codegen equi-joins — by construction the rebuild's exact pair
        #    set)
        pairs = st.stage(
            "candidate_pairs",
            lambda: blocking.candidate_pairs(src_e, dst_e, cfg.max_block_pairs),
            inputs=["prepared"],
        )

        # -- scoring: reuse pair-local BSM/PSM where both endpoints are
        #    unchanged AND the pair was scored before; recompute VMM (corpus
        #    IDF) for every pair
        def _reusable_scores() -> DataFrame:
            """Previous (pair-local) BSM/PSM rows still valid in v2: the
            pair is a v2 candidate and NEITHER endpoint's file changed.
            The changed set (the diff) is the broadcast side."""
            unchanged_ids = prepared.join(
                F.broadcast(changed_files.select("repo", "path")),
                ["repo", "path"], "left_anti",
            ).select("entity_id")
            keep = ["src_id", "dst_id", "src_uri", "dst_uri",
                    "sim_bsm", "sim_psm"]
            return (
                prev.read("scored_pairs").select(*keep)
                .join(pairs, ["src_id", "dst_id"], "left_semi")
                .join(unchanged_ids.withColumnRenamed("entity_id", "src_id"),
                      "src_id", "left_semi")
                .join(unchanged_ids.withColumnRenamed("entity_id", "dst_id"),
                      "dst_id", "left_semi")
            )

        def _scored():
            keep = ["src_id", "dst_id", "src_uri", "dst_uri",
                    "sim_bsm", "sim_psm"]
            reusable = _reusable_scores()
            fresh_pairs = pairs.join(
                reusable.select("src_id", "dst_id"),
                ["src_id", "dst_id"], "left_anti",
            )
            pf = matchers.pairs_with_features(fresh_pairs, src_e, dst_e)
            pf = matchers.psm(matchers.bsm(pf)).select(
                "src_id", "dst_id",
                F.col("s_uri").alias("src_uri"),
                F.col("d_uri").alias("dst_uri"),
                "sim_bsm", "sim_psm",
            )
            merged = reusable.select(*keep).unionByName(pf)
            vm = matchers.vmm(pairs, src_e, dst_e)
            merged = merged.join(vm, ["src_id", "dst_id"], "left").fillna(
                {"sim_vmm": 0.0}
            )
            return combine_scores(merged, cfg)

        scored = st.stage("scored_pairs", _scored, inputs=["candidate_pairs"])

        if cfg.structural_boost:
            scored = st.stage(
                "scored_boosted",
                lambda: apply_structural_boost(
                    scored, triples, prepared, src_e, dst_e, cfg
                ),
                inputs=["scored_pairs", "triples"],
            )

        # -- tail stages: identical global transformations (cheap —
        #    alignment-sized inputs)
        def _aligned():
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

        from ..operators.linking import link_mentions, mentions_from_triples

        mentions = st.stage(
            "mentions", lambda: mentions_from_triples(triples),
            inputs=["triples"],
        )
        links = st.stage(
            "links", lambda: link_mentions(mentions, prepared),
            inputs=["mentions", "prepared"],
        )

        def _edges():
            ent_map = nodes.select("uri", "canonical_id")
            src_map = ent_map.select(
                F.col("uri").alias("subj"),
                F.col("canonical_id").alias("src_canonical"),
            )
            dst_map = ent_map.select(
                F.col("uri").alias("obj"),
                F.col("canonical_id").alias("dst_canonical"),
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
                .join(src_map, F.col("context") == F.col("subj"))
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

        self.last_stats = None
        if with_stats:
            # one grouped count over the three frames, not a count each
            parts = {"files": v2, "changed": changed_files,
                     "reusable": _reusable_scores()}
            tagged = [df.select(F.lit(k).alias("part"))
                      for k, df in parts.items()]
            n = dict(
                reduce(DataFrame.unionByName, tagged)
                .groupBy("part").count().collect()
            )
            n_pairs = st.rows("candidate_pairs")
            self.last_stats = {
                "n_files": n.get("files", 0),
                "n_files_changed": n.get("changed", 0),
                "n_pairs": n_pairs,
                # pairs that could NOT reuse a previous BSM/PSM row — new
                # pairs plus pairs with a changed endpoint (the reusable
                # rows are a subset of the distinct candidate pairs)
                "n_pairs_rescored": n_pairs - n.get("reusable", 0),
            }

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
