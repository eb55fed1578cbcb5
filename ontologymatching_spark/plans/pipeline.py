"""End-to-end KG-construction pipeline (the OAEI2011 ensemble shape,
OAEI2011Matcher.java:203-232, re-expressed as checkpointed DataFrame stages):

  src_files → extract(triples) → prepare(entities of the triples, norm
    tiers, virtual docs) → block(candidate_pairs) → BSM + PSM + VMM
    → combine → [IISM] → select 1-1 → canonicalize → nodes
    → links(mentions of the triples) → edges

Each file is parsed once: ``triples`` is the only extraction output, and
entities and mentions are projections of it computed inside the stages
that read them.

The KG's one structural relation is containment: a file's module declares
the file's classes and functions. It is stated once, as a column
(``extract.module_id_col``), and the IISM parents and the ``declares`` and
``imports`` edges are projections of entity and mention rows through it,
never joins of ``triples`` on URIs. Every parent is therefore a module, and
modules are never matched, so IISM boosts only through its sibling rule; a
grammar with nested declarations would need real parent edges (and DSI,
which needs aligned parents to change a score) revisited.

Every stage checkpoints through CheckpointStore (resume-from-snapshot), and
every row carries lineage (repo, path, commit, content_sha256 + stage name).

The same stage graph builds a KG from scratch and updates one: an update
runs against the previous snapshot's store and takes the diff as its
input, the added or changed files and the (repo, path) keys of the
deleted ones. Its output equals a from-scratch build of the new corpus
(tested). It reuses only what is local to a file or to a pair, each
time as the previous rows minus a broadcast of the touched keys (narrow,
no shuffle):

  - extraction is per file: triples of untouched files are carried over,
    and only the changed files are parsed;
  - entity features (norm tiers, stem, virtual doc = own + same-module
    sibling + path tokens) are file-local: ``prepared`` rows of untouched
    files are carried over;
  - BSM/PSM are pair-local: a candidate pair with no endpoint in a
    touched file keeps its previous sim_bsm/sim_psm.

Everything global runs in full: blocking (per-key caps and rank-zip depend
on global key counts), VMM (corpus-level IDF) and every stage from the
structural boost on.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking, components, matchers, selection
from ..operators.extract import (
    entities_from_triples, extract_triples, module_id_col,
)
from ..operators.linking import link_mentions, mentions_from_triples
from .checkpoint import CheckpointStore


# Fixed settings of the KG core. The config fingerprint records each under
# its own key, so the fingerprints of existing stores stay valid.
MAX_BLOCK_PAIRS = 10_000  # hot-block cap of blocking.candidate_pairs
TOPK_GUARD = 50  # per-source candidate cap before the 1-1 selection


@dataclass
class PipelineConfig:
    threshold: float = 0.6
    combination: str = "average"  # average | lwc
    # optional structural refinement between combine and select
    # (SURVEY.md §7.9 boost stage; off by default — the oracle models the
    # base ensemble). "iism" → IISM rule boosts (the OAEI GENERAL_PURPOSE
    # shape, OAEI2011Matcher.java:209-231). The KG's parents are file
    # modules, which are never matched, so IISM boosts through its sibling
    # rule only, and a DSI parent blend would change no score.
    structural_boost: bool | str = False

    def __post_init__(self):
        if self.combination not in ("average", "lwc"):
            raise ValueError(
                f"PipelineConfig.combination={self.combination!r}: "
                "expected 'average' or 'lwc'"
            )
        # ``is``: 0 == False, so an ``in`` test would let 0 through
        if not (self.structural_boost is False
                or self.structural_boost == "iism"):
            raise ValueError(
                f"PipelineConfig.structural_boost={self.structural_boost!r}: "
                "expected False or 'iism'"
            )


# Bump when extraction/matcher/selection SEMANTICS change (anything that
# would make previously checkpointed stage rows non-reusable). An update
# refuses to reuse a store with a different fingerprint.
PIPELINE_CODE_VERSION = "r5"

# the previous snapshot's stages an update reads
REUSED_STAGES = ("triples", "prepared", "scored_pairs")


def config_fingerprint(cfg: "PipelineConfig") -> str:
    """sha256 over the result-affecting config fields + the code version —
    recorded in the store by ``KGPipeline.run`` and compared before an
    update reuses any checkpointed stage (a previous run produced by
    different matcher code/config would silently void the bit-identical
    rebuild invariant)."""
    import hashlib
    import json

    payload = json.dumps(
        {
            "code": PIPELINE_CODE_VERSION,
            "threshold": cfg.threshold,
            "max_block_pairs": MAX_BLOCK_PAIRS,
            "combination": cfg.combination,
            "topk_guard": TOPK_GUARD,
            "structural_boost": cfg.structural_boost,
            # the retired DSI mode's weight, kept so fingerprints stay valid
            "dsi_mcp": 0.75,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def combine_scores(pf: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    """(src_id, dst_id, src_uri, dst_uri, sim_bsm, sim_psm, sim_vmm) →
    + combined ``sim`` rounded to 12 decimals (LWC's per-source sums run
    in partition order and vary by ~1 ULP; rounding makes selection
    tie-breaks bit-stable across parallelism levels, SURVEY.md §4(d))."""
    sim_cols = ["sim_bsm", "sim_psm", "sim_vmm"]
    if cfg.combination == "lwc":
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


def apply_structural_boost(scored: DataFrame, src_e: DataFrame,
                           dst_e: DataFrame) -> DataFrame:
    """IISM refinement over the combined scores (SURVEY §7.9;
    OAEI2011Matcher.java:209-231 GENERAL_PURPOSE shape). Each side's
    parents are its entities' own file modules."""
    from ..operators.iism import iism

    def parents(e: DataFrame) -> DataFrame:
        return e.select(F.col("entity_id").alias("child_id"),
                        module_id_col().alias("parent_id"))

    boosted = iism(
        scored.select("src_id", "dst_id", "sim"), parents(src_e),
        parents(dst_e),
    ).select("src_id", "dst_id", F.col("sim_iism").alias("sim"))
    return scored.drop("sim").join(boosted, ["src_id", "dst_id"])


class KGPipeline:
    """Builds the KG of the corpus ``files`` into ``store``. With ``prev``,
    the store of the previous snapshot, the run is an update and its input
    is the diff: ``files`` are the added or changed files and ``deleted``
    the (repo, path) keys of the removed ones. The new corpus is the
    previous one minus every touched key (``files`` ∪ ``deleted``) plus
    ``files``, so a key in both is replaced, not removed. Triples and
    prepared rows of untouched files, and BSM/PSM scores of candidate pairs
    with no endpoint in a touched file, are read from ``prev``; only
    ``files`` are parsed and only the remaining pairs scored. Blocking,
    VMM and the tail run in full, so the output equals a build from
    scratch. ``store`` must then hold no pipeline stage of another run
    (the previous snapshot stays intact as the rollback point), and
    ``__init__`` refuses a ``prev`` that lacks a reused stage or was
    written under a different code/config fingerprint. The src/dst split
    is a per-repo ``side`` column on ``files`` or the generator's repo
    naming (see ``assign_side``).

    After a run, ``n_files`` is the number of files in the KG: the module
    rows of ``prepared`` (one per parsed file), observed on its write and
    counted by a job only when ``prepared`` was resumed. After an update,
    ``last_stats`` holds its reuse counts: files, changed files and
    candidate pairs, rescored pairs from an ``Observation`` on the write of
    ``scored_pairs``. It is None after a build, and after an update that
    resumed ``scored_pairs`` from ``store`` instead of computing it (the
    observation then never ran)."""

    def __init__(self, spark: SparkSession, store: CheckpointStore,
                 config: PipelineConfig | None = None,
                 prev: CheckpointStore | None = None):
        self.spark = spark
        self.store = store
        self.cfg = config or PipelineConfig()
        self.prev = prev
        # see the class docstring
        self.n_files: int | None = None
        self.last_stats: dict | None = None
        if prev is None:
            return
        missing = [s for s in REUSED_STAGES if not prev.is_complete(s)]
        if missing:
            raise ValueError(
                f"previous store is incomplete — missing stages {missing}; "
                "an update needs a finished KGPipeline run"
            )
        meta = prev.read_meta("pipeline")
        if meta is None or meta.get("fingerprint") != config_fingerprint(
            self.cfg
        ):
            raise ValueError(
                "previous store has no/mismatched code-config fingerprint — "
                "its checkpointed scores may come from different matcher "
                "semantics; rebuild it"
            )

    def _fingerprint(self) -> str:
        """The code/config fingerprint. A store written under another one
        fails fast here instead of silently mixing stages."""
        fp = config_fingerprint(self.cfg)
        old = self.store.read_meta("pipeline")
        if old is not None and old.get("fingerprint") != fp:
            raise ValueError(
                "checkpoint store was written with a different code/config "
                "fingerprint; resume with the original config or use a "
                "fresh store"
            )
        return fp

    def outputs(self) -> dict[str, DataFrame]:
        """The stage dict of the finished run in ``store``, read back from
        its committed stages (no job)."""
        self._fingerprint()
        st = self.store
        triples = st.read("triples")
        return {
            # not committed: a filter over the committed triples
            "mentions": mentions_from_triples(triples),
            "links": st.read("links"),
            "triples": triples,
            "entities": st.read("prepared"),
            "candidate_pairs": st.read("candidate_pairs"),
            "scored_pairs": st.read(
                "scored_boosted" if self.cfg.structural_boost
                else "scored_pairs"
            ),
            "alignment": st.read("alignment"),
            "nodes": st.read("nodes"),
            "edges": st.read("edges"),
        }

    def run(self, files: DataFrame,
            deleted: DataFrame | None = None) -> dict[str, DataFrame]:
        """Runs (or resumes) every stage and returns them by name. On an
        update, ``files`` and the (repo, path) keys ``deleted`` are the
        diff (see the class docstring); a build takes the whole corpus as
        ``files``, and ``deleted`` then names nothing."""
        cfg = self.cfg
        st = self.store
        prev = self.prev
        # fingerprint first, before any stage commits
        st.write_meta("pipeline", {"fingerprint": self._fingerprint()})

        # the files to parse: all of them, or on an update the diff,
        # committed so that its manifest counts the changed files
        parse = files
        if prev is not None:
            parse = st.stage("_changed_files", lambda: files)
            touched = parse.select("repo", "path")
            if deleted is not None:
                touched = touched.unionByName(deleted.select("repo", "path"))
            touched = F.broadcast(touched)

        def carried(stage: str, fresh: DataFrame) -> DataFrame:
            """``fresh`` plus, on an update, the previous rows of ``stage``
            of untouched files (the diff-sized touched keys are the
            broadcast side, so the previous rows do not shuffle)."""
            if prev is None:
                return fresh
            reused = prev.read(stage).join(touched, ["repo", "path"],
                                           "left_anti")
            return reused.unionByName(fresh.select(*reused.columns))

        triples = st.stage(
            "triples", lambda: carried("triples", extract_triples(parse))
        )

        # counts the KG's files (one module row each); attached only when
        # prepared is computed, not resumed
        modules: list[Observation] = []

        def _prepared():
            t = triples
            if prev is not None:
                # the changed files' triples are already in the 'triples'
                # stage: filter them back out rather than parse again (a
                # deleted file has none; the broadcast is the one that
                # ``carried`` reuses). Virtual docs are file-local, so they
                # see their full sibling set here.
                t = t.join(touched, ["repo", "path"], "left_semi")
            e = matchers.with_virtual_doc(
                matchers.prepare_entities(entities_from_triples(t))
            )
            modules.append(Observation("modules"))
            return carried("prepared", assign_side(e, parse)).observe(
                modules[0], F.count_if(F.col("kind") == "module").alias("n")
            )

        prepared = st.stage("prepared", _prepared, inputs=["triples"])

        # matching is kind-gated like the reference (classes vs properties,
        # AbstractMatcher.java:147-189): modules are KG nodes and linking
        # targets but never cross-matched
        matchable = prepared.filter(F.col("kind").isin("class", "function"))
        src_e = matchable.filter(F.col("side") == "src")
        dst_e = matchable.filter(F.col("side") == "dst")

        pairs = st.stage(
            "candidate_pairs",
            lambda: blocking.candidate_pairs(src_e, dst_e, MAX_BLOCK_PAIRS),
            inputs=["prepared"],
        )

        ids = ["src_id", "dst_id"]
        # counts the rescored pairs; attached only when scored_pairs is
        # computed, not resumed
        rescored: list[Observation] = []

        def _scored():
            fresh = pairs
            if prev is not None:
                # previous BSM/PSM rows still valid: the pair is a candidate
                # now and neither endpoint is an entity of a touched file
                # (an entity id hashes a uri that names its file, and a
                # deleted file has no entity left to pair)
                moved = F.broadcast(
                    prepared.join(touched, ["repo", "path"], "left_semi")
                    .select("entity_id")
                )
                reusable = (
                    prev.read("scored_pairs")
                    .select(*ids, "src_uri", "dst_uri", "sim_bsm", "sim_psm")
                    .join(moved.withColumnRenamed("entity_id", "src_id"),
                          "src_id", "left_anti")
                    .join(moved.withColumnRenamed("entity_id", "dst_id"),
                          "dst_id", "left_anti")
                    .join(pairs, ids, "left_semi")
                )
                fresh = pairs.join(reusable.select(*ids), ids, "left_anti")
            pf = matchers.psm(matchers.bsm(
                matchers.pairs_with_features(fresh, src_e, dst_e)
            )).select(
                *ids, F.col("s_uri").alias("src_uri"),
                F.col("d_uri").alias("dst_uri"), "sim_bsm", "sim_psm",
            )
            if prev is not None:
                # one row per fresh pair. AQE drops an input of a join it
                # finds empty together with any metrics inside it; an
                # observation directly under the union survives that
                rescored.append(Observation("rescored_pairs"))
                pf = reusable.unionByName(pf.observe(
                    rescored[0], F.count(F.lit(1)).alias("n")
                ))
            vm = matchers.vmm(pairs, src_e, dst_e)
            pf = pf.join(vm, ids, "left").fillna({"sim_vmm": 0.0})
            return combine_scores(pf, cfg)

        scored = st.stage("scored_pairs", _scored, inputs=["candidate_pairs"])

        if cfg.structural_boost:
            scored = st.stage(
                "scored_boosted",
                lambda: apply_structural_boost(scored, src_e, dst_e),
                inputs=["scored_pairs", "prepared"],
            )

        def _aligned():
            # guard: cap candidates per source before the iterative selection
            # (bounds the loop's working set at scale)
            guarded = selection.select_topk_per_src(
                scored, TOPK_GUARD, cfg.threshold
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

        # not committed: a filter over the committed triples
        mentions = mentions_from_triples(triples)
        links = st.stage(
            "links", lambda: link_mentions(mentions, prepared),
            inputs=["triples", "prepared"],
        )

        def _edges():
            """declares + resolved-import edges between canonical ids. Both
            start at the module of the row's own file, and a module's
            canonical id is its entity id: modules are never aligned
            (matching is kind-gated to classes and functions)."""
            lineage = ["repo", "path", "commit", "content_sha256"]
            decl = nodes.filter(F.col("kind") != "module").select(
                module_id_col().alias("src_canonical"),
                F.col("canonical_id").alias("dst_canonical"),
                F.lit("declares").alias("pred"), *lineage,
            )
            imp = (
                mentions.join(links, "mention_id")
                .join(nodes.select("entity_id", "canonical_id"), "entity_id")
                .select(
                    module_id_col().alias("src_canonical"),
                    F.col("canonical_id").alias("dst_canonical"),
                    F.lit("imports").alias("pred"), *lineage,
                )
            )
            return (
                decl.unionByName(imp)
                .withColumn("stage", F.lit("edges"))
                .withColumn("part_id", F.spark_partition_id())
            )

        edges = st.stage("edges", _edges, inputs=["nodes", "triples", "links"])

        self.n_files = (
            modules[0].get["n"] if modules
            else prepared.filter(F.col("kind") == "module").count()
        )
        self.last_stats = None
        if rescored:
            self.last_stats = {
                "n_files": self.n_files,
                "n_files_changed": st.rows("_changed_files"),
                "n_pairs": st.rows("candidate_pairs"),
                # pairs that could NOT reuse a previous BSM/PSM row — new
                # pairs plus pairs with an endpoint in a touched file
                "n_pairs_rescored": rescored[0].get["n"],
            }
        return self.outputs()
