"""Incremental dedup / ANN index maintenance — the file-local-reuse
principle of ``KGPipeline``'s snapshot updates extended to the LLM-data-pipeline
operators (VERDICT r04 next-round #7: "the missing piece of the 100-TB
incremental story"). Between two corpus snapshots almost every document and
embedding is unchanged, and the expensive halves of dedup/ANN are
*item-local*:

- A MinHash signature is a pure deterministic function of one document's
  text (shingle → md5 → 16 permuted mins): REUSED for every doc whose
  (doc_id, text_sha256) lineage is unchanged, computed fresh only for the
  diff. The band-key equi-join, est-Jaccard filter and connected-components
  clustering are GLOBAL and recompute from the merged signature table —
  they are the cheap half (narrow band keys, alignment-sized edges), and
  because signatures are deterministic per doc the incremental output is
  BIT-IDENTICAL to a from-scratch rebuild (tested across
  modify/add/delete).

- An IVF cell assignment is vector-local *given the centroid table*
  (operators/ann.py ``ivf_assign``), but the centroids themselves are a
  global statistic. Reuse is therefore GATED on diff size (the FAISS-style
  "retrain on a cadence" tradeoff): below ``rebuild_frac`` the previous
  centroids are kept — unchanged vectors keep their assignment rows
  bit-exactly, only the diff re-assigns, and ``index_rebuilt=False`` is
  recorded so the staleness is observable — while at/above the gate the
  index rebuilds from scratch and the result is bit-identical to a fresh
  build. Either way the probe/top-k tail (``ivf_probe_topk``) recomputes
  fully: the candidate pair set depends on every cell's membership.

Why this is the 100-TB story: the reused fraction (shingling + 16 hash
passes per doc; the quantized-dot assignment scan per vector) is exactly
what dominates at scale, while everything recomputed is either narrow
(band keys, cell ids) or output-sized. The same store/manifest protocol as
the KG pipeline makes each snapshot a resumable, roll-back-able commit.

No reference analog: the reference is batch-only; the dedup/ANN operators
themselves cite their sources in operators/dedup.py and operators/ann.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import components
from ..operators.ann import ivf_assign, ivf_probe_topk, ivf_train_centroids
from ..operators.dedup import minhash_pairs_from_sigs
from .checkpoint import CheckpointStore

DOC_LINEAGE = ["doc_id", "text_sha256"]
VEC_LINEAGE = ["vec_id", "emb_sha256"]

# bump when signature/assignment SEMANTICS change (reuse across versions
# would silently void the bit-identical invariants)
DEDUP_CODE_VERSION = "r5"


def _doc_lineage_col():
    return F.sha2(F.col("text"), 256).alias("text_sha256")


def _vec_lineage_col():
    # deterministic text rendering of the float array — engine-stable
    # within Spark (both sides of every comparison here are Spark)
    return F.sha2(
        F.concat_ws(
            ",", F.transform(F.col("embedding"), lambda x: x.cast("string"))
        ),
        256,
    ).alias("emb_sha256")


def minhash_sigs_with_lineage(docs: DataFrame,
                              text_col: str = "text") -> DataFrame:
    """→ (doc_id, text_sha256, sig0..sig15): the DOC-LOCAL half of MinHash
    dedup, carrying the lineage key that decides reuse."""
    from .. import benchqueries as B

    d = docs.select("doc_id", F.col(text_col).alias("text"))
    sigs = B._minhash_sigs(d)
    sha = d.select("doc_id", _doc_lineage_col())
    return sigs.join(sha, "doc_id")


def _fingerprint(params: dict) -> dict:
    return {"code": DEDUP_CODE_VERSION, **params}


class IncrementalDedupPlan:
    """Checkpointed MinHash-dedup and IVF-index maintenance over corpus
    snapshots. ``full_*`` builds a store from scratch (the bootstrap AND
    the rebuild comparator); ``run_*`` reuses a previous snapshot's store.
    Reuse stats land on ``self.last_stats`` (dict), never in the returned
    stage mapping — same contract as ``KGPipeline`` with ``prev``: they
    come from stage manifests and from an ``Observation`` on the write of
    ``mh_sigs``, so they cost no extra job, and ``run_minhash`` leaves
    them None when it resumes ``mh_sigs`` instead of computing it."""

    def __init__(self, spark: SparkSession, store: CheckpointStore,
                 prev_store: CheckpointStore | None = None):
        self.spark = spark
        self.store = store
        self.prev = prev_store
        self.last_stats: dict | None = None

    # -- shared helpers -----------------------------------------------------

    def _require_prev(self, stages: list[str], meta_name: str,
                      params: dict) -> None:
        if self.prev is None:
            raise ValueError("prev_store required for incremental run")
        missing = [s for s in stages if not self.prev.is_complete(s)]
        if missing:
            raise ValueError(
                f"previous store is incomplete — missing stages {missing}"
            )
        meta = self.prev.read_meta(meta_name)
        want = _fingerprint(params)
        if meta != want:
            raise ValueError(
                f"previous store {meta_name} fingerprint mismatch "
                f"({meta} != {want}) — signatures/assignments from "
                "different parameters are not reusable; rebuild"
            )

    # -- MinHash dedup ------------------------------------------------------

    _MH_PARAMS = dict(n_sigs=16, band_rows=4)

    def _minhash_tail(self, sigs: DataFrame,
                      est_min: float) -> dict[str, DataFrame]:
        """Global stages from a (merged) signature table — one code path for
        full build and incremental, so equality is structural."""
        st = self.store
        pairs = st.stage(
            "mh_pairs",
            lambda: minhash_pairs_from_sigs(
                sigs.drop("text_sha256"), est_min=est_min, **self._MH_PARAMS
            ),
            inputs=["mh_sigs"],
        )
        clusters = st.stage(
            "mh_clusters",
            lambda: components.connected_components(
                pairs, src_col="doc_a", dst_col="doc_b"
            ).withColumnRenamed("entity_id", "doc_id"),
            inputs=["mh_pairs"],
        )
        return {"mh_sigs": sigs, "mh_pairs": pairs, "mh_clusters": clusters}

    def full_minhash(self, docs: DataFrame, text_col: str = "text",
                     est_min: float = 0.75) -> dict[str, DataFrame]:
        st = self.store
        st.write_meta("dedup_minhash",
                      _fingerprint({**self._MH_PARAMS, "est_min": est_min}))
        sigs = st.stage(
            "mh_sigs", lambda: minhash_sigs_with_lineage(docs, text_col)
        )
        self.last_stats = None
        return self._minhash_tail(sigs, est_min)

    def run_minhash(self, docs_v2: DataFrame, text_col: str = "text",
                    est_min: float = 0.75) -> dict[str, DataFrame]:
        params = {**self._MH_PARAMS, "est_min": est_min}
        self._require_prev(["mh_sigs"], "dedup_minhash", params)
        st, prev = self.store, self.prev
        st.write_meta("dedup_minhash", _fingerprint(params))

        d = docs_v2.select("doc_id", F.col(text_col).alias("text"))
        v2_lin = st.stage(
            "_mh_v2_lineage", lambda: d.select("doc_id", _doc_lineage_col())
        )
        # counts the reused signatures; attached only when mh_sigs is
        # computed, not resumed
        reused_obs: list[Observation] = []

        def _sigs():
            prev_sigs = prev.read("mh_sigs")
            # reuse: same doc_id AND same text; docs deleted in v2 fail the
            # semi-join; docs changed or added land in the fresh branch
            reused = prev_sigs.join(v2_lin, DOC_LINEAGE, "left_semi")
            changed = d.join(
                v2_lin.join(
                    prev_sigs.select(*DOC_LINEAGE), DOC_LINEAGE, "left_anti"
                ).select("doc_id"),
                "doc_id", "left_semi",
            )
            fresh = minhash_sigs_with_lineage(changed, "text")
            # directly under the union: AQE drops an observation inside a
            # join input it finds empty, but not one here
            reused_obs.append(Observation("mh_sigs_reused"))
            return reused.observe(
                reused_obs[0], F.count(F.lit(1)).alias("n")
            ).unionByName(fresh.select(*reused.columns))

        sigs = st.stage("mh_sigs", _sigs)
        out = self._minhash_tail(sigs, est_min)

        self.last_stats = None
        if reused_obs:
            n_docs = st.rows("_mh_v2_lineage")
            n_reused = reused_obs[0].get["n"]
            self.last_stats = {
                "n_docs": n_docs,
                "n_sigs_reused": n_reused,
                "n_docs_changed": n_docs - n_reused,
            }
        return out

    # -- IVF index maintenance ---------------------------------------------

    def _ivf_params(self, n_centroids, nprobe, grid_bits):
        return dict(n_centroids=n_centroids, nprobe=nprobe,
                    grid_bits=grid_bits)

    def _ivf_tail(self, vectors: DataFrame, ranked: DataFrame, k: int,
                  n_salt: int) -> DataFrame:
        return self.store.stage(
            "ivf_topk",
            lambda: ivf_probe_topk(vectors, ranked.drop("emb_sha256"),
                                   k=k, n_salt=n_salt),
            inputs=["ivf_assign"],
        )

    def full_ivf(self, vectors: DataFrame, k: int = 10, n_centroids: int = 8,
                 nprobe: int = 2, n_iter: int = 3, sample: int = 128,
                 grid_bits: int = 20, n_salt: int = 8) -> dict[str, DataFrame]:
        st = self.store
        st.write_meta(
            "dedup_ivf",
            _fingerprint(self._ivf_params(n_centroids, nprobe, grid_bits)),
        )
        centroids = st.stage(
            "ivf_centroids",
            lambda: ivf_train_centroids(
                vectors, n_centroids=n_centroids, n_iter=n_iter,
                sample=sample, grid_bits=grid_bits,
            ),
        )
        lin = vectors.select("vec_id", _vec_lineage_col())
        assign = st.stage(
            "ivf_assign",
            lambda: ivf_assign(
                vectors, centroids, nprobe=nprobe, grid_bits=grid_bits
            ).join(lin, "vec_id"),
            inputs=["ivf_centroids"],
        )
        self.last_stats = None
        return {
            "ivf_centroids": centroids,
            "ivf_assign": assign,
            "ivf_topk": self._ivf_tail(vectors, assign, k, n_salt),
        }

    def run_ivf(self, vectors_v2: DataFrame, k: int = 10,
                n_centroids: int = 8, nprobe: int = 2, n_iter: int = 3,
                sample: int = 128, grid_bits: int = 20, n_salt: int = 8,
                rebuild_frac: float = 0.5) -> dict[str, DataFrame]:
        """Diff fraction ≥ ``rebuild_frac`` → full retrain (bit-identical to
        ``full_ivf`` on v2). Below it the previous centroids are kept:
        unchanged vectors reuse their assignment rows bit-exactly, the diff
        re-assigns against the OLD centroids, and the staleness is recorded
        (``index_rebuilt=False``) — the result is bit-identical to
        re-running assignment+probe of the whole v2 corpus against the
        previous centroid table (tested)."""
        params = self._ivf_params(n_centroids, nprobe, grid_bits)
        self._require_prev(
            ["ivf_centroids", "ivf_assign"], "dedup_ivf", params
        )
        st, prev = self.store, self.prev

        v2_lin = st.stage(
            "_ivf_v2_lineage",
            lambda: vectors_v2.select("vec_id", _vec_lineage_col()),
        )
        prev_lin = prev.read("ivf_assign").select(*VEC_LINEAGE).dropDuplicates(
            VEC_LINEAGE
        )
        # vectors whose (vec_id, emb_sha256) is new: committed once, read
        # for the count (from the manifest) and for the re-assignment
        changed_lin = st.stage(
            "_ivf_changed",
            lambda: v2_lin.join(prev_lin, VEC_LINEAGE, "left_anti"),
            inputs=["_ivf_v2_lineage"],
        )
        n_total = st.rows("_ivf_v2_lineage")
        n_changed = st.rows("_ivf_changed")
        rebuild = n_total == 0 or (n_changed / n_total) >= rebuild_frac

        if rebuild:
            out = self.full_ivf(
                vectors_v2, k=k, n_centroids=n_centroids, nprobe=nprobe,
                n_iter=n_iter, sample=sample, grid_bits=grid_bits,
                n_salt=n_salt,
            )
        else:
            st.write_meta("dedup_ivf", _fingerprint(params))
            centroids = st.stage(
                "ivf_centroids", lambda: prev.read("ivf_centroids")
            )

            def _assign():
                reused = prev.read("ivf_assign").join(
                    v2_lin, VEC_LINEAGE, "left_semi"
                )
                changed = vectors_v2.join(
                    changed_lin.select("vec_id"), "vec_id", "left_semi"
                )
                lin = changed.select("vec_id", _vec_lineage_col())
                fresh = ivf_assign(
                    changed, centroids, nprobe=nprobe, grid_bits=grid_bits
                ).join(lin, "vec_id")
                return reused.unionByName(fresh.select(*reused.columns))

            assign = st.stage("ivf_assign", _assign,
                              inputs=["ivf_centroids"])
            out = {
                "ivf_centroids": centroids,
                "ivf_assign": assign,
                "ivf_topk": self._ivf_tail(vectors_v2, assign, k, n_salt),
            }

        self.last_stats = {
            "n_vectors": n_total,
            "n_vectors_changed": n_changed,
            "index_rebuilt": rebuild,
            "n_assign_reused": 0 if rebuild else n_total - n_changed,
        }
        return out
