"""Continuous KG maintenance: a stream of file upserts/tombstones drives
exact incremental re-matching, one snapshot store per microbatch.

The reference is batch-only — every invocation re-runs the full cartesian
matcher (AbstractMatcher.java:519-678); its only reuse hook reloads a WHOLE
serialized previous result (mappingEngine/persistance/PersistanceUtility.java)
rather than folding a delta. This module has no reference analog: it closes
the loop between the repo's two streaming-era capabilities —

  * Structured Streaming ingest (streaming/ingest.py), and
  * exact snapshot updates (``KGPipeline`` run against the previous
    snapshot's store, plans/pipeline.py, whose output is proven
    bit-identical to a from-scratch rebuild) —

so a changing code corpus (commits arriving as file upserts/deletes) keeps
a LIVE knowledge graph whose state after every microbatch equals the batch
KGPipeline run on the corpus as-of that batch. That invariant is what makes
the design honest: there is no "streaming approximation" to reason about,
only the batch semantics applied continuously.

Stream contract (one row per file event):

    repo string, path string, commit string, lang string, content string,
    deleted boolean, seq long

``deleted = true`` is a tombstone for (repo, path); ``seq`` is a
producer-side total order used only to resolve multiple events for the
same (repo, path) WITHIN one microbatch (last writer wins). Cross-batch
order is the stream's arrival order, as with any log-structured source.

Scale notes (100 TB story):

  * The fold (prev corpus ∖ batch keys ∪ batch upserts) is an anti-join
    keyed on (repo, path) with the diff-sized batch side broadcast, so the
    corpus side does not shuffle. It commits as the ``corpus`` stage of
    the version's store, which writes the whole folded corpus as a parquet
    overwrite. The per-batch write is therefore corpus-sized.
  * Re-matching cost per batch is the update's: re-parse + re-score only
    what the file diff touches (pair-local reuse), global stages recompute
    on alignment-sized inputs.
  * Each version is one ``CheckpointStore``: the folded corpus commits as
    its ``corpus`` stage, then every pipeline stage as its own, so a kill
    at any stage boundary resumes from the last committed stage.
  * Store retention is bounded (``retain``): the maintainer keeps the
    last N snapshot stores (the rollback window) and removes older ones.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.checkpoint import CheckpointStore
from ..plans.pipeline import KGPipeline, PipelineConfig

FILE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("seq", T.LongType()),
    ]
)

CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]


def read_file_events(spark: SparkSession, src_dir: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of FILE_EVENT_SCHEMA parquet drops. One drop file
    per microbatch by default so each producer chunk becomes one snapshot
    (drops must be written BY SPARK and time-ordered — the same file-source
    contract streaming/ingest.py documents)."""
    return (
        spark.readStream.schema(FILE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


class StreamingKGMaintainer:
    """foreachBatch sink that folds each microbatch of file events into the
    maintained corpus and re-matches it with ``KGPipeline`` against the
    previous snapshot's store (first batch: a full build).

    After ``maintain()`` drains (availableNow), ``last_outputs`` holds the
    standard KGPipeline stage dict for the final corpus, ``prev_store`` the
    snapshot store it was built in (its ``corpus`` stage is the folded
    corpus), and ``history`` one record per batch (version, row counts, the
    update's reuse stats). Invariant (tested): ``last_outputs`` is
    bit-identical to a from-scratch ``KGPipeline.run`` on the same final
    corpus."""

    def __init__(self, spark: SparkSession, work_dir: str,
                 config: PipelineConfig | None = None, retain: int = 2):
        self.spark = spark
        self.work_dir = work_dir
        self.cfg = config or PipelineConfig()
        self.retain = max(2, retain)
        self.version = -1
        self.prev_store: CheckpointStore | None = None
        self.last_outputs: dict[str, DataFrame] | None = None
        self.history: list[dict] = []
        os.makedirs(work_dir, exist_ok=True)
        self._recover()

    def _store_path(self, version: int) -> str:
        return os.path.join(self.work_dir, f"store_v{version:05d}")

    def _recover(self) -> None:
        """Kill-and-restart resume: adopt the newest COMPLETE snapshot left
        in work_dir (``edges``, the last stage, committed), so a restarted
        maintainer continues incrementally instead of re-bootstrapping, and
        expose it as ``last_outputs`` (every stage resumes, so that run
        only reads). The stream's own checkpoint (_stream_chk) makes the
        source re-deliver only undrained drops; a batch that died half-way
        is redelivered and resumes its own committed stages."""
        versions = sorted(
            int(d[len("store_v"):])
            for d in os.listdir(self.work_dir)
            if d.startswith("store_v")
        )
        for v in reversed(versions):
            store = CheckpointStore(self.spark, self._store_path(v))
            if store.is_complete("edges"):
                self.version = v
                self.prev_store = store
                self.last_outputs = KGPipeline(
                    self.spark, store, self.cfg
                ).run(store.read("corpus"))
                break

    # -- per-batch fold + re-match -----------------------------------------

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.time()
        spark = self.spark
        # last-writer-wins within the batch: the producer's seq is the
        # order; (repo, path) ties beyond seq cannot occur in a well-formed
        # log, and the rest of the event breaks them, so any two distinct
        # events are ordered and the fold does not depend on row order.
        w = Window.partitionBy("repo", "path").orderBy(
            F.col("seq").desc(), F.col("commit").desc(),
            F.col("deleted").desc(), F.col("lang").desc(),
            F.sha2(F.col("content"), 256).desc(),
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # a NULL deleted flag (the schema is nullable) must not silently act
        # as a tombstone: ~NULL filters the row out of upserts while its key
        # still drives the anti-join, deleting the file from the corpus on a
        # malformed event (ADVICE r05). Treat NULL as "not deleted".
        upserts = latest.filter(
            ~F.coalesce(F.col("deleted"), F.lit(False))
        ).select(*CORPUS_COLS)
        keys = latest.select("repo", "path")
        prev = self.prev_store

        def _fold():
            from ..partitions import fan_parts

            if prev is None:
                new_corpus = upserts
            else:
                # batch side is diff-sized: broadcast it into the anti-join
                # so the corpus side never shuffles
                new_corpus = prev.read("corpus").join(
                    F.broadcast(keys), ["repo", "path"], "left_anti"
                ).unionByName(upserts)
            # multi-file snapshot: the source's partitioning would otherwise
            # be preserved (a single-file bootstrap drop → a single part
            # file → every downstream pipeline read scans the corpus as ONE
            # split, the round-3 single-file trap — ADVICE r05)
            return new_corpus.repartition(min(fan_parts(new_corpus), 64))

        version = self.version + 1
        root = self._store_path(version)
        store = CheckpointStore(spark, root)
        # a half-written store of this version resumes only for the batch
        # that wrote it (a foreachBatch redelivery keeps its id); any other
        # batch starts it empty rather than mix in that batch's stages
        if (store.read_meta("batch") or {}).get("batch_id") != batch_id:
            shutil.rmtree(root)
            store = CheckpointStore(spark, root)
            store.write_meta("batch", {"batch_id": batch_id})
        corpus = store.stage("corpus", _fold)
        pipe = KGPipeline(spark, store, self.cfg, prev=prev)
        out = pipe.run(corpus)
        # every stage, the tail (alignment/edges) included, is committed by
        # st.stage before run() returns, so a crash between batches resumes
        # from a complete snapshot; the row counts come from the manifests

        self.version = version
        self.prev_store = store
        self.last_outputs = out
        self.history.append(
            {
                "batch_id": batch_id,
                "version": version,
                "n_files": store.rows("corpus"),
                "n_alignment": store.rows("alignment"),
                "n_edges": store.rows("edges"),
                "stats": pipe.last_stats,
                "wall_s": round(time.time() - t0, 3),
            }
        )
        self._prune()

    def _prune(self) -> None:
        """Keep the last ``retain`` snapshot stores (the rollback window);
        the stream's total disk use stays bounded regardless of how many
        batches have run."""
        for v in range(self.version - self.retain + 1):
            shutil.rmtree(self._store_path(v), ignore_errors=True)

    # -- drive ---------------------------------------------------------------

    def maintain(self, src_stream: DataFrame,
                 await_termination: bool = True):
        """Attach to a FILE_EVENT_SCHEMA stream and drain it availableNow
        (each producer drop = one snapshot with the default reader). For a
        long-lived continuous job, pass a stream without availableNow
        semantics and keep the returned query running."""
        q = (
            src_stream.writeStream.foreachBatch(
                lambda df, bid: self.apply_batch(df, bid)
            )
            .option(
                "checkpointLocation",
                os.path.join(self.work_dir, "_stream_chk"),
            )
            .trigger(availableNow=True)
            .start()
        )
        if await_termination:
            q.awaitTermination()
        return q
