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

  * A batch is handed to the update as its diff: the deduplicated upserts
    (committed as the diff-sized ``_changed_files`` stage) and the
    (repo, path) keys the batch touches. No per-batch write is
    corpus-sized; previous rows are reused minus a broadcast of the
    touched keys, so the corpus side does not shuffle.
  * Re-matching cost per batch is the update's: re-parse + re-score only
    what the file diff touches (pair-local reuse), global stages recompute
    on alignment-sized inputs.
  * Each version is one ``CheckpointStore`` that commits every pipeline
    stage as its own, so a kill at any stage boundary resumes from the
    last committed stage.
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
    """foreachBatch sink that hands each microbatch of file events, as its
    upserts and the keys it touches, to ``KGPipeline`` run against the
    previous snapshot's store (first batch: a full build of its upserts).

    After ``maintain()`` drains (availableNow), ``last_outputs`` holds the
    standard KGPipeline stage dict for the final corpus, ``prev_store`` the
    snapshot store it was built in (its ``prepared`` module rows are the
    corpus' files, one lineage row each), and ``history`` one record per
    batch (version, row counts, the update's reuse stats). Invariant
    (tested): ``last_outputs`` is bit-identical to a from-scratch
    ``KGPipeline.run`` on the same final corpus."""

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
        expose its committed stages as ``last_outputs``. The stream's own
        checkpoint (_stream_chk) makes the source re-deliver only undrained
        drops; a batch that died half-way is redelivered and resumes its
        own committed stages."""
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
                ).outputs()
                break

    # -- per-batch re-match -------------------------------------------------

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        from ..partitions import fan_parts

        t0 = time.time()
        spark = self.spark
        # last-writer-wins within the batch: the producer's seq is the
        # order; (repo, path) ties beyond seq cannot occur in a well-formed
        # log, and the rest of the event breaks them, so any two distinct
        # events are ordered and the batch does not depend on row order.
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
        # as a tombstone, deleting the file from the corpus on a malformed
        # event. Treat NULL as "not deleted".
        upserts = latest.filter(
            ~F.coalesce(F.col("deleted"), F.lit(False))
        ).select(*CORPUS_COLS)
        # the source's partitioning would otherwise be preserved: a
        # single-file bootstrap drop is a single split, and every stage of
        # the build would scan the corpus as ONE split
        upserts = upserts.repartition(min(fan_parts(upserts), 64))
        prev = self.prev_store

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
        pipe = KGPipeline(spark, store, self.cfg, prev=prev)
        # every key of the batch leaves the previous corpus, and comes back
        # if its latest event is an upsert: the removed keys are the raw
        # batch keys, with no last-writer-wins pass to run again
        out = pipe.run(upserts, batch_df.select("repo", "path"))
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
                "n_files": pipe.n_files,
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

    def maintain(self, src_stream: DataFrame, follow: bool = False) -> None:
        """Attach to a FILE_EVENT_SCHEMA stream (each producer drop = one
        snapshot with the default reader) and drain it availableNow, or
        with ``follow`` keep the query running on new drops until it
        stops or fails."""
        w = src_stream.writeStream.foreachBatch(
            lambda df, bid: self.apply_batch(df, bid)
        ).option(
            "checkpointLocation", os.path.join(self.work_dir, "_stream_chk")
        )
        if not follow:
            w = w.trigger(availableNow=True)
        w.start().awaitTermination()
