"""Continuous KG maintenance: a stream of file upserts/tombstones drives
exact incremental re-matching, one corpus snapshot per microbatch.

The reference is batch-only — every invocation re-runs the full cartesian
matcher (AbstractMatcher.java:519-678); its only reuse hook reloads a WHOLE
serialized previous result (mappingEngine/persistance/PersistanceUtility.java)
rather than folding a delta. This module has no reference analog: it closes
the loop between the repo's two streaming-era capabilities —

  * Structured Streaming ingest (streaming/ingest.py), and
  * exact incremental snapshot re-matching (plans/incremental.py, whose
    output is proven bit-identical to a from-scratch rebuild) —

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

  * The fold (prev corpus ∖ batch keys ∪ batch upserts) is a shuffle
    anti-join keyed on (repo, path) — the batch side is diff-sized and
    broadcastable; only the corpus rewrite is corpus-sized. Locally it is
    a parquet rewrite; on a cluster the same fold is ONE Iceberg
    ``MERGE``/row-level-delete commit (the checkpoint store already
    supports fmt="iceberg"), so the per-batch write cost is diff-sized,
    not corpus-sized.
  * Re-matching cost per batch is the incremental plan's: re-parse +
    re-score only what the file diff touches (pair-local reuse), global
    stages recompute on alignment-sized inputs.
  * Store retention is bounded (``retain``): the maintainer keeps the
    last N snapshot stores (the rollback window) and removes older ones.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.checkpoint import CheckpointStore
from ..plans.incremental import IncrementalKGPipeline
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
# the columns of a corpus snapshot, read back without schema inference
CORPUS_SCHEMA = T.StructType(
    [f for f in FILE_EVENT_SCHEMA.fields if f.name in CORPUS_COLS]
)


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
    maintained corpus and re-matches it with IncrementalKGPipeline (first
    batch: full KGPipeline bootstrap).

    After ``maintain()`` drains (availableNow), ``last_outputs`` holds the
    standard KGPipeline stage dict for the final corpus, ``corpus_path``
    the corpus snapshot it was built from, and ``history`` one record per
    batch (version, row counts, incremental-reuse stats when enabled).
    Invariant (tested): ``last_outputs`` is bit-identical to a from-scratch
    ``KGPipeline.run`` on the same final corpus."""

    def __init__(self, spark: SparkSession, work_dir: str,
                 config: PipelineConfig | None = None,
                 with_stats: bool = False, retain: int = 2):
        self.spark = spark
        self.work_dir = work_dir
        self.cfg = config or PipelineConfig()
        self.with_stats = with_stats
        self.retain = max(2, retain)
        self.version = -1
        self.prev_store: CheckpointStore | None = None
        self.corpus_path: str | None = None
        self.last_outputs: dict[str, DataFrame] | None = None
        self.history: list[dict] = []
        os.makedirs(work_dir, exist_ok=True)
        self._recover()

    def _recover(self) -> None:
        """Kill-and-restart resume: adopt the newest COMPLETE snapshot left
        in work_dir (corpus written + every reused stage checkpointed), so
        a restarted maintainer continues incrementally instead of
        re-bootstrapping; the stream's own checkpoint (_stream_chk) makes
        the source re-deliver only undrained drops."""
        from ..plans.incremental import REUSED_STAGES

        versions = sorted(
            int(d[len("store_v"):])
            for d in os.listdir(self.work_dir)
            if d.startswith("store_v")
        )
        for v in reversed(versions):
            cpath = os.path.join(self.work_dir, f"corpus_v{v:05d}")
            store = CheckpointStore(
                self.spark, os.path.join(self.work_dir, f"store_v{v:05d}")
            )
            if os.path.exists(cpath) and all(
                store.is_complete(s) for s in REUSED_STAGES
            ):
                self.version = v
                self.corpus_path = cpath
                self.prev_store = store
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

        if self.corpus_path is None:
            new_corpus = upserts
        else:
            prev_corpus = spark.read.schema(CORPUS_SCHEMA).parquet(
                self.corpus_path
            )
            # batch side is diff-sized: broadcast it into the anti-join so
            # the corpus side never shuffles (on a cluster this fold is one
            # Iceberg MERGE commit instead of a parquet rewrite)
            new_corpus = prev_corpus.join(
                F.broadcast(keys), ["repo", "path"], "left_anti"
            ).unionByName(upserts)

        self.version += 1
        cpath = os.path.join(self.work_dir, f"corpus_v{self.version:05d}")
        # multi-file snapshot: the source's partitioning would otherwise be
        # preserved (a single-file bootstrap drop → a single part file →
        # every downstream pipeline read scans the corpus as ONE split, the
        # round-3 single-file trap — ADVICE r05)
        from ..partitions import fan_parts

        n_files = Observation("corpus")
        new_corpus.repartition(min(fan_parts(new_corpus), 64)).observe(
            n_files, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(cpath)
        corpus = spark.read.schema(CORPUS_SCHEMA).parquet(cpath)

        store = CheckpointStore(
            spark, os.path.join(self.work_dir, f"store_v{self.version:05d}")
        )
        stats = None
        if self.prev_store is None:
            out = KGPipeline(spark, store, self.cfg).run(corpus)
        else:
            pipe = IncrementalKGPipeline(
                spark, self.prev_store, store, self.cfg
            )
            out = pipe.run(corpus, with_stats=self.with_stats)
            stats = pipe.last_stats
        # every stage, the tail (alignment/edges) included, is committed by
        # st.stage before run() returns, so a crash between batches resumes
        # from a complete snapshot; the row counts come from the manifests

        self.corpus_path = cpath
        self.prev_store = store
        self.last_outputs = out
        self.history.append(
            {
                "batch_id": batch_id,
                "version": self.version,
                "n_files": n_files.get["n"],
                "n_alignment": store.rows("alignment"),
                "n_edges": store.rows("edges"),
                "stats": stats,
                "wall_s": round(time.time() - t0, 3),
            }
        )
        self._prune()

    def _prune(self) -> None:
        """Keep the last ``retain`` snapshot stores + corpora (the rollback
        window); the stream's total disk use stays bounded regardless of
        how many batches have run."""
        floor = self.version - self.retain
        for v in range(floor + 1):
            for prefix in ("store_v", "corpus_v"):
                p = os.path.join(self.work_dir, f"{prefix}{v:05d}")
                if os.path.exists(p):
                    shutil.rmtree(p, ignore_errors=True)

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
