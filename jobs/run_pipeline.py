"""spark-submit entry point for the KG-construction pipeline (north rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage:
  python tools/make_pyfiles_zip.py            # build dist/ontologymatching_spark.zip
  spark-submit --py-files dist/ontologymatching_spark.zip \
      jobs/run_pipeline.py \
      --src <src_files parquet path> \
      --checkpoints <stage-snapshot dir> \
      [--threshold 0.6] [--structural-boost] [--synthetic N_REPOS FILES_PER_REPO]

On a cluster, pass --master/--num-executors etc. to spark-submit; the job
itself only sets query-level configs (AQE, Arrow, shuffle partitions come
from the session factory / spark-submit conf).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# running bare (`python jobs/run_pipeline.py`) puts jobs/ at sys.path[0];
# fall back to the repo root so the package resolves without --py-files
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", help="src_files table path (parquet)")
    ap.add_argument("--checkpoints", required=True)
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--structural-boost", action="store_const",
                    const="iism", default=False,
                    help="refine the combined scores with IISM")
    ap.add_argument("--synthetic", nargs=2, type=int, metavar=("REPOS", "FPR"),
                    help="generate a synthetic corpus instead of --src")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ontologymatching_spark.plans.checkpoint import CheckpointStore
    from ontologymatching_spark.plans.pipeline import KGPipeline, PipelineConfig
    from ontologymatching_spark.session import get_spark

    spark = get_spark(app_name="kg-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from ontologymatching_spark.corpus.generator import generate_corpus

        pdf, _ = generate_corpus(n_repos=args.synthetic[0],
                                 files_per_repo=args.synthetic[1])
        src = spark.createDataFrame(pdf)
    elif args.src:
        src = spark.read.parquet(args.src)
    else:
        ap.error("one of --src / --synthetic required")

    cfg = PipelineConfig(
        threshold=args.threshold, structural_boost=args.structural_boost
    )
    t0 = time.time()
    store = CheckpointStore(spark, args.checkpoints)
    KGPipeline(spark, store, cfg).run(src)
    # stage row counts come from the manifests; only the input is counted
    stats = {
        "files": src.count(),
        "triples": store.rows("triples"),
        "entities": store.rows("prepared"),
        "candidate_pairs": store.rows("candidate_pairs"),
        "alignments": store.rows("alignment"),
        "nodes": store.rows("nodes"),
        "edges": store.rows("edges"),
        "links": store.rows("links"),
        "wall_sec": round(time.time() - t0, 2),
    }
    stats["triples_per_sec"] = round(stats["triples"] / stats["wall_sec"], 1)
    print(json.dumps(stats))


if __name__ == "__main__":
    sys.exit(main())
