"""spark-submit entry point for CONTINUOUS KG maintenance: drain (or keep
following) a directory of file-event drops and keep the knowledge graph
current via per-microbatch exact incremental re-matching
(streaming/kgstream.py).

Usage:
  python tools/make_pyfiles_zip.py          # build dist/ontologymatching_spark.zip
  spark-submit --py-files dist/ontologymatching_spark.zip \
      jobs/run_stream.py \
      --events <dir of FILE_EVENT_SCHEMA parquet drops> \
      --work <maintainer work dir (snapshot stores + stream checkpoint)> \
      [--threshold 0.6] [--structural-boost] [--max-files-per-trigger 1]
      [--follow]   # keep running instead of draining availableNow

Restart-safe: re-running with the same --work adopts the newest complete
snapshot and the stream checkpoint re-delivers only undrained drops.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--structural-boost", action="store_const",
                    const="iism", default=False,
                    help="refine the combined scores with IISM")
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument("--follow", action="store_true",
                    help="run a continuous query instead of draining")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ontologymatching_spark.plans.pipeline import PipelineConfig
    from ontologymatching_spark.session import get_spark
    from ontologymatching_spark.streaming.kgstream import (
        StreamingKGMaintainer,
        read_file_events,
    )

    spark = get_spark(app_name="kg-stream", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    cfg = PipelineConfig(
        threshold=args.threshold, structural_boost=args.structural_boost
    )
    mt = StreamingKGMaintainer(spark, args.work, config=cfg)
    stream = read_file_events(
        spark, args.events, max_files_per_trigger=args.max_files_per_trigger
    )
    mt.maintain(stream, follow=args.follow)
    for h in mt.history:
        print(json.dumps(h))
    if mt.last_outputs is not None:
        print(json.dumps({
            "final_version": mt.version,
            "store": mt.prev_store.root,
        }))


if __name__ == "__main__":
    main()
