"""Streaming-KG-maintenance cost measurement: per-delta-batch wall vs a
from-scratch rebuild at a 10k-file corpus, the same harness shape as the r4
incremental measurement (c3f49b7) and tools/incremental_dedup_scale.py.

Drives streaming/kgstream.py for real (file-source drops, availableNow,
foreachBatch): one bootstrap drop (the full corpus) followed by DELTA
batches each rewriting ``diff_files`` files, then times a full KGPipeline
rebuild on the final corpus for the comparator. The maintainer's per-batch
walls come from its own history records. Steal share is printed per phase
per the repo's measurement protocol.

Usage: python tools/kgstream_scale.py [n_files] [n_delta_batches] [diff_files]
Defaults: 10000 2 50 (two 0.5%-diff batches). Prints one JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _read_steal_jiffies, _steal_pct  # noqa: E402
from ontologymatching_spark.corpus.generator import generate_corpus  # noqa: E402
from ontologymatching_spark.plans.checkpoint import CheckpointStore  # noqa: E402
from ontologymatching_spark.plans.pipeline import KGPipeline  # noqa: E402
from ontologymatching_spark.session import get_spark  # noqa: E402
from ontologymatching_spark.streaming.kgstream import (  # noqa: E402
    FILE_EVENT_SCHEMA,
    StreamingKGMaintainer,
    read_file_events,
)


def _write_drop(spark, pdf, src_dir: str, name: str) -> None:
    df = spark.createDataFrame(pdf, schema=FILE_EVENT_SCHEMA)
    tmp = tempfile.mkdtemp(prefix="kgsc_drop_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, os.path.join(src_dir, name))
    shutil.rmtree(tmp, ignore_errors=True)


def main(n_files: int, n_batches: int, diff_files: int) -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="kgstream-scale", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    v, _ = generate_corpus(n_repos=n_files // 40, files_per_repo=40, seed=42)
    src = tempfile.mkdtemp(prefix="kgsc_src_")
    work = tempfile.mkdtemp(prefix="kgsc_work_")

    ev = v.copy()
    ev["deleted"] = False
    ev["seq"] = range(len(ev))
    cols = ["repo", "path", "commit", "lang", "content", "deleted", "seq"]
    _write_drop(spark, ev[cols], src, "00_bootstrap.parquet")

    # each delta batch rewrites diff_files distinct files (deterministic
    # stride so batches never touch the same file twice)
    vb = v.copy()
    for b in range(n_batches):
        idx = vb.index[b * diff_files:(b + 1) * diff_files]
        vb.loc[idx, "content"] = (
            vb.loc[idx, "content"] + f"\nclass DeltaB{b}Marker {{\n}}\n"
        )
        delta = vb.loc[idx].copy()
        delta["deleted"] = False
        delta["seq"] = range((b + 1) * 10_000_000,
                             (b + 1) * 10_000_000 + len(delta))
        _write_drop(spark, delta[cols], src, f"{b + 1:02d}_delta.parquet")

    mt = StreamingKGMaintainer(spark, work)
    s0 = _read_steal_jiffies()
    t0 = time.time()
    mt.maintain(read_file_events(spark, src))
    drain_wall = time.time() - t0
    drain_steal = _steal_pct(s0, _read_steal_jiffies(), drain_wall)

    s0 = _read_steal_jiffies()
    t0 = time.time()
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgsc_full_"))
    ).run(spark.createDataFrame(vb))
    n_edges_full = full["edges"].count()
    full["alignment"].count()
    rebuild_wall = time.time() - t0
    rebuild_steal = _steal_pct(s0, _read_steal_jiffies(), rebuild_wall)

    assert n_edges_full == mt.history[-1]["n_edges"], (
        n_edges_full, mt.history[-1]["n_edges"],
    )

    print(json.dumps({
        "n_files": n_files,
        "n_delta_batches": n_batches,
        "diff_files_per_batch": diff_files,
        "bootstrap_wall_s": mt.history[0]["wall_s"],
        "delta_batch_walls_s": [h["wall_s"] for h in mt.history[1:]],
        "delta_batch_stats": [h["stats"] for h in mt.history[1:]],
        "drain_wall_s": round(drain_wall, 3),
        "drain_steal_pct": round(drain_steal, 1),
        "full_rebuild_wall_s": round(rebuild_wall, 3),
        "rebuild_steal_pct": round(rebuild_steal, 1),
        "n_edges": n_edges_full,
    }))
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    b = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    d = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    main(n, b, d)
