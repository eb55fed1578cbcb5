"""Compute-kernel scaling benchmark: the CPU-bound stages of the pipeline
(per-file extraction via mapInPandas, PSM AMSub+Edit scoring via pandas UDF)
on a FIXED input, at two parallelism levels.

Rationale (see BENCH.md): in local[N] mode all threads share one disk, one
memory bus and one JVM, so shuffle-bound stages cannot speed up 4x no matter
how they are written — on a real 4N-executor cluster each executor brings
its own disks/NIC and the shuffle scales with machines. The kernel benchmark
isolates the stages whose scaling local mode CAN measure.

Usage: python tools/kernel_scaling.py [prep|run <master>|both]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PREP_DIR = "/tmp/kernel_scaling_input"


def prep() -> None:
    """Materialize a fixed input once: src_files + candidate name pairs."""
    from ontologymatching_spark.corpus.generator import generate_corpus
    from ontologymatching_spark.operators import blocking, matchers
    from ontologymatching_spark.operators.extract import (
        entities_from_triples,
        extract_triples,
    )
    from ontologymatching_spark.plans.pipeline import assign_side
    from ontologymatching_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    src_files, _ = generate_corpus(n_repos=1000, files_per_repo=100, seed=42)
    sf = spark.createDataFrame(src_files).repartition(256)
    sf.write.mode("overwrite").parquet(f"{PREP_DIR}/src_files")

    e = matchers.prepare_entities(entities_from_triples(extract_triples(sf)))
    e = assign_side(matchers.with_virtual_doc(e), sf).filter(
        F.col("kind").isin("class", "function")
    )
    src_e = e.filter(F.col("side") == "src")
    dst_e = e.filter(F.col("side") == "dst")
    pairs = blocking.candidate_pairs(src_e, dst_e)
    feat = matchers.pairs_with_features(pairs, src_e, dst_e).select(
        "src_id", "dst_id", "s_local_name", "d_local_name",
        "s_norm_name", "d_norm_name",
    )
    feat.repartition(256).write.mode("overwrite").parquet(f"{PREP_DIR}/pairs")
    print("PREP done:", spark.read.parquet(f"{PREP_DIR}/pairs").count(), "pairs")
    spark.stop()


def run(master: str) -> None:
    from ontologymatching_spark.functions.spark_sims import amsub_edit_udf
    from ontologymatching_spark.operators.extract import extract_triples
    from ontologymatching_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(master=master)
    spark.sparkContext.setLogLevel("ERROR")
    sf = spark.read.parquet(f"{PREP_DIR}/src_files").cache()
    n_files = sf.count()
    pairs = spark.read.parquet(f"{PREP_DIR}/pairs").cache()
    n_pairs = pairs.count()

    t0 = time.time()
    n_triples = extract_triples(sf).count()
    t_extract = time.time() - t0

    t0 = time.time()
    scored = pairs.withColumn(
        "s1", amsub_edit_udf(F.col("s_local_name"), F.col("d_local_name"))
    ).withColumn("s2", amsub_edit_udf(F.col("s_norm_name"), F.col("d_norm_name")))
    chk = scored.agg(F.sum(F.col("s1") + F.col("s2"))).collect()[0][0]
    t_score = time.time() - t0

    print("RESULT " + json.dumps({
        "master": master, "files": n_files, "pairs": n_pairs,
        "extract_sec": round(t_extract, 2),
        "score_sec": round(t_score, 2),
        "triples": n_triples, "checksum": round(chk, 3),
        "extract_files_per_sec": round(n_files / t_extract, 1),
        "score_pairs_per_sec": round(n_pairs / t_score, 1),
    }))
    spark.stop()


def both() -> None:
    if not os.path.exists(f"{PREP_DIR}/pairs"):
        prep()
    results = {}
    for master in ("local[8]", "local[32]"):
        p = subprocess.run(
            [sys.executable, __file__, "run", master],
            capture_output=True, text=True, timeout=3000,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
        if not line:
            print(p.stdout[-2000:], p.stderr[-2000:])
            raise RuntimeError(master)
        results[master] = json.loads(line[-1][len("RESULT "):])
        print(results[master])
    r8, r32 = results["local[8]"], results["local[32]"]
    print("SCALING " + json.dumps({
        "extract_eff": round(r8["extract_sec"] / r32["extract_sec"] / 4, 3),
        "score_eff": round(r8["score_sec"] / r32["score_sec"] / 4, 3),
        "checksum_equal": r8["checksum"] == r32["checksum"],
        "triples_equal": r8["triples"] == r32["triples"],
    }))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "both"
    if cmd == "prep":
        prep()
    elif cmd == "run":
        run(sys.argv[2])
    else:
        both()
