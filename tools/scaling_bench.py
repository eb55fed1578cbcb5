"""Two-cluster-size scaling evidence (BASELINE.md): run the SAME KG-pipeline
job on the SAME input at two parallelism levels (local[N] and local[4N] —
the sandbox stand-in for N and 4N executors, per driver instruction) and
report throughput at both plus scaling efficiency = (T_N / T_4N) / 4.

Usage:
  python tools/scaling_bench.py run <master> <n_repos> <files_per_repo>  # one level (child)
  python tools/scaling_bench.py [n_repos] [files_per_repo]               # both + efficiency
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_one(master: str, n_repos: int, files_per_repo: int) -> None:
    from ontologymatching_spark.corpus.generator import generate_corpus
    from ontologymatching_spark.plans.checkpoint import CheckpointStore
    from ontologymatching_spark.plans.pipeline import KGPipeline
    from ontologymatching_spark.session import get_spark

    spark = get_spark(app_name=f"scaling-{master}", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    src_files, _ = generate_corpus(n_repos=n_repos, files_per_repo=files_per_repo,
                                   seed=42)
    cpus = int(master[len("local["):-1])
    sf = spark.createDataFrame(src_files).repartition(4 * cpus).cache()
    n_files = sf.count()

    t0 = time.time()
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix=f"scale_{cpus}_"))
    out = KGPipeline(spark, store).run(sf)
    n_triples = out["triples"].count()
    n_align = out["alignment"].count()
    wall = time.time() - t0
    stages = {}
    for s in ["triples", "prepared", "candidate_pairs", "scored_pairs",
              "alignment", "nodes", "links", "edges"]:
        try:
            m = store.manifest(s)
            stages[s] = {"wall_sec": m.get("wall_sec"),
                         "mb": round(m.get("bytes", 0) / 1e6, 1)}
        except FileNotFoundError:
            pass
    print("RESULT " + json.dumps({
        "master": master, "files": n_files, "triples": n_triples,
        "alignments": n_align, "wall_sec": round(wall, 2),
        "triples_per_sec": round(n_triples / wall, 1),
        "stages": stages,
    }))


def run_both(n_repos: int, files_per_repo: int,
             masters: tuple[str, str] = ("local[8]", "local[32]")) -> dict:
    m_n, m_4n = masters
    results = {}
    for master in masters:
        p = subprocess.run(
            [sys.executable, __file__, "run", master, str(n_repos),
             str(files_per_repo)],
            capture_output=True, text=True, timeout=3600,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
        if not line:
            print(p.stdout[-3000:], p.stderr[-3000:])
            raise RuntimeError(f"no RESULT from {master}")
        results[master] = json.loads(line[-1][len("RESULT "):])
        print(results[master])
    t_n = results[m_n]["wall_sec"]
    t_4n = results[m_4n]["wall_sec"]
    eff = (t_n / t_4n) / 4
    summary = {
        "master_n": m_n,
        "master_4n": m_4n,
        "t_n_sec": t_n,
        "t_4n_sec": t_4n,
        "speedup_n_to_4n": round(t_n / t_4n, 3),
        "scaling_efficiency": round(eff, 3),
        "throughput_n": results[m_n]["triples_per_sec"],
        "throughput_4n": results[m_4n]["triples_per_sec"],
        "triples": results[m_4n]["triples"],
        "files": results[m_4n]["files"],
    }
    print("SCALING " + json.dumps(summary))
    return summary


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        run_one(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    else:
        n_repos = int(sys.argv[1]) if len(sys.argv) > 1 else 200
        fpr = int(sys.argv[2]) if len(sys.argv) > 2 else 30
        masters = (sys.argv[3], sys.argv[4]) if len(sys.argv) > 4 else (
            "local[8]", "local[32]")
        run_both(n_repos, fpr, masters)
