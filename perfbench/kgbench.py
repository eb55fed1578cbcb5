"""KG-construction benchmark: one workload per process, closed loop.

Run through the launcher, from the root of a checkout:

    python3 perfbench/run.py --workload update --seed 1 --seconds 15 --trace 0

One client drives the engine on ``local[N]`` (N = cores). Each build or
batch starts only after the previous one has committed. The last line of
standard output is the result object; everything else goes to standard
error and to ``.perfbench_out/``. README.md in this directory explains the
workloads, the metrics and the layers they map to.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

# set-up time starts before the engine and Spark are imported
T_START = time.perf_counter()

import numpy as np  # noqa: E402
import pandas as pd

from host import PeakRSS, cpu_jiffies, host_state
from stagetrace import LAYER_STAGES, StageTracer, gc_seconds

from ontologymatching_spark.corpus.generator import WORDS, generate_corpus
from ontologymatching_spark.operators.evaluate import precision_recall
from ontologymatching_spark.oracle.matcher_oracle import match_oracle
from ontologymatching_spark.plans.checkpoint import CheckpointStore
from ontologymatching_spark.plans.pipeline import KGPipeline, PipelineConfig
from ontologymatching_spark.session import get_spark
from ontologymatching_spark.streaming.kgstream import (
    FILE_EVENT_SCHEMA,
    StreamingKGMaintainer,
)

OUT_DIR = os.path.join(os.getcwd(), ".perfbench_out")

# corpus shapes (files = n_repos * files_per_repo); see README.md for why
# they are this small
UPDATE_CORPUS = dict(n_repos=8, files_per_repo=5)
REFINED_CORPUS = dict(n_repos=10, files_per_repo=6, hot_fraction=1.0,
                      alias_fraction=0.9)
REFINED_CONFIG = dict(structural_boost="iism", combination="lwc")
# timed units per run, at least; the end-to-end figure of a run is their
# median. A run of update times two batches: the first is also the first run
# of the incremental plan, and one batch alone spread past the bound under
# host contention. A run of build_refined times one build: a second would
# take a run on a contended host past a minute, and one build stayed within
# the bound.
UPDATE_MIN_BATCHES = 2
REFINED_MIN_BUILDS = 1
# one commit batch: mostly modifications, plus one new file and one
# tombstone, so every batch exercises every kind of file event
BATCH_EVENTS = ("modify", "modify", "add", "delete")

ALIGN_COLS = ["src_uri", "dst_uri", "sim"]
NODE_COLS = ["canonical_id", "entity_id", "uri", "kind", "repo", "path",
             "content_sha256"]
EDGE_COLS = ["src_canonical", "dst_canonical", "pred", "repo", "path"]
CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]
EXT = {"python": "py", "java": "java", "scala": "scala"}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def digest(df, cols) -> str:
    rows = sorted(tuple(r) for r in df.select(*cols).collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -- inputs ------------------------------------------------------------------


def _entity_source(rng: np.random.Generator, lang: str,
                   content: str = "") -> str:
    """One declaration in the generator's surface syntax, named from its
    word list so that it can meet real candidates on the other side. Like
    the generator, a file never declares the same name twice."""
    while True:
        k = int(rng.integers(2, 4))
        words = [WORDS[int(i)]
                 for i in rng.choice(len(WORDS), k, replace=False)]
        if "".join(words) not in content.lower().replace("_", ""):
            break
    if rng.random() < 0.4:
        name = "".join(w.capitalize() for w in words)
        if lang == "python":
            return f"class {name}:\n    pass\n"
        if lang == "java":
            return f"public class {name} {{\n}}\n"
        return f"class {name} {{\n}}\n"
    if lang == "python":
        return f"def {'_'.join(words)}():\n    return None\n"
    name = words[0] + "".join(w.capitalize() for w in words[1:])
    if lang == "java":
        return f"public static void {name}() {{\n}}\n"
    return f"def {name}(): Unit = {{}}\n"


def commit_batch(rng: np.random.Generator, corpus: dict,
                 batch_no: int) -> pd.DataFrame:
    """Seeded commit with a fixed shape, ``BATCH_EVENTS``: modifications
    (one declaration appended), one new file, one tombstone; which files,
    and what is declared, come from ``rng``. ``corpus`` maps (repo, path)
    to its row and is folded in place, in event order (the maintainer's
    last-writer-wins by ``seq``)."""
    events = []
    for seq, kind in enumerate(BATCH_EVENTS):
        keys = list(corpus)
        row = corpus[keys[int(rng.integers(0, len(keys)))]]
        commit = hashlib.sha1(f"{batch_no}/{seq}".encode()).hexdigest()
        if kind == "delete":
            ev = dict(row, commit=commit, deleted=True)
            del corpus[(row["repo"], row["path"])]
        else:
            lang = row["lang"]
            if kind == "add":
                word = WORDS[int(rng.integers(0, len(WORDS)))]
                path = f"src/{word}/commit{batch_no:04d}_{seq}.{EXT[lang]}"
                content = _entity_source(rng, lang)
            else:
                path = row["path"]
                content = row["content"] + _entity_source(
                    rng, lang, row["content"])
            new = dict(repo=row["repo"], path=path, commit=commit, lang=lang,
                       content=content)
            corpus[(new["repo"], path)] = new
            ev = dict(new, deleted=False)
        ev["seq"] = seq
        events.append(ev)
    return pd.DataFrame(events)


def matches_oracle(alignment, src: pd.DataFrame) -> bool:
    """P = R = 1.0 against the pandas oracle: the same (src, dst) pairs."""
    is_src = src.repo.str.extract(r"org(\d+)")[0].astype(int) % 2 == 0
    oracle = match_oracle(src[is_src], src[~is_src])
    want = set(zip(oracle.src_uri, oracle.dst_uri))
    got = {tuple(r) for r in alignment.select("src_uri", "dst_uri").collect()}
    return got == want


def live_gold(gold: pd.DataFrame, touched: set[str]) -> pd.DataFrame:
    """Planted pairs neither of whose files a commit touched: a deleted
    file's planted entity is gone, and a modified one gained siblings that
    change its virtual document, so only untouched pairs keep the
    generator's promise."""
    def file_of(uri: pd.Series) -> pd.Series:
        return uri.str.split("#", n=1).str[0]

    keep = ~file_of(gold.src_uri).isin(touched) & ~file_of(
        gold.dst_uri).isin(touched)
    return gold[keep]


# -- run context ---------------------------------------------------------------


class Bench:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        # untraced unit walls by kind ("build" / "batch"), traced walls
        self.walls: dict[str, list[float]] = {"build": [], "batch": []}
        self.traced_walls: list[float] = []
        self.units: list[dict] = []  # per traced unit accounting
        self.setup_s = 0.0
        self.n_files = 0
        self.pr: dict = {}
        self.spark = None
        self.tracer = None
        self.work = os.path.join(
            OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}"
        )

    def check(self, name: str, ok: bool, detail="") -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {name} {detail}")

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def start_session(self) -> None:
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.tracer = StageTracer(self.spark)
            self.tracer.install()

    # -- one timed unit (build or batch) ---------------------------------------

    def unit(self, kind: str, name: str, traced: bool, body,
             extra=None) -> float:
        """Run ``body`` once; untraced units go into the end-to-end sample
        of their kind, traced ones into the per-layer accounting."""
        self.spark.catalog.clearCache()
        gc0 = gc_seconds(self.spark)
        n_spans = len(self.tracer.spans) if self.tracer else 0
        if traced:
            self.tracer.begin_unit(name)
        t0 = time.perf_counter()
        try:
            inner = body()
            wall = time.perf_counter() - t0
        finally:
            outside = self.tracer.end_unit() if traced else None
        self.attempted += 1
        if not traced:
            self.walls[kind].append(wall)
            return wall
        self.traced_walls.append(wall)
        spans = self.tracer.spans[n_spans:]
        span_s = sum(s["s"] for s in spans)
        # apply_batch reports its own wall: the part not inside a stage is
        # the corpus fold (+ bookkeeping counts)
        fold_s = (inner - span_s) if inner is not None else 0.0
        rec = {
            "unit": name,
            "wall_s": wall,
            "span_s": span_s,
            "fold_s": fold_s,
            "remainder_s": wall - span_s - fold_s,
            "gc_s": gc_seconds(self.spark) - gc0,
            "outside": outside,
            "spans": spans,
        }
        if extra:
            rec.update(extra())
        self.units.append(rec)
        return wall

    def timed_loop(self, make_unit, min_units: int) -> None:
        """Closed loop over a window of ``--seconds``, at least
        ``min_units`` units: another unit starts only while the median unit
        so far still fits in the window, so a run times the same number of
        units on a slow host and a fast one alike, and its median is not a
        mix of one and two samples. A traced run alternates untraced and
        traced units, at least three (untraced, traced, untraced), so the
        tracing overhead is measured in the same process against the
        untraced unit after it: the first timed unit is still on the
        warm-up curve."""
        t0 = time.perf_counter()
        need = max(min_units, 3 if self.args.trace else 0)
        walls: list[float] = []
        i = 0
        while True:
            t = time.perf_counter()
            make_unit(i, bool(self.args.trace) and i % 2 == 1)
            walls.append(time.perf_counter() - t)
            i += 1
            left = self.args.seconds - (time.perf_counter() - t0)
            if i >= need and statistics.median(walls) > left:
                return

    # -- per-layer metrics ---------------------------------------------------------

    def layer_metrics(self) -> dict:
        def per_unit(fn):
            return _median([fn(u) for u in self.units])

        def stage_sum(u, stages, key="s"):
            return sum(s[key] for s in u["spans"] if s["name"] in stages)

        m = {}
        for layer, stages in LAYER_STAGES.items():
            key = "pipeline.edges_s" if layer == "pipeline.edges" else f"{layer}.s"
            m[key] = per_unit(lambda u, st=stages: stage_sum(u, st))
        m["extract.rows"] = per_unit(
            lambda u: stage_sum(u, LAYER_STAGES["extract"], "rows"))
        m["blocking.pairs"] = per_unit(
            lambda u: stage_sum(u, ("candidate_pairs",), "rows"))

        def pairs_per_s(u):
            s = stage_sum(u, ("scored_pairs",))
            return stage_sum(u, ("scored_pairs",), "rows") / s if s else 0.0

        def sel_yield(u):
            pairs = stage_sum(u, ("candidate_pairs",), "rows")
            return stage_sum(u, ("alignment",), "rows") / pairs if pairs else 0.0

        m["matchers.pairs_per_s"] = per_unit(pairs_per_s)
        m["selection.jobs"] = per_unit(
            lambda u: stage_sum(u, ("alignment",), "jobs"))
        m["selection.yield"] = per_unit(sel_yield)
        m["checkpoint.commits"] = per_unit(
            lambda u: sum(1 for s in u["spans"] if s["committed"]))
        m["checkpoint.mb"] = per_unit(
            lambda u: sum(s["bytes"] for s in u["spans"]) / 1e6)
        for k in ("jobs", "tasks", "failed_tasks"):
            m[f"spark.{k}"] = per_unit(
                lambda u, k=k: sum(s[k] for s in u["spans"]) + u["outside"][k])
        m["jvm.gc_s"] = per_unit(lambda u: u["gc_s"])
        m["incremental.fold_s"] = per_unit(lambda u: u["fold_s"])
        m["incremental.files_changed"] = per_unit(
            lambda u: u.get("files_changed", 0))
        m["incremental.rescored_ratio"] = per_unit(
            lambda u: u.get("rescored_ratio", 0.0))
        m["quality.precision"] = self.pr["precision"]
        m["quality.recall"] = self.pr["recall"]
        m["trace.wall_s"] = _median(self.traced_walls)
        m["trace.remainder_s"] = per_unit(lambda u: u["remainder_s"])
        untraced = (self.walls["batch"] or self.walls["build"])[-1:]
        m["trace.overhead_s"] = _median(self.traced_walls) - _median(untraced)
        return m


# -- workloads -----------------------------------------------------------------


def run_build_refined(b: Bench) -> None:
    """Full ``KGPipeline.run`` with IISM structural refinement and LWC
    quality weighting on a hot-key-skewed corpus."""
    spark = b.spark
    t0 = time.perf_counter()
    src, gold = generate_corpus(seed=b.args.seed, **REFINED_CORPUS)
    src_df = spark.createDataFrame(src)
    cfg = PipelineConfig(**REFINED_CONFIG)
    b.n_files = len(src)
    digests: list[str] = []
    last = {}

    def build():
        out = KGPipeline(spark, last["store"], cfg).run(src_df)
        out["alignment"].count()
        out["triples"].count()
        last["out"] = out

    def fresh_store():
        last["store"] = CheckpointStore(spark, b.fresh_dir("store"))

    # warm-up: one untimed build pays the cold JIT / Python-worker cost
    fresh_store()
    build()
    b.setup_s += time.perf_counter() - t0
    digests.append(digest(last["out"]["alignment"], ALIGN_COLS))

    def make_unit(i, traced):
        fresh_store()  # the previous store is deleted outside the timing
        b.unit("build", f"build{i}", traced, build)
        digests.append(digest(last["out"]["alignment"], ALIGN_COLS))

    b.timed_loop(make_unit, REFINED_MIN_BUILDS)
    b.check("alignment_digest_stable", len(set(digests)) == 1,
            f"{len(set(digests))} distinct digests over {len(digests)} builds")
    if b.args.trace:
        b.pr = precision_recall(last["out"]["alignment"],
                                spark.createDataFrame(gold))


def run_update(b: Bench) -> None:
    """Bootstrap a corpus, then a seeded stream of commit batches through
    ``StreamingKGMaintainer.apply_batch``, each a static DataFrame."""
    spark = b.spark
    t0 = time.perf_counter()
    corpus, gold = generate_corpus(seed=b.args.seed, **UPDATE_CORPUS)
    rng = np.random.default_rng([b.args.seed, 1])
    b.n_files = len(corpus)
    mt = StreamingKGMaintainer(spark, b.fresh_dir("stream"))
    boot = corpus.assign(deleted=False, seq=range(len(corpus)))
    boot_df = spark.createDataFrame(boot, schema=FILE_EVENT_SCHEMA)
    # bootstrap = warm-up: the first (cold) full build
    mt.apply_batch(boot_df, 0)
    b.setup_s += time.perf_counter() - t0

    b.check("oracle_pr", matches_oracle(mt.last_outputs["alignment"], corpus))

    touched: set[str] = set()
    state = {(r["repo"], r["path"]): r for r in corpus.to_dict("records")}

    def make_unit(i, traced):
        events = commit_batch(rng, state, i + 1)
        touched.update(events.repo + "/" + events.path)
        ev_df = spark.createDataFrame(events, schema=FILE_EVENT_SCHEMA)
        mt.with_stats = traced

        def batch():
            mt.apply_batch(ev_df, i + 1)
            return mt.history[-1]["wall_s"]

        def stats():
            st = mt.history[-1]["stats"] or {}
            pairs = st.get("n_pairs", 0)
            return {
                "files_changed": st.get("n_files_changed", 0),
                "rescored_ratio": (st.get("n_pairs_rescored", 0) / pairs
                                   if pairs else 0.0),
            }

        b.unit("batch", f"batch{i + 1}", traced, batch, stats)

    # the first batch is also the first run of the incremental plan
    b.timed_loop(make_unit, UPDATE_MIN_BATCHES)
    folded = pd.DataFrame(list(state.values()), columns=CORPUS_COLS)
    b.n_files = len(folded)

    # the live KG must equal a from-scratch build of the folded corpus
    live = mt.last_outputs
    want = {
        "alignment": digest(live["alignment"], ALIGN_COLS),
        "nodes": digest(live["nodes"], NODE_COLS),
        "edges": digest(live["edges"], EDGE_COLS),
    }
    folded_df = spark.createDataFrame(folded)
    store = CheckpointStore(spark, b.fresh_dir("rebuild"))
    full = {}

    def rebuild():
        full.update(KGPipeline(spark, store).run(folded_df))
        full["alignment"].count()
        full["triples"].count()

    # timed for the detail file only: one warm default-config full build
    b.unit("build", "rebuild", False, rebuild)
    for name, cols in (("alignment", ALIGN_COLS), ("nodes", NODE_COLS),
                       ("edges", EDGE_COLS)):
        b.check(f"rebuild_equal_{name}", digest(full[name], cols) == want[name])
    if b.args.trace:
        b.pr = precision_recall(
            live["alignment"], spark.createDataFrame(live_gold(gold, touched))
        )


WORKLOADS = {"build_refined": run_build_refined, "update": run_update}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(OUT_DIR, exist_ok=True)
    b = Bench(args)
    j0 = cpu_jiffies()
    rss = PeakRSS().start()
    try:
        b.start_session()
        b.setup_s = time.perf_counter() - T_START
        WORKLOADS[args.workload](b)
    finally:
        peak = rss.stop()
        if b.tracer is not None:
            b.tracer.uninstall()
        if b.spark is not None:
            b.spark.stop()
        shutil.rmtree(b.work, ignore_errors=True)
    host = host_state(j0, cpu_jiffies())

    if args.trace:
        metrics = b.layer_metrics()
        metrics["mem.peak_rss_mb"] = peak
    else:
        # the wall a change waits for: one batch on update, one full build
        # (how a change lands without the maintainer) on build_refined
        wall = _median(b.walls["batch"] or b.walls["build"])
        metrics = {
            "files_per_s": b.n_files / wall,
            "update_s": wall,
            "setup_s": b.setup_s,
        }
    # BENCHMARK.json names the metrics each mode reports, with their units
    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }
    detail = {
        "args": vars(args),
        "host": host,
        "walls_s": b.walls,
        "traced_walls_s": b.traced_walls,
        "samples": {k: len(v) for k, v in b.walls.items()},
        "checks": b.checks,
        "pr": b.pr,
        "n_files": b.n_files,
        "units": b.units,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    log(f"host: steal {host['steal_pct']:.2f}% load {host['loadavg']} "
        f"walls {b.walls} traced {b.traced_walls} setup {b.setup_s:.3f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
