"""End-to-end: pipeline vs the reference-semantics oracle (the primary bar,
SURVEY.md §5.4 / BASELINE.md P/R >= 0.95), corpus determinism, blocking
recall, resume."""

import tempfile

import pytest

from ontologymatching_spark.corpus.generator import generate_corpus
from ontologymatching_spark.operators.evaluate import precision_recall
from ontologymatching_spark.oracle.matcher_oracle import match_oracle
from ontologymatching_spark.plans.checkpoint import CheckpointStore
from ontologymatching_spark.plans.pipeline import (
    KGPipeline, PipelineConfig, config_fingerprint,
)


def test_corpus_deterministic():
    a_files, a_gold = generate_corpus(n_repos=6, files_per_repo=4, seed=42)
    b_files, b_gold = generate_corpus(n_repos=6, files_per_repo=4, seed=42)
    assert a_files.equals(b_files)
    assert a_gold.equals(b_gold)
    # perturbation tiers all present at this size
    assert set(a_gold["tier"]) >= {1, 2, 3}


@pytest.fixture(scope="module")
def e2e(spark, small_corpus):
    src_files, gold = small_corpus
    sf = spark.createDataFrame(src_files)
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_e2e_"))
    out = KGPipeline(spark, store).run(sf)
    is_src = src_files.repo.str.extract(r"org(\d+)")[0].astype(int) % 2 == 0
    oracle = match_oracle(src_files[is_src], src_files[~is_src])
    return out, oracle, store


def test_pr_vs_oracle(spark, e2e):
    out, oracle, _ = e2e
    pr = precision_recall(out["alignment"], spark.createDataFrame(oracle))
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_alignment_is_one_to_one(e2e):
    out, _, _ = e2e
    a = out["alignment"].toPandas()
    assert a["src_id"].is_unique
    assert a["dst_id"].is_unique


def test_canonical_ids(e2e):
    out, _, _ = e2e
    nodes = out["nodes"].toPandas()
    # every aligned pair shares a canonical id; canonical = min entity_id
    align = out["alignment"].toPandas()
    canon = dict(zip(nodes["entity_id"], nodes["canonical_id"]))
    for r in align.itertuples():
        assert canon[r.src_id] == canon[r.dst_id]
        assert canon[r.src_id] <= min(r.src_id, r.dst_id)


def test_resume_skips_completed(spark, small_corpus, e2e):
    _, _, store = e2e
    src_files, _ = small_corpus
    sf = spark.createDataFrame(src_files)
    # all manifests exist → run() must be pure read-back (no recompute):
    # invalidating nothing, stage() short-circuits; verify by checking the
    # alignment manifest is not rewritten
    import os

    mpath = store._manifest_path("alignment")
    mtime = os.path.getmtime(mpath)
    out2 = KGPipeline(spark, store).run(sf)
    assert os.path.getmtime(mpath) == mtime
    assert out2["alignment"].count() == store.manifest("alignment")["rows"]


def test_mid_pipeline_restart(spark, small_corpus, e2e):
    out, _, store = e2e
    src_files, _ = small_corpus
    sf = spark.createDataFrame(src_files)
    n_before = out["alignment"].count()
    for st in ["alignment", "nodes", "edges"]:
        store.invalidate(st)
    out2 = KGPipeline(spark, store).run(sf)
    assert out2["alignment"].count() == n_before


def test_kill_and_restart(spark, small_corpus):
    """Kill-and-restart (FIXTURES.md §3.9): crash injected between stages —
    restart completes without recomputing the stages finished before the
    crash."""
    import os
    import tempfile

    src_files, _ = small_corpus
    sf = spark.createDataFrame(src_files)
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_kill_"))

    os.environ["KG_FAIL_BEFORE_STAGE"] = "scored_pairs"
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            KGPipeline(spark, store).run(sf)
    finally:
        del os.environ["KG_FAIL_BEFORE_STAGE"]

    # stages before the crash are committed
    for done in ["triples", "prepared", "candidate_pairs"]:
        assert store.is_complete(done), done
    assert not store.is_complete("scored_pairs")
    mtimes = {
        s: os.path.getmtime(store._manifest_path(s))
        for s in ["triples", "prepared", "candidate_pairs"]
    }

    out = KGPipeline(spark, store).run(sf)  # restart
    assert out["alignment"].count() > 0
    for s, m in mtimes.items():
        assert os.path.getmtime(store._manifest_path(s)) == m, s


def test_threshold_sweep(spark, e2e, small_corpus):
    from ontologymatching_spark.operators.threshold_analysis import threshold_sweep

    out, oracle, _ = e2e
    scored = out["scored_pairs"].cache()
    gold = spark.createDataFrame(oracle)  # oracle alignment as gold
    sweep = threshold_sweep(scored, gold, thresholds=[0.5, 0.6, 0.8])
    assert [r["threshold"] for r in sweep] == [0.5, 0.6, 0.8]
    # precision rises (weakly) with threshold; at the pipeline's own 0.6 the
    # alignment equals the oracle exactly
    at06 = [r for r in sweep if r["threshold"] == 0.6][0]
    assert at06["precision"] == 1.0 and at06["recall"] == 1.0
    assert sweep[2]["found"] <= sweep[1]["found"] <= sweep[0]["found"]


def test_pr_vs_oracle_second_seed(spark):
    """P/R gate on an independent corpus (different seed, more repos) —
    guards against overfitting blocking/selection to the seed-42 fixture."""
    import tempfile

    src_files, _ = generate_corpus(n_repos=20, files_per_repo=8, seed=7)
    out = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_seed7_"))
    ).run(spark.createDataFrame(src_files))
    is_src = src_files.repo.str.extract(r"org(\d+)")[0].astype(int) % 2 == 0
    oracle = match_oracle(src_files[is_src], src_files[~is_src])
    pr = precision_recall(out["alignment"], spark.createDataFrame(oracle))
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_iism_boost_pipeline(spark, small_corpus):
    import tempfile

    src_files, _ = small_corpus
    out = KGPipeline(
        spark,
        CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_iism_")),
        PipelineConfig(structural_boost="iism"),
    ).run(spark.createDataFrame(src_files))
    a = out["alignment"].toPandas()
    assert len(a) > 0
    assert a["src_id"].is_unique and a["dst_id"].is_unique


@pytest.mark.parametrize("config, digest", [
    ({}, "2f01d02a38c871fa688a6f3a074b27b0d5fb91037733e28fba7854d882a88125"),
    ({"structural_boost": "iism", "combination": "lwc"},
     "cd0a57f88c3eb596f8fffd0df074b4942104cf211bd986d97a26007d0e97ab6d"),
], ids=["default", "iism_lwc"])
def test_config_fingerprint_pinned(config, digest):
    """The fingerprint a store records must not drift: an update refuses a
    ``prev`` whose fingerprint differs, so a change here voids every
    existing store as a base for updates."""
    assert config_fingerprint(PipelineConfig(**config)) == digest


@pytest.mark.parametrize("config, field", [
    ({"combination": "LWC"}, "combination"),
    ({"combination": "max"}, "combination"),
    ({"combination": "weighted"}, "combination"),
    ({"structural_boost": "IISM"}, "structural_boost"),
    ({"structural_boost": "flood"}, "structural_boost"),
    ({"structural_boost": 1}, "structural_boost"),
    ({"structural_boost": 0}, "structural_boost"),
    ({"structural_boost": True}, "structural_boost"),
    ({"structural_boost": "dsi"}, "structural_boost"),
])
def test_config_rejects_unknown_values(config, field):
    """An unknown combination or structural boost is an error naming the
    field, never a silent fallback to another method."""
    with pytest.raises(ValueError, match=f"PipelineConfig.{field}="):
        PipelineConfig(**config)


@pytest.mark.parametrize(
    "config", [{}, {"structural_boost": "iism", "combination": "lwc"}],
    ids=["default", "iism_lwc"],
)
def test_canonical_projection_equals_components(spark, config):
    """``canonicalize`` projects canonical_id = least(src_id, dst_id); on
    pipeline output (60-file hot-key corpus) that equals the min label of
    the iterative connected components, because the alignment is 1-1
    between disjoint id sets — the projection's precondition, pinned
    here too.

    The edges are projections too: each class or function's ``declares``
    edge and each resolved import start at the module of the row's own
    file. They must equal the ``triples`` join chain they replace, which
    holds because every ``declares`` subject is its own file's module and
    no module is aligned (so its canonical id is its entity id)."""
    from pyspark.sql import functions as F

    from ontologymatching_spark.operators import components

    src_files, _ = generate_corpus(n_repos=10, files_per_repo=6, seed=3,
                                   hot_fraction=1.0, alias_fraction=0.9)
    out = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_proj_")),
        PipelineConfig(**config),
    ).run(spark.createDataFrame(src_files))
    a = out["alignment"].toPandas()
    assert len(a) > 0
    assert a["src_id"].is_unique and a["dst_id"].is_unique
    assert not set(a["src_id"]) & set(a["dst_id"])

    comps = components.connected_components(
        out["alignment"].select("src_id", "dst_id")
    )
    want = (
        out["entities"].join(comps, "entity_id", "left")
        .select("entity_id", F.coalesce("component_id", "entity_id"))
        .collect()
    )
    got = out["nodes"].select("entity_id", "canonical_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == out["entities"].count()

    lineage = ["repo", "path", "commit", "content_sha256"]
    nodes = out["nodes"].toPandas()
    canon = dict(zip(nodes["uri"], nodes["canonical_id"]))
    decl = out["triples"].filter(F.col("pred") == "declares").toPandas()
    assert (decl["subj"] == decl["repo"] + "/" + decl["path"]).all()
    modules = set(nodes.loc[nodes["kind"] == "module", "entity_id"])
    assert not modules & (set(a["src_id"]) | set(a["dst_id"]))
    imp = (
        out["mentions"].toPandas()
        .merge(out["links"].toPandas(), on="mention_id")
        .merge(nodes[["entity_id", "canonical_id"]], on="entity_id")
    )
    want_edges = sorted(
        [(canon[r.subj], canon[r.obj], "declares",
          *(getattr(r, c) for c in lineage)) for r in decl.itertuples()]
        + [(canon[r.context], r.canonical_id, "imports",
            *(getattr(r, c) for c in lineage)) for r in imp.itertuples()]
    )
    got_edges = sorted(map(tuple, out["edges"].select(
        "src_canonical", "dst_canonical", "pred", *lineage).collect()))
    assert len(imp) > 0
    assert got_edges == want_edges


def test_store_manifest_rows_and_schema(spark, e2e):
    """A commit counts rows on the write and reads back with the manifest's
    schema: both must equal what a re-count and parquet's own schema
    inference give, for every pipeline stage and for an empty stage; a
    resumed stage returns the committed rows. A build commits exactly
    these stages: entities and mentions are projections of ``triples``."""
    import glob
    import os

    _, _, store = e2e
    stages = ["triples", "prepared", "candidate_pairs", "scored_pairs",
              "alignment", "nodes", "links", "edges"]
    committed = {
        os.path.basename(p)[: -len(".manifest.json")]
        for p in glob.glob(os.path.join(store.root, "*.manifest.json"))
    }
    assert committed == set(stages)
    empty = CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_empty_"))
    empty.stage("none", lambda: store.read("alignment").limit(0))
    for st, name in [(store, s) for s in stages] + [(empty, "none")]:
        df = st.read(name)
        assert st.manifest(name)["rows"] == df.count() == st.rows(name), name
        assert df.schema == spark.read.parquet(st._data_path(name)).schema, name
    assert empty.rows("none") == 0

    resumed = store.stage("alignment", lambda: pytest.fail("recomputed"))
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, spark.read.parquet(store._data_path("alignment")).collect())
    )


def test_side_from_column_or_clear_error(spark):
    """Repos outside the generator's orgN naming: an explicit per-repo
    ``side`` column gives the orgN corpus's alignment; without one the
    build stops with an error naming the repo, not a cast failure."""
    src_files, _ = generate_corpus(n_repos=6, files_per_repo=3, seed=5)
    org = src_files.repo.str.extract(r"org(\d+)")[0].astype(int)
    want = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_org_"))
    ).run(spark.createDataFrame(src_files))["alignment"]

    team = src_files.assign(
        repo=src_files.repo.str.replace("org", "team", regex=False),
        side=(org % 2).map({0: "src", 1: "dst"}),
    )
    got = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_team_"))
    ).run(spark.createDataFrame(team))["alignment"]

    def rows(df, renamed):
        out = sorted(tuple(r) for r in df.select(
            "src_uri", "dst_uri", "sim").collect())
        if renamed:
            out = [(s.replace("team", "org", 1), d.replace("team", "org", 1),
                    sim) for s, d, sim in out]
        return out

    assert len(rows(want, False)) > 0
    assert rows(got, True) == rows(want, False)

    # whichever task fails first names its repo
    with pytest.raises(Exception, match=r"no side for repo 'team\d{4}/"):
        KGPipeline(
            spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kg_bad_"))
        ).run(spark.createDataFrame(team.drop(columns="side")))


# ---------------------------------------------------------------------------
# blocking and VMM over the e2e build's prepared entities
# ---------------------------------------------------------------------------


def _matchable_sides(spark, store, extra=()):
    """The build's matchable src/dst entities, plus ``extra`` hand-made
    function entities given as (entity_id, side, name)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ontologymatching_spark.functions.textnorm import normalize

    cols = ["entity_id", "uri", "kind", "norm_name", "nodigit_name",
            "doc_tokens", "side"]
    m = store.read("prepared").filter(
        F.col("kind").isin("class", "function")).select(*cols)
    if extra:
        m = m.unionByName(spark.createDataFrame(pd.DataFrame([
            {"entity_id": i, "uri": f"extra/{side}/{name}", "kind": "function",
             "norm_name": normalize(name),
             "nodigit_name": normalize(name, stem=True, strip_digits=True),
             "doc_tokens": sorted(set(normalize(name).split(" "))),
             "side": side}
            for i, side, name in extra
        ]), m.schema))
    return m.filter(F.col("side") == "src"), m.filter(F.col("side") == "dst")


def _blocking_pd(src, dst, cap):
    """Pandas restatement of ``blocking.candidate_pairs`` → (pairs, number
    of rank-zipped pairs)."""
    def keys(e):
        out = {}
        for r in e.itertuples():
            ks = [("exact", r.norm_name),
                  ("tier4", " ".join(sorted(r.nodigit_name.split(" "))))]
            if len(r.norm_name.split(" ")) > 1:
                ks += [("token", t) for t in set(r.nodigit_name.split(" ")) if t]
            elif len(r.norm_name) >= 4:
                ks.append(("prefix", r.norm_name.replace(" ", "")[:4]))
            for strategy, k in ks:
                out.setdefault((f"{r.kind}|{k}", strategy), []).append(
                    (r.uri, r.entity_id))
        return out

    sk, dk = keys(src), keys(dst)
    pairs, zipped = set(), set()
    for block, s in sk.items():
        d = dk.get(block, [])
        if len(s) * len(d) <= cap:
            pairs |= {(a, b) for _, a in s for _, b in d}
        elif block[1] in ("exact", "tier4"):
            zipped |= {(a, b) for (_, a), (_, b) in zip(sorted(s), sorted(d))}
    return pairs | zipped, len(zipped)


@pytest.mark.parametrize("cap", [3, 10_000])
def test_candidate_pairs_match_pandas_restatement(spark, e2e, cap):
    """Exact, tier4, token (multi-token names, each distinct token once)
    and prefix (single-token names of 4+ chars) keys, the per-block cap
    and the rank-zip of oversized exact/tier4 blocks, against a pandas
    restatement. Cap 3 forces the rank-zip. The repeated token of
    'zork_zork_quux' counts once: counted twice, its 'zork' block would
    be 2x3 > 3 and drop the pair with 'zork_plugh'."""
    from ontologymatching_spark.operators import blocking

    extra = [(-1, "src", "zork_zork_quux"), (-2, "dst", "zork_plugh"),
             (-3, "dst", "zork_zork_xyzzy")]
    s, d = _matchable_sides(spark, e2e[2], extra)
    got = {tuple(r) for r in blocking.candidate_pairs(s, d, cap).collect()}
    want, n_zipped = _blocking_pd(s.toPandas(), d.toPandas(), cap)
    assert got == want
    assert (-1, -2) in got
    assert (n_zipped > 0) == (cap == 3)


def test_vmm_matches_oracle_and_partitioning(spark, e2e):
    """``sim_vmm`` equals the oracle's TF-IDF cosine (corpus = both sides'
    docs) within 1e-12, and is bit-identical whether its inputs come in
    1 or 7 partitions."""
    from ontologymatching_spark.operators import blocking
    from ontologymatching_spark.operators.matchers import vmm
    from ontologymatching_spark.oracle.matcher_oracle import (
        cosine, tfidf_vectors,
    )

    s, d = _matchable_sides(spark, e2e[2])
    pairs = blocking.candidate_pairs(s, d)
    got = {(r.src_id, r.dst_id): r.sim_vmm
           for r in vmm(pairs, s, d).collect()}
    docs = s.unionByName(d).select("entity_id", "doc_tokens").toPandas()
    vecs = dict(zip(docs.entity_id, tfidf_vectors(
        [[t for t in toks if t] for toks in docs.doc_tokens])))
    assert len(got) == pairs.count() > 1000
    assert sum(v > 0 for v in got.values()) > len(got) // 2
    for (a, b), sim in got.items():
        assert abs(sim - cosine(vecs[a], vecs[b])) <= 1e-12, (a, b)

    def parted(n):
        return sorted(tuple(r) for r in vmm(
            pairs.repartition(n), s.repartition(n), d.repartition(n)
        ).collect())

    assert parted(1) == parted(7) == sorted(
        (a, b, sim) for (a, b), sim in got.items())
