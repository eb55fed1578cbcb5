"""Updates (``KGPipeline`` with ``prev``, plans/pipeline.py): the hard
invariant is REBUILD EQUALITY — running the pipeline on the v1 → v2 diff
against the v1 checkpoint store produces bit-identical outputs to a
from-scratch KGPipeline run on v2 — while re-parsing only the changed
files and re-scoring only pairs with a changed endpoint."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from ontologymatching_spark.corpus.generator import generate_corpus
from ontologymatching_spark.plans.checkpoint import CheckpointStore
from ontologymatching_spark.plans.pipeline import KGPipeline, PipelineConfig


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


ALIGN_COLS = ["src_uri", "dst_uri", "sim"]
SCORED_COLS = ["src_id", "dst_id", "src_uri", "dst_uri",
               "sim_bsm", "sim_psm", "sim_vmm", "sim"]
NODE_COLS = ["canonical_id", "entity_id", "uri", "kind", "repo", "path",
             "commit", "content_sha256"]
EDGE_COLS = ["src_canonical", "dst_canonical", "pred", "repo", "path",
             "commit", "content_sha256"]
CORPUS_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")


def _diff(spark, old, new):
    """The update's input turning corpus ``old`` into ``new``: the added or
    changed files, and the (repo, path) keys of the removed ones."""
    m = new.merge(old, how="left", indicator=True)
    files = m.loc[m["_merge"] == "left_only", list(new.columns)]
    gone = old.merge(new[["repo", "path"]], how="left", indicator=True)
    deleted = gone.loc[gone["_merge"] == "left_only", ["repo", "path"]]
    return (spark.createDataFrame(files, CORPUS_SCHEMA),
            spark.createDataFrame(deleted, "repo string, path string"))


def _mutate(v1):
    """v2 = v1 with one source file rewritten (entity renamed), one target
    file rewritten, one brand-new file, one file removed."""
    v2 = v1.copy()
    # rename an entity inside an existing src-side file (org0000 is src)
    i_src = v2.index[v2.repo.str.startswith("org0000")][0]
    v2.loc[i_src, "content"] = v2.loc[i_src, "content"].replace(
        "class", "class Renamed", 1
    )
    # rewrite a dst-side file (org0001)
    i_dst = v2.index[v2.repo.str.startswith("org0001")][0]
    v2.loc[i_dst, "content"] = (
        v2.loc[i_dst, "content"] + "\nclass FreshlyAddedWidget {\n}\n"
    )
    # remove one file, add one new file
    drop_idx = v2.index[v2.repo.str.startswith("org0002")][0]
    v2 = v2.drop(index=drop_idx).reset_index(drop=True)
    new_row = v1.iloc[0].copy()
    new_row["path"] = "src/new/added000.scala"
    new_row["content"] = "class AddedHelper {\n}\ndef addedLoad(): Unit = {}\n"
    v2.loc[len(v2)] = new_row
    return v2


CONFIGS = {
    "default": {},
    "iism_lwc": {"structural_boost": "iism", "combination": "lwc"},
}


@pytest.fixture(scope="module")
def v1_builds(spark):
    """config name → (v1, v2, the v1 store and outputs, the config), each
    built once per module."""
    built = {}

    def get(name):
        if name not in built:
            cfg = PipelineConfig(**CONFIGS[name])
            v1, _ = generate_corpus(n_repos=8, files_per_repo=5, seed=11)
            store_v1 = CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_v1_"))
            out_v1 = KGPipeline(spark, store_v1, cfg).run(
                spark.createDataFrame(v1)
            )
            out_v1["alignment"].count()  # materialize every stage
            out_v1["edges"].count()
            built[name] = v1, _mutate(v1), store_v1, out_v1, cfg
        return built[name]

    return get


@pytest.fixture
def corpora(v1_builds, request):
    """The default config's build unless a test parametrizes the config
    name (indirect)."""
    return v1_builds(getattr(request, "param", "default"))


@pytest.mark.parametrize("corpora", list(CONFIGS), indirect=True)
def test_incremental_equals_full_rebuild(spark, corpora):
    v1, v2, store_v1, _, cfg = corpora
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_full_")),
        cfg,
    ).run(spark.createDataFrame(v2))
    inc = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_new_")),
        cfg, prev=store_v1,
    ).run(*_diff(spark, v1, v2))

    assert _rows(inc["scored_pairs"], SCORED_COLS) == _rows(
        full["scored_pairs"], SCORED_COLS
    )
    assert _rows(inc["alignment"], ALIGN_COLS) == _rows(
        full["alignment"], ALIGN_COLS
    )
    assert _rows(inc["nodes"], NODE_COLS) == _rows(full["nodes"], NODE_COLS)
    assert _rows(inc["edges"], EDGE_COLS) == _rows(full["edges"], EDGE_COLS)


def test_incremental_rescores_only_the_diff(spark, corpora):
    v1, v2, store_v1, _, _ = corpora
    pipe = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_s_")),
        prev=store_v1,
    )
    out = pipe.run(*_diff(spark, v1, v2))
    s = pipe.last_stats
    # 3 touched files (2 rewrites + 1 added); the removed file is not in v2
    assert s["n_files_changed"] == 3
    assert s["n_files"] == len(v2)
    # the overwhelming majority of pairs reuse their previous BSM/PSM rows
    assert 0 < s["n_pairs_rescored"] < s["n_pairs"] / 2

    # counted independently: v2's candidate pairs minus those in v1's
    # scored_pairs whose two endpoints both come from unchanged files
    m = v2.merge(v1[["repo", "path", "content"]], how="left", indicator=True)
    changed = spark.createDataFrame(
        m.loc[m["_merge"] == "left_only", ["repo", "path"]]
    )
    assert changed.count() == 3
    moved = out["entities"].join(changed, ["repo", "path"], "left_semi")
    ids = ["src_id", "dst_id"]
    reused = (
        out["candidate_pairs"].select(*ids)
        .join(store_v1.read("scored_pairs").select(*ids), ids, "left_semi")
        .join(moved.select(F.col("entity_id").alias("src_id")), "src_id",
              "left_anti")
        .join(moved.select(F.col("entity_id").alias("dst_id")), "dst_id",
              "left_anti")
    )
    n_pairs = out["candidate_pairs"].count()
    assert s["n_pairs"] == n_pairs
    assert s["n_pairs_rescored"] == n_pairs - reused.count()


def test_incremental_noop_corpus(spark, corpora):
    v1, _, store_v1, out_v1, _ = corpora
    pipe = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_n_")),
        prev=store_v1,
    )
    inc = pipe.run(spark.createDataFrame(v1.iloc[0:0], CORPUS_SCHEMA))
    assert pipe.last_stats["n_files"] == len(v1)
    assert pipe.last_stats["n_files_changed"] == 0
    assert pipe.last_stats["n_pairs_rescored"] == 0
    assert _rows(inc["alignment"], ALIGN_COLS) == _rows(
        out_v1["alignment"], ALIGN_COLS
    )


def test_incremental_validates_prev_store(spark, corpora):
    """An incomplete prev store or one written under different matcher
    code/config must fail fast in __init__, not surface as an opaque
    mid-plan error or silently reuse stale scores."""
    _, _, store_v1, _, _ = corpora
    empty = CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_e_"))
    with pytest.raises(ValueError, match="incomplete"):
        KGPipeline(
            spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_e2_")),
            prev=empty,
        )
    with pytest.raises(ValueError, match="fingerprint"):
        KGPipeline(
            spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_e3_")),
            config=PipelineConfig(threshold=0.7), prev=store_v1,
        )


def test_incremental_lineage_survives(spark, corpora):
    """Every incremental nodes row still carries the sha256 of its v2
    source file (the per-row invariant from BASELINE.json's input_hint)."""
    v1, v2, store_v1, _, _ = corpora
    inc = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_l_")),
        prev=store_v1,
    ).run(*_diff(spark, v1, v2))
    v2df = spark.createDataFrame(v2).withColumn(
        "sha", F.sha2(F.col("content"), 256)
    )
    bad = inc["nodes"].join(
        v2df.select("repo", "path", "sha"), ["repo", "path"]
    ).filter(F.col("content_sha256") != F.col("sha"))
    assert bad.count() == 0


def test_prev_lineage_is_one_row_per_file(spark, monkeypatch):
    """The ``prepared`` module rows, which a run's ``n_files`` counts, are
    one (repo, path, content_sha256) row per parsed file, equal to the
    distinct lineage of its triples, for the generator corpus plus a
    module with no declarations and an xml file."""
    import hashlib

    import pandas as pd

    lineage = ["repo", "path", "content_sha256"]
    v1, _ = generate_corpus(n_repos=4, files_per_repo=3, seed=11)
    xml = ('<module name="mod9">\n  <import module="other.mod"/>\n'
           '  <class name="FooBar"/>\n</module>\n')
    files = pd.concat([v1, pd.DataFrame([
        {"repo": "org0000/x", "path": "src/empty/bare.py", "commit": "c0",
         "lang": "python", "content": "import os\n\n"},
        {"repo": "org0001/x", "path": "onto/mod9.xml", "commit": "c1",
         "lang": "xml", "content": xml},
    ])], ignore_index=True)
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="inc_lin_"))
    # commit triples and prepared only
    monkeypatch.setenv("KG_FAIL_BEFORE_STAGE", "candidate_pairs")
    with pytest.raises(RuntimeError, match="injected crash"):
        KGPipeline(spark, store).run(spark.createDataFrame(files))

    modules = store.read("prepared").filter(F.col("kind") == "module")
    got = _rows(modules, lineage)
    want = sorted(
        (r.repo, r.path, hashlib.sha256(r.content.encode()).hexdigest())
        for r in files.itertuples()
    )
    assert got == want
    assert got == _rows(
        store.read("triples").select(*lineage).dropDuplicates(), lineage)
