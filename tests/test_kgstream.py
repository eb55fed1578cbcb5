"""Streaming KG maintenance (streaming/kgstream.py): draining a stream of
file upserts/tombstones leaves EXACTLY the batch KGPipeline's outputs for
the folded corpus — the update's rebuild-equality invariant applied per
microbatch — with pair-local reuse actually happening on delta batches,
last-writer-wins within a batch, bounded store retention, kill-and-restart
recovery from the newest complete snapshot, a batch killed before any
of its stages resuming to the same KG, and a different batch never
resuming that half-written snapshot."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ontologymatching_spark.corpus.generator import generate_corpus
from ontologymatching_spark.plans.checkpoint import CheckpointStore
from ontologymatching_spark.plans.pipeline import KGPipeline
from ontologymatching_spark.streaming.kgstream import (
    CORPUS_COLS,
    FILE_EVENT_SCHEMA,
    StreamingKGMaintainer,
    read_file_events,
)

ALIGN_COLS = ["src_uri", "dst_uri", "sim"]
NODE_COLS = ["canonical_id", "entity_id", "uri", "kind", "repo", "path",
             "commit", "content_sha256"]
EDGE_COLS = ["src_canonical", "dst_canonical", "pred", "repo", "path",
             "commit", "content_sha256"]
TRIPLE_COLS = ["subj", "pred", "obj", "repo", "path", "commit",
               "content_sha256"]
LIVE_COLS = {"alignment": ALIGN_COLS, "nodes": NODE_COLS, "edges": EDGE_COLS}
# every stage a default-config update batch commits, in commit order
BATCH_STAGES = ["_changed_files", "triples", "prepared", "candidate_pairs",
                "scored_pairs", "alignment", "nodes", "links", "edges"]
EVENT_COLS = ["repo", "path", "commit", "lang", "content", "deleted", "seq"]
LINEAGE = ["repo", "path", "commit", "content_sha256"]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _files(store: CheckpointStore) -> list[tuple]:
    """The files of a snapshot's KG: the lineage of its ``prepared`` module
    rows, one per file."""
    modules = store.read("prepared").filter(F.col("kind") == "module")
    return _rows(modules, LINEAGE)


def _corpus_files(corpus: pd.DataFrame) -> list[tuple]:
    """The lineage rows ``_files`` should read for ``corpus``."""
    return sorted(
        (r.repo, r.path, r.commit,
         hashlib.sha256(r.content.encode()).hexdigest())
        for r in corpus.itertuples()
    )


def _write_drop(spark, pdf: pd.DataFrame, src_dir: str, name: str) -> None:
    """One single-file parquet drop, written BY SPARK (schema-exact).
    ORDERING CONTRACT: Spark's file stream source drains new files by
    MODIFICATION TIME, not name — drop order rides on these writes
    happening in time order (matching streaming/ingest.py's 'time-ordered
    chunks' rule); the lexicographic names are for humans (ADVICE r05)."""
    df = spark.createDataFrame(pdf[EVENT_COLS], schema=FILE_EVENT_SCHEMA)
    tmp = tempfile.mkdtemp(prefix="kgdrop_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, os.path.join(src_dir, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _events(v_new: pd.DataFrame, v_old: pd.DataFrame | None,
            seq0: int) -> pd.DataFrame:
    """File events turning corpus v_old into v_new: upserts for new/changed
    (repo, path) rows, tombstones for removed ones."""
    if v_old is None:
        ups = v_new.copy()
        tombs = v_new.iloc[0:0].copy()
    else:
        m = v_new.merge(
            v_old[["repo", "path", "content"]],
            on=["repo", "path"], how="left",
            suffixes=("", "_old"), indicator=True,
        )
        changed = (m["_merge"] == "left_only") | (
            m["content"] != m["content_old"]
        )
        ups = m.loc[changed, CORPUS_COLS].copy()
        gone = v_old.merge(
            v_new[["repo", "path"]], on=["repo", "path"],
            how="left", indicator=True,
        )
        tombs = gone.loc[gone["_merge"] == "left_only",
                         CORPUS_COLS].copy()
    ups["deleted"] = False
    tombs["deleted"] = True
    ev = pd.concat([ups, tombs], ignore_index=True)
    ev["seq"] = range(seq0, seq0 + len(ev))
    return ev[EVENT_COLS]


def _mutate_a(v1: pd.DataFrame) -> pd.DataFrame:
    """v2: rewrite one src-side file, add one file, drop one file."""
    v2 = v1.copy()
    i_src = v2.index[v2.repo.str.startswith("org0000")][0]
    v2.loc[i_src, "content"] = v2.loc[i_src, "content"].replace(
        "class", "class Streamed", 1
    )
    drop_idx = v2.index[v2.repo.str.startswith("org0002")][0]
    v2 = v2.drop(index=drop_idx).reset_index(drop=True)
    new_row = v1.iloc[0].copy()
    new_row["path"] = "src/new/streamadd000.scala"
    new_row["content"] = "class StreamAddedHelper {\n}\n"
    v2.loc[len(v2)] = new_row
    return v2


def _mutate_b(v2: pd.DataFrame) -> pd.DataFrame:
    """v3: rewrite one dst-side file, drop the v2-added file, add another."""
    v3 = v2.copy()
    i_dst = v3.index[v3.repo.str.startswith("org0001")][0]
    v3.loc[i_dst, "content"] = (
        v3.loc[i_dst, "content"] + "\nclass StreamFreshWidget {\n}\n"
    )
    drop_idx = v3.index[v3.path == "src/new/streamadd000.scala"][0]
    v3 = v3.drop(index=drop_idx).reset_index(drop=True)
    new_row = v3.iloc[1].copy()
    new_row["path"] = "src/new/streamadd001.scala"
    new_row["content"] = "def streamLoad(): Unit = {}\n"
    v3.loc[len(v3)] = new_row
    return v3


@pytest.fixture(scope="module")
def stream_run(spark):
    v1, _ = generate_corpus(n_repos=8, files_per_repo=4, seed=13)
    v2 = _mutate_a(v1)
    v3 = _mutate_b(v2)

    work = tempfile.mkdtemp(prefix="kgstream_work_")
    src = tempfile.mkdtemp(prefix="kgstream_src_")

    e1 = _events(v1, None, seq0=0)
    e2 = _events(v2, v1, seq0=1000)
    # within-batch last-writer-wins probe: a LOWER-seq bogus rewrite of a
    # path that e2 also upserts — the batch must keep the e2 (higher-seq) row
    probe_path = e2.loc[~e2.deleted].iloc[0]
    bogus = probe_path.copy()
    bogus["content"] = "class BogusOverwritten {\n}\n"
    bogus["seq"] = 999
    e2 = pd.concat([e2, bogus.to_frame().T], ignore_index=True)
    e2["seq"] = e2["seq"].astype("int64")
    e2["deleted"] = e2["deleted"].astype(bool)
    e3 = _events(v3, v2, seq0=2000)

    _write_drop(spark, e1, src, "00_v1.parquet")
    _write_drop(spark, e2, src, "01_v2.parquet")
    _write_drop(spark, e3, src, "02_v3.parquet")

    mt = StreamingKGMaintainer(spark, work, retain=2)
    mt.maintain(read_file_events(spark, src))
    return v1, v2, v3, work, src, mt


@pytest.fixture(scope="module")
def rebuild_v3(spark, stream_run):
    """From-scratch KGPipeline build of the stream's final corpus."""
    v3 = stream_run[2]
    return KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgs_full_"))
    ).run(spark.createDataFrame(v3))


def test_stream_folds_to_final_corpus(spark, stream_run):
    _, _, v3, _, _, mt = stream_run
    assert [h["version"] for h in mt.history] == [0, 1, 2]
    assert _files(mt.prev_store) == _corpus_files(v3)
    # the history's counts come from the stage manifests, not from count
    # jobs: they must still be the row counts
    last = mt.history[-1]
    assert last["n_files"] == len(v3)
    assert last["n_alignment"] == mt.last_outputs["alignment"].count()
    assert last["n_edges"] == mt.last_outputs["edges"].count()


def test_stream_equals_batch_rebuild(stream_run, rebuild_v3):
    *_, mt = stream_run
    full = rebuild_v3
    assert mt.history[-1]["n_alignment"] > 0  # equality is non-vacuous
    assert _rows(mt.last_outputs["alignment"], ALIGN_COLS) == _rows(
        full["alignment"], ALIGN_COLS
    )
    assert _rows(mt.last_outputs["edges"], EDGE_COLS) == _rows(
        full["edges"], EDGE_COLS
    )


def test_stream_delta_batches_reuse(stream_run):
    *_, mt = stream_run
    assert mt.history[0]["stats"] is None  # bootstrap = full pipeline
    for h in mt.history[1:]:
        s = h["stats"]
        # each delta batch touches ~2 files out of ~24 and rescans only
        # pairs with a changed endpoint
        assert 0 < s["n_files_changed"] <= 3
        assert s["n_pairs_rescored"] < s["n_pairs"]


def test_stream_restart_recovers_and_continues(spark, stream_run, rebuild_v3):
    v1, _, v3, work, src, mt = stream_run
    # retention: with retain=2 after 3 batches, version 0 is pruned
    assert not os.path.exists(os.path.join(work, "store_v00000"))
    assert os.path.exists(os.path.join(work, "store_v00002"))

    # a NEW maintainer on the same work_dir adopts the newest complete
    # snapshot (version 2) instead of re-bootstrapping
    mt2 = StreamingKGMaintainer(spark, work, retain=2)
    assert mt2.version == 2 and mt2.prev_store is not None
    # ... and exposes that snapshot before any new batch arrives
    for name, cols in (("alignment", ALIGN_COLS), ("edges", EDGE_COLS)):
        assert _rows(mt2.last_outputs[name], cols) == _rows(
            rebuild_v3[name], cols
        ), name

    # one more drop: v4 rewrites one file; the stream checkpoint makes the
    # source deliver ONLY the new drop, and the recovered maintainer folds
    # it incrementally (version 3, not 0)
    v4 = v3.copy()
    i = v4.index[v4.repo.str.startswith("org0004")][0]
    v4.loc[i, "content"] = v4.loc[i, "content"].replace(
        "class", "class Recovered", 1
    )
    _write_drop(spark, _events(v4, v3, seq0=3000), src, "03_v4.parquet")
    mt2.maintain(read_file_events(spark, src))

    assert [h["version"] for h in mt2.history] == [3]
    assert mt2.history[0]["stats"]["n_files_changed"] == 1
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgs_v4_"))
    ).run(spark.createDataFrame(v4))
    assert _rows(mt2.last_outputs["alignment"], ALIGN_COLS) == _rows(
        full["alignment"], ALIGN_COLS
    )


def test_stream_tombstone_only_batch(spark):
    """A delete-only microbatch (no upserts) must fold to the shrunk corpus
    and re-match it exactly — the degenerate batch shape a commit that only
    removes files produces."""
    v1, _ = generate_corpus(n_repos=6, files_per_repo=3, seed=29)
    gone_paths = v1[v1.repo.str.startswith("org0002")].iloc[:2]
    v2 = v1.drop(index=gone_paths.index).reset_index(drop=True)

    work = tempfile.mkdtemp(prefix="kgstomb_work_")
    src = tempfile.mkdtemp(prefix="kgstomb_src_")
    _write_drop(spark, _events(v1, None, seq0=0), src, "00_v1.parquet")
    _write_drop(spark, _events(v2, v1, seq0=1000), src, "01_del.parquet")

    mt = StreamingKGMaintainer(spark, work)
    mt.maintain(read_file_events(spark, src))

    assert [h["version"] for h in mt.history] == [0, 1]
    assert mt.history[1]["stats"]["n_files_changed"] == 0  # pure deletion
    assert _files(mt.prev_store) == _corpus_files(v2)
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgstomb_f_"))
    ).run(spark.createDataFrame(v2))
    assert _rows(mt.last_outputs["alignment"], ALIGN_COLS) == _rows(
        full["alignment"], ALIGN_COLS
    )
    assert _rows(mt.last_outputs["edges"], EDGE_COLS) == _rows(
        full["edges"], EDGE_COLS
    )


def test_stream_equal_seq_commit_is_deterministic(spark):
    """Two events for one (repo, path) with equal (seq, commit) but
    different content: the batch must pick the same one whichever row comes
    first in the batch."""
    v1, _ = generate_corpus(n_repos=4, files_per_repo=2, seed=31)
    ev = _events(v1, None, seq0=0)
    twin = ev.iloc[0].copy()
    twin["content"] = twin["content"] + "\nclass TwinWidget {\n}\n"
    corpora = []
    for first, second in ((ev.iloc[[0]], twin), (twin, ev.iloc[[0]])):
        first = first.to_frame().T if isinstance(first, pd.Series) else first
        second = (second.to_frame().T if isinstance(second, pd.Series)
                  else second)
        batch = pd.concat([first, second, ev.iloc[1:]], ignore_index=True)
        batch["seq"] = batch["seq"].astype("int64")
        batch["deleted"] = batch["deleted"].astype(bool)
        mt = StreamingKGMaintainer(
            spark, tempfile.mkdtemp(prefix="kgs_twin_")
        )
        mt.apply_batch(
            spark.createDataFrame(batch[EVENT_COLS], schema=FILE_EVENT_SCHEMA),
            0,
        )
        corpora.append(_files(mt.prev_store))
    assert corpora[0] == corpora[1]
    assert len(corpora[0]) == len(v1)


@pytest.fixture(scope="module")
def recommitted(spark):
    """A stream of two single-file drops: a bootstrap, then a re-upsert of
    one file with its content unchanged and a new commit. Returns the
    work dir, the maintainer, and a from-scratch build of the final
    corpus."""
    v1, _ = generate_corpus(n_repos=4, files_per_repo=3, seed=11)
    v2 = v1.copy()
    v2.loc[0, "commit"] = "f" * 40
    assert v2.loc[0, "commit"] != v1.loc[0, "commit"]
    ev = v2.iloc[[0]].assign(deleted=False, seq=1000)
    work = tempfile.mkdtemp(prefix="kgrecommit_work_")
    src = tempfile.mkdtemp(prefix="kgrecommit_src_")
    _write_drop(spark, _events(v1, None, seq0=0), src, "00_v1.parquet")
    _write_drop(spark, ev, src, "01_recommit.parquet")
    mt = StreamingKGMaintainer(spark, work)
    mt.maintain(read_file_events(spark, src))
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgrc_full_"))
    ).run(spark.createDataFrame(v2))
    return work, mt, full


def test_single_drop_bootstrap_fans_out(spark, recommitted):
    """A bootstrap that arrives as one single-file drop is one split; the
    maintainer fans it out, so its ``triples`` stage commits more than one
    part file instead of scanning the corpus as one split downstream."""
    work, mt, _ = recommitted
    store = CheckpointStore(spark, os.path.join(work, "store_v00000"))
    assert store.manifest("triples")["n_files"] > 1


def test_recommit_with_same_content_takes_new_commit(recommitted):
    """A file re-upserted with unchanged content and a new commit is part
    of the batch's diff: the live triples, nodes and edges carry the new
    commit, as a from-scratch build does."""
    _, mt, full = recommitted
    for name, cols in (("triples", TRIPLE_COLS), ("nodes", NODE_COLS),
                       ("edges", EDGE_COLS)):
        live = _rows(mt.last_outputs[name], cols)
        assert ("f" * 40) in {r[cols.index("commit")] for r in live}, name
        assert live == _rows(full[name], cols), name
    assert mt.history[1]["stats"]["n_files_changed"] == 1


def _event_df(spark, events: pd.DataFrame):
    return spark.createDataFrame(events[EVENT_COLS], schema=FILE_EVENT_SCHEMA)


def _live_rows(spark, corpus: pd.DataFrame) -> dict:
    """The live-KG rows of a from-scratch build of ``corpus``."""
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgkill_full_"))
    ).run(spark.createDataFrame(corpus))
    want = {name: _rows(full[name], cols) for name, cols in LIVE_COLS.items()}
    assert want["alignment"]  # equality is non-vacuous
    return want


def _manifests(store: str) -> dict:
    """{stage: manifest mtime} of every stage committed in ``store``."""
    suffix = ".manifest.json"
    return {f[:-len(suffix)]: os.path.getmtime(os.path.join(store, f))
            for f in os.listdir(store) if f.endswith(suffix)}


@pytest.fixture(scope="module")
def bootstrapped(spark):
    """A work dir holding one bootstrapped snapshot, the events of the next
    batch, the live-KG rows of a from-scratch build of the corpus that
    batch folds to, and the bootstrapped corpus."""
    v1, _ = generate_corpus(n_repos=6, files_per_repo=3, seed=37)
    v2 = _mutate_a(v1)
    work = tempfile.mkdtemp(prefix="kgkill_boot_")
    StreamingKGMaintainer(spark, work).apply_batch(
        _event_df(spark, _events(v1, None, seq0=0)), 0
    )
    return work, _events(v2, v1, seq0=1000), _live_rows(spark, v2), v1


@pytest.mark.parametrize("stage", BATCH_STAGES)
def test_batch_killed_before_stage_resumes(spark, bootstrapped, stage,
                                           monkeypatch):
    """Kill a batch before ``stage``, restart the maintainer on the same
    work dir and redeliver the batch: the half-written snapshot is not
    adopted, the redelivered batch resumes the stages committed before the
    kill, and the live KG equals a from-scratch build."""
    boot, batch, want, _ = bootstrapped
    work = os.path.join(tempfile.mkdtemp(prefix="kgkill_"), "work")
    shutil.copytree(boot, work)
    store = os.path.join(work, "store_v00001")

    mt = StreamingKGMaintainer(spark, work)
    monkeypatch.setenv("KG_FAIL_BEFORE_STAGE", stage)
    with pytest.raises(RuntimeError, match=f"before stage '{stage}'"):
        mt.apply_batch(_event_df(spark, batch), 1)
    monkeypatch.delenv("KG_FAIL_BEFORE_STAGE")
    committed = _manifests(store)
    assert set(committed) == set(BATCH_STAGES[:BATCH_STAGES.index(stage)])

    mt2 = StreamingKGMaintainer(spark, work)
    assert mt2.version == 0
    mt2.apply_batch(_event_df(spark, batch), 1)
    assert mt2.version == 1
    resumed = _manifests(store)
    assert set(resumed) == set(BATCH_STAGES)
    assert all(resumed[s] == t for s, t in committed.items())
    for name, cols in LIVE_COLS.items():
        assert _rows(mt2.last_outputs[name], cols) == want[name], name
    # the reuse counts are observed on the scored_pairs write, so a batch
    # that resumed that stage has none
    assert (mt2.history[-1]["stats"] is None) == ("scored_pairs" in committed)


def test_other_batch_does_not_resume_half_written_snapshot(
        spark, bootstrapped, monkeypatch):
    """Batch 1 dies before ``prepared`` with its diff and triples
    committed. After a restart, a DIFFERENT batch 2 lands at the
    same version: it must start that snapshot empty, so the live KG equals
    a from-scratch build of batch 2's fold, with batch 1's rows nowhere."""
    boot, batch1, _, v1 = bootstrapped
    work = os.path.join(tempfile.mkdtemp(prefix="kgother_"), "work")
    shutil.copytree(boot, work)
    store = os.path.join(work, "store_v00001")

    monkeypatch.setenv("KG_FAIL_BEFORE_STAGE", "prepared")
    with pytest.raises(RuntimeError, match="before stage 'prepared'"):
        StreamingKGMaintainer(spark, work).apply_batch(
            _event_df(spark, batch1), 1
        )
    monkeypatch.delenv("KG_FAIL_BEFORE_STAGE")
    assert set(_manifests(store)) == {"_changed_files", "triples"}

    # batch 2: rename a class in a dst-side file, add one file
    v2 = v1.copy()
    i = v2.index[v2.repo.str.startswith("org0003")][0]
    v2.loc[i, "content"] = v2.loc[i, "content"].replace(
        "class", "class Other", 1
    )
    new_row = v1.iloc[0].copy()
    new_row["path"] = "src/new/otheradd000.scala"
    new_row["content"] = "class OtherAddedHelper {\n}\n"
    v2.loc[len(v2)] = new_row

    mt = StreamingKGMaintainer(spark, work)
    assert mt.version == 0
    mt.apply_batch(_event_df(spark, _events(v2, v1, seq0=1000)), 2)
    assert mt.version == 1
    assert mt.history[-1]["stats"]["n_files_changed"] == 2
    assert _files(mt.prev_store) == _corpus_files(v2)
    want = _live_rows(spark, v2)
    for name, cols in LIVE_COLS.items():
        assert _rows(mt.last_outputs[name], cols) == want[name], name
