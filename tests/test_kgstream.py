"""Streaming KG maintenance (streaming/kgstream.py): draining a stream of
file upserts/tombstones leaves EXACTLY the batch KGPipeline's outputs for
the folded corpus — the incremental plan's rebuild-equality invariant
applied per microbatch — with pair-local reuse actually happening on delta
batches, last-writer-wins within a batch, bounded store retention, and
kill-and-restart recovery from the newest complete snapshot."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pandas as pd
import pytest

from ontologymatching_spark.corpus.generator import generate_corpus
from ontologymatching_spark.plans.checkpoint import CheckpointStore
from ontologymatching_spark.plans.pipeline import KGPipeline
from ontologymatching_spark.streaming.kgstream import (
    FILE_EVENT_SCHEMA,
    StreamingKGMaintainer,
    read_file_events,
)

ALIGN_COLS = ["src_uri", "dst_uri", "sim"]
EDGE_COLS = ["src_canonical", "dst_canonical", "pred", "repo", "path"]
EVENT_COLS = ["repo", "path", "commit", "lang", "content", "deleted", "seq"]
CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


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
    # path that e2 also upserts — the fold must keep the e2 (higher-seq) row
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

    mt = StreamingKGMaintainer(spark, work, with_stats=True, retain=2)
    mt.maintain(read_file_events(spark, src))
    return v1, v2, v3, work, src, mt


def test_stream_folds_to_final_corpus(spark, stream_run):
    _, _, v3, _, _, mt = stream_run
    assert [h["version"] for h in mt.history] == [0, 1, 2]
    got = spark.read.parquet(mt.corpus_path)
    want = spark.createDataFrame(v3[CORPUS_COLS])
    assert _rows(got, CORPUS_COLS) == _rows(want, CORPUS_COLS)
    # the history's counts come from the write observation and the stage
    # manifests, not from count jobs: they must still be the row counts
    last = mt.history[-1]
    assert last["n_files"] == len(v3)
    assert last["n_alignment"] == mt.last_outputs["alignment"].count()
    assert last["n_edges"] == mt.last_outputs["edges"].count()


def test_stream_equals_batch_rebuild(spark, stream_run):
    _, _, v3, _, _, mt = stream_run
    full = KGPipeline(
        spark, CheckpointStore(spark, tempfile.mkdtemp(prefix="kgs_full_"))
    ).run(spark.createDataFrame(v3))
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


def test_stream_restart_recovers_and_continues(spark, stream_run):
    v1, _, v3, work, src, mt = stream_run
    # retention: with retain=2 after 3 batches, version 0 is pruned
    assert not os.path.exists(os.path.join(work, "store_v00000"))
    assert os.path.exists(os.path.join(work, "store_v00002"))

    # a NEW maintainer on the same work_dir adopts the newest complete
    # snapshot (version 2) instead of re-bootstrapping
    mt2 = StreamingKGMaintainer(spark, work, with_stats=True, retain=2)
    assert mt2.version == 2 and mt2.prev_store is not None

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

    mt = StreamingKGMaintainer(spark, work, with_stats=True)
    mt.maintain(read_file_events(spark, src))

    assert [h["version"] for h in mt.history] == [0, 1]
    assert mt.history[1]["stats"]["n_files_changed"] == 0  # pure deletion
    got = spark.read.parquet(mt.corpus_path)
    assert _rows(got, CORPUS_COLS) == _rows(
        spark.createDataFrame(v2[CORPUS_COLS]), CORPUS_COLS
    )
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
    different content: the fold must pick the same one whichever row comes
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
        corpora.append(_rows(spark.read.parquet(mt.corpus_path), CORPUS_COLS))
    assert corpora[0] == corpora[1]
    assert len(corpora[0]) == len(v1)
