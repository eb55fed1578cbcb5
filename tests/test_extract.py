"""Extractor tests: per-lang grammar, sha256 lineage invariant
(BASELINE.json input_hint), Spark/pure-Python agreement."""

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from ontologymatching_spark.operators import extract

PY = "import os\nclass FooBar:\n    pass\ndef do_thing():\n    return None\n"
JAVA = (
    "package org.x;\nimport com.a.b;\npublic class FooBar {\n}\n"
    "public static void doThing() {\n}\n"
)
SCALA = "import os\nclass FooBar {\n}\ndef doThing(): Unit = {}\n"
XML = (
    '<module name="mod9">\n'
    '  <import module="other.mod"/>\n'
    '  <class name="FooBar"/>\n'
    '  <function name="do_thing"/>\n'
    "</module>\n"
)
ENTITY_COLS = ["uri", "local_name", "kind", "repo", "path", "commit",
               "content_sha256"]


def _entities_py(src_files: pd.DataFrame) -> list[tuple]:
    """The entity table straight from ``parse_file``: one module row per
    file plus one row per declaration, with the file's lineage."""
    rows = []
    for r in src_files.itertuples(index=False):
        parsed = extract.parse_file(r.repo, r.path, r.commit, r.lang, r.content)
        lineage = (r.repo, r.path, r.commit, parsed["sha"])
        rows.append((extract.module_uri(r.repo, r.path),
                     extract.module_name(r.path), "module", *lineage))
        for e in parsed["entities"]:
            rows.append((extract.entity_uri(r.repo, r.path, e["kind"],
                                            e["name"]),
                         e["name"], e["kind"], *lineage))
    return sorted(rows)


def test_parse_file_langs():
    for lang, content in [("python", PY), ("java", JAVA), ("scala", SCALA)]:
        parsed = extract.parse_file("r", "p", "c", lang, content)
        kinds = sorted(e["kind"] for e in parsed["entities"])
        assert kinds == ["class", "function"], lang
        assert len(parsed["imports"]) == 1, lang
        assert parsed["sha"] == hashlib.sha256(content.encode()).hexdigest()


def test_extract_triples_spark(spark, small_corpus):
    src_files, _ = small_corpus
    sf = spark.createDataFrame(src_files)
    triples = extract.extract_triples(sf)
    # Spark-side mapInPandas output == pure-Python reference, row for row
    got = triples.toPandas()
    want_rows = []
    for r in src_files.itertuples(index=False):
        want_rows.extend(
            extract.triples_from_file(r.repo, r.path, r.commit, r.lang, r.content)
        )
    assert len(got) == len(want_rows)
    key = ["subj", "pred", "obj"]
    got_set = set(map(tuple, got[key].values))
    want_set = {(r["subj"], r["pred"], r["obj"]) for r in want_rows}
    assert got_set == want_set


def test_sha256_invariant(spark, small_corpus):
    """Per-row invariant: emitted content_sha256 == sha2(content) of the
    source row, checked in Spark itself (F.sha2 vs hashlib in mapInPandas)."""
    src_files, _ = small_corpus
    sf = spark.createDataFrame(src_files)
    triples = extract.extract_triples(sf)
    src_sha = sf.select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("expected_sha")
    )
    joined = triples.join(src_sha, ["repo", "path"])
    assert joined.count() == triples.count() > 0
    assert joined.filter(
        F.col("content_sha256") != F.col("expected_sha")
    ).count() == 0


def test_entities_from_triples_crosscheck(spark, small_corpus):
    """The entity table the pipeline derives from the triples equals the
    one ``parse_file`` gives directly, on all seven columns, for the
    generator corpus plus a module with no declarations and an xml file."""
    src_files, _ = small_corpus
    extra = pd.DataFrame([
        {"repo": "org0000/x", "path": "src/empty/bare.py", "commit": "c0",
         "lang": "python", "content": "import os\n\n"},
        {"repo": "org0001/x", "path": "onto/mod9.xml", "commit": "c1",
         "lang": "xml", "content": XML},
    ])
    files = pd.concat([src_files[extra.columns], extra], ignore_index=True)
    derived = extract.entities_from_triples(
        extract.extract_triples(spark.createDataFrame(files))
    )
    assert derived.columns == ENTITY_COLS
    want = _entities_py(files)
    assert sorted(map(tuple, derived.collect())) == want
    assert ("org0000/x/src/empty/bare.py", "bare", "module", "org0000/x",
            "src/empty/bare.py", "c0",
            hashlib.sha256(b"import os\n\n").hexdigest()) in want
    assert len([r for r in want if r[4] == "onto/mod9.xml"]) == 3


def test_entity_ids_stable(spark, small_corpus):
    src_files, _ = small_corpus
    sf = spark.createDataFrame(src_files)
    e = extract.with_entity_ids(
        extract.entities_from_triples(extract.extract_triples(sf))
    )
    # deterministic: same uri → same id on recompute; ids unique per uri
    pdf = e.select("uri", "entity_id").toPandas()
    assert pdf.groupby("uri")["entity_id"].nunique().max() == 1
    assert pdf["entity_id"].min() >= 0  # 15 hex chars < 2^63, never negative


def test_parse_xml_grammar():
    parsed = extract.parse_file("r", "p.xml", "c", "xml", XML)
    kinds = sorted(e["kind"] for e in parsed["entities"])
    assert kinds == ["class", "function"]
    assert parsed["imports"] == ["other.mod"]
