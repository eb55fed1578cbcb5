"""Triple / entity extraction from source code — the analog of the reference's
ontology scan (`ontologyParser/OntoTreeBuilder.java:165-253,339-460`: parse a
document, walk declarations, build Node lists + edges).

One pure-Python per-file grammar (`parse_file`) is shared by:
  - the Spark path: ``extract_triples`` via ``mapInPandas`` (batched Arrow
    UDTF — one file row in, many rows out, SURVEY.md §2.9), whose output
    ``entities_from_triples`` projects to the entity table, and
  - the single-node oracle (oracle/matcher_oracle.py),
so both sides see byte-identical entities. Like the reference, each file
is parsed once and both its nodes and its edges come from that parse.

Lineage: every emitted row carries (repo, path, commit, content_sha256) — the
per-row invariant required by BASELINE.json `input_hint` (sha256(content)
equality vs the source row).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

# --- per-lang grammars (intentionally regular; corpus/generator.py renders
# exactly these surface forms) -------------------------------------------------

_GRAMMARS: dict[str, list[tuple[str, re.Pattern]]] = {
    "python": [
        ("class", re.compile(r"^class (\w+):")),
        ("function", re.compile(r"^def (\w+)\(")),
        ("import", re.compile(r"^import ([\w.]+)")),
    ],
    "java": [
        ("class", re.compile(r"^public class (\w+)")),
        ("function", re.compile(r"^public static void (\w+)\(")),
        ("import", re.compile(r"^import ([\w.]+);")),
    ],
    "scala": [
        ("class", re.compile(r"^(?:class|object|trait) (\w+)")),
        ("function", re.compile(r"^def (\w+)\(")),
        ("import", re.compile(r"^import ([\w.]+)")),
    ],
    # generic XML tree (XmlTreeBuilder analog, ontologyParser/XmlTreeBuilder
    # .java — the reference also reads non-code ontology encodings)
    "xml": [
        ("class", re.compile(r"^\s*<class name=\"(\w+)\"\s*/?>")),
        ("function", re.compile(r"^\s*<function name=\"(\w+)\"\s*/?>")),
        ("import", re.compile(r"^\s*<import module=\"([\w.]+)\"\s*/?>")),
    ],
}


def entity_uri(repo: str, path: str, kind: str, name: str) -> str:
    return f"{repo}/{path}#{kind}/{name}"


def module_uri(repo: str, path: str) -> str:
    return f"{repo}/{path}"


def module_name(path: str) -> str:
    """File stem: 'src/util/mod003.py' → 'mod003'."""
    base = path.rsplit("/", 1)[-1]
    return base.rsplit(".", 1)[0] if "." in base else base


def parse_file(repo: str, path: str, commit: str, lang: str, content: str) -> dict:
    """Parse one file → {'entities': [...], 'imports': [...], 'sha': hex}."""
    sha = hashlib.sha256(content.encode()).hexdigest()
    grammar = _GRAMMARS.get(lang, _GRAMMARS["python"])
    entities: list[dict] = []
    imports: list[str] = []
    seen: set[tuple[str, str]] = set()
    for line in content.split("\n"):
        for kind, rx in grammar:
            m = rx.match(line)
            if not m:
                continue
            name = m.group(1)
            if kind == "import":
                imports.append(name)
            elif (kind, name) not in seen:
                seen.add((kind, name))
                entities.append({"kind": kind, "name": name})
            break
    return {"entities": entities, "imports": imports, "sha": sha}


def triples_from_file(repo: str, path: str, commit: str, lang: str,
                      content: str) -> list[dict]:
    """(subj, pred, obj) triples + lineage for one file (FIXTURES.md §2)."""
    parsed = parse_file(repo, path, commit, lang, content)
    mod = module_uri(repo, path)
    lineage = {
        "repo": repo,
        "path": path,
        "commit": commit,
        "content_sha256": parsed["sha"],
    }
    out: list[dict] = [
        {"subj": mod, "pred": "hasName", "obj": module_name(path), **lineage},
        {"subj": mod, "pred": "hasKind", "obj": "module", **lineage},
    ]
    for e in parsed["entities"]:
        uri = entity_uri(repo, path, e["kind"], e["name"])
        out.append({"subj": mod, "pred": "declares", "obj": uri, **lineage})
        out.append({"subj": uri, "pred": "hasName", "obj": e["name"], **lineage})
        out.append({"subj": uri, "pred": "hasKind", "obj": e["kind"], **lineage})
    for imp in parsed["imports"]:
        out.append({"subj": mod, "pred": "imports", "obj": imp, **lineage})
    return out


TRIPLE_SCHEMA = StructType(
    [
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("content_sha256", StringType()),
    ]
)

_TRIPLE_COLS = [f.name for f in TRIPLE_SCHEMA.fields]


def extract_triples(src_files: DataFrame) -> DataFrame:
    """src_files → triples, batched per Arrow batch (mapInPandas)."""

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                rows.extend(
                    triples_from_file(r.repo, r.path, r.commit, r.lang, r.content)
                )
            yield pd.DataFrame(rows, columns=_TRIPLE_COLS)

    return src_files.select("repo", "path", "commit", "lang", "content").mapInPandas(
        emit, schema=TRIPLE_SCHEMA
    )


def entities_from_triples(triples: DataFrame) -> DataFrame:
    """triples → entities(uri, local_name, kind, lineage…): one row per
    module and per declared entity, each subject's hasName paired with its
    hasKind. The pairing groups on the lineage too, so a name and a kind
    meet only within the file that emitted them. One aggregation is
    cheaper here than a names ⋈ kinds self-join: one shuffle, not two
    scans and a join."""
    lineage = ["repo", "path", "commit", "content_sha256"]
    pred, obj = F.col("pred"), F.col("obj")
    return (
        triples.filter(pred.isin("hasName", "hasKind"))
        .groupBy(F.col("subj").alias("uri"), *lineage)
        .agg(F.max(F.when(pred == "hasName", obj)).alias("local_name"),
             F.max(F.when(pred == "hasKind", obj)).alias("kind"))
        .select("uri", "local_name", "kind", *lineage)
    )


def entity_id_col(uri: Column) -> Column:
    """Stable 63-bit entity id of a URI (deterministic across runs and
    parallelism levels — the reference's dense `Node.index` is insertion-order
    based, AMNode.java:50-106, which is not reproducible under parallelism;
    a content-derived id is)."""
    return F.conv(F.substring(F.sha2(uri, 256), 1, 15), 16, 10).cast("long")


def module_id_col() -> Column:
    """The KG's one containment rule: the id of the module of the row's own
    file (``module_uri(repo, path)``), which declares every class and
    function of that file."""
    return entity_id_col(F.concat_ws("/", "repo", "path"))


def with_entity_ids(entities: DataFrame) -> DataFrame:
    """entities + ``entity_id`` of their ``uri`` (``entity_id_col``)."""
    return entities.withColumn("entity_id", entity_id_col(F.col("uri")))
