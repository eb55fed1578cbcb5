"""Single-node pandas oracle — the "reference matcher" of BASELINE.md.

A faithful port of the reference's *scoring semantics* run exactly the way the
reference runs them: full cartesian per kind (alignNodesOneByOne,
AbstractMatcher.java:519-678 — no blocking), BSM tier cascade, PSM weighted
AMSub+Edit, VMM TF-IDF cosine, plain-average combination, greedy 1-1 selection
(chooseBestN, ArraySimilarityMatrix.java:513-566) with the deterministic
tie-break (sim DESC, src_uri ASC, dst_uri ASC).

It shares `parse_file`, `textnorm` and `simkernels` with the Spark pipeline,
so any P/R gap between pipeline and oracle is attributable to blocking recall
or floating-point summation order — the things we actually want to measure.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from ..functions import simkernels, textnorm
from ..operators.extract import entity_uri, parse_file


def extract_entities_pd(src_files: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for r in src_files.itertuples(index=False):
        parsed = parse_file(r.repo, r.path, r.commit, r.lang, r.content)
        for e in parsed["entities"]:
            rows.append(
                {
                    "uri": entity_uri(r.repo, r.path, e["kind"], e["name"]),
                    "local_name": e["name"],
                    "kind": e["kind"],
                    "repo": r.repo,
                    "path": r.path,
                }
            )
    return pd.DataFrame(
        rows, columns=["uri", "local_name", "kind", "repo", "path"]
    )


def _prep(entities: pd.DataFrame) -> pd.DataFrame:
    e = entities.copy()
    e["norm_name"] = e["local_name"].map(textnorm.normalize)
    e["stem_name"] = e["local_name"].map(lambda s: textnorm.normalize(s, stem=True))
    e["nodigit_name"] = e["local_name"].map(
        lambda s: textnorm.normalize(s, stem=True, strip_digits=True)
    )
    e["tokens"] = e["norm_name"].map(lambda s: s.split(" ") if s else [])
    # virtual document: own tokens + module sibling tokens + path tokens,
    # sorted distinct (matches operators.matchers.with_virtual_doc).
    path_toks = e["path"].map(
        lambda p: textnorm.normalize(
            p.rsplit(".", 1)[0] if "." in p.rsplit("/", 1)[-1] else p
        ).split(" ")
    )
    module_tokens: dict[tuple, list] = {}
    for (repo, path), grp in e.groupby(["repo", "path"]):
        toks: list[str] = []
        for t in grp["tokens"]:
            toks.extend(t)
        module_tokens[(repo, path)] = toks
    e["doc_tokens"] = [
        sorted(
            set(tok)
            | set(module_tokens[(repo, path)])
            | set(pt)
            - {""}
        )
        for tok, repo, path, pt in zip(e["tokens"], e["repo"], e["path"], path_toks)
    ]
    e["doc_tokens"] = e["doc_tokens"].map(lambda ts: [t for t in ts if t])
    return e


def _bsm(s: pd.Series, d: pd.Series) -> float:
    if s["local_name"] == d["local_name"]:
        return 1.0
    if s["norm_name"] == d["norm_name"]:
        return 0.95
    if s["stem_name"] == d["stem_name"]:
        return 0.9
    if s["nodigit_name"] == d["nodigit_name"] and len(s["nodigit_name"]) > 0:
        return 0.8
    return 0.0


def _psm(s, d, w_local=0.33, w_label=0.34, w_doc=0.33) -> float:
    sims, weights = [], []
    if s["local_name"] and d["local_name"]:
        sims.append(simkernels.amsub_edit(s["local_name"], d["local_name"]))
        weights.append(w_local)
    if s["norm_name"] and d["norm_name"]:
        sims.append(simkernels.amsub_edit(s["norm_name"], d["norm_name"]))
        weights.append(w_label)
    if s["doc_tokens"] and d["doc_tokens"]:
        sims.append(simkernels.token_jaccard(s["doc_tokens"], d["doc_tokens"]))
        weights.append(w_doc)
    total = sum(weights)
    if total == 0:
        return 0.0
    return sum(x * w for x, w in zip(sims, weights)) / total


def tfidf_vectors(docs: list[list[str]]) -> list[dict[str, float]]:
    """One TF-IDF vector per doc, w = tf * ln(N/df), N = len(docs)."""
    n_docs = len(docs)
    df_counter: Counter = Counter()
    for toks in docs:
        df_counter.update(set(toks))
    return [
        {t: c * math.log(n_docs / df_counter[t])
         for t, c in Counter(toks).items()}
        for toks in docs
    ]


def cosine(v1: dict, v2: dict) -> float:
    """Cosine of two sparse vectors; 0 when either norm is 0."""
    if len(v2) < len(v1):
        v1, v2 = v2, v1
    dot = sum(w * v2.get(t, 0.0) for t, w in v1.items())
    n1 = math.sqrt(sum(w * w for w in v1.values()))
    n2 = math.sqrt(sum(w * w for w in v2.values()))
    if n1 == 0 or n2 == 0:
        return 0.0
    return dot / (n1 * n2)


def match_oracle(
    src_files_src: pd.DataFrame,
    src_files_dst: pd.DataFrame,
    threshold: float = 0.6,
) -> pd.DataFrame:
    """Full reference-semantics match → selected alignment
    (src_uri, dst_uri, sim)."""
    src = _prep(extract_entities_pd(src_files_src))
    dst = _prep(extract_entities_pd(src_files_dst))

    # TF-IDF corpus over BOTH sides (MultiWordsMatcher.java:122-149)
    vecs = tfidf_vectors(list(src["doc_tokens"]) + list(dst["doc_tokens"]))
    src_vecs, dst_vecs = vecs[: len(src)], vecs[len(src):]

    # full cartesian per kind — the reference's alignNodesOneByOne
    pairs = []
    src_rows = list(src.iterrows())
    dst_rows = list(dst.iterrows())
    for i, srow in src_rows:
        for j, drow in dst_rows:
            if srow["kind"] != drow["kind"]:
                continue
            bsm = _bsm(srow, drow)
            psm = _psm(srow, drow)
            vmm = cosine(src_vecs[i], dst_vecs[j])
            # same 12-decimal rounding as the pipeline (selection tie stability)
            sim = round((bsm + psm + vmm) / 3.0, 12)
            if sim >= threshold:
                pairs.append((srow["uri"], drow["uri"], sim))

    # greedy 1-1 (chooseBestN): global max first, deterministic tie-break
    pairs.sort(key=lambda t: (-t[2], t[0], t[1]))
    used_src: set[str] = set()
    used_dst: set[str] = set()
    out = []
    for s_uri, d_uri, sim in pairs:
        if s_uri in used_src or d_uri in used_dst:
            continue
        used_src.add(s_uri)
        used_dst.add(d_uri)
        out.append({"src_uri": s_uri, "dst_uri": d_uri, "sim": sim})
    return pd.DataFrame(out, columns=["src_uri", "dst_uri", "sim"])
