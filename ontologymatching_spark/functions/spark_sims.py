"""Spark-side similarity & normalization: JVM Column expressions for the hot
path (whole-stage-codegen friendly), vectorized pandas UDFs only where a kernel
cannot be expressed in built-ins (substring metric, Porter stem, Jaro-Winkler).

Design rule (SURVEY.md §2.9 / input_hint): no per-row Python UDFs — Arrow
batches only, and built-ins preferred over UDFs everywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from . import simkernels, textnorm

# ---------------------------------------------------------------------------
# JVM-side normalization (BSM tier-2): camelCase split + lowercase + strip
# punctuation — pure built-ins, mirrors textnorm.normalize(stem=False).
# ---------------------------------------------------------------------------


def md5int_col(c: Column, nhex: int = 8) -> Column:
    """First ``nhex`` hex chars of md5 as a non-negative bigint — the ONE
    engine-portable hash recipe (DuckDB twin:
    ('0x' || substr(md5(x), 1, nhex))::BIGINT). nhex=8 → 32 bits (bucket
    keys); nhex=15 → 60 bits (membership/collision-sensitive uses; 15 stays
    inside a signed BIGINT in both engines)."""
    return F.conv(F.substring(F.md5(c), 1, nhex), 16, 10).cast("long")


def norm_name_col(c: Column) -> Column:
    """Tier-2 normalization as Catalyst expressions (no Python).
    Must produce byte-identical output to textnorm.normalize(s)."""
    x = F.regexp_replace(c, r"([A-Z]+)([A-Z][a-z])", r"$1 $2")
    x = F.regexp_replace(x, r"([a-z0-9])([A-Z])", r"$1 $2")
    x = F.lower(x)
    x = F.regexp_replace(x, r"[^a-z0-9]+", " ")
    x = F.trim(x)
    return x


def tokens_col(c: Column) -> Column:
    """Tokenize a tier-2-normalized string; empty string → empty array."""
    n = norm_name_col(c)
    return F.when(n == "", F.array().cast("array<string>")).otherwise(F.split(n, " "))


# ---------------------------------------------------------------------------
# JVM-side similarity expressions
# ---------------------------------------------------------------------------


def lev_min_norm_col(a: Column, b: Column) -> Column:
    """Normalized Levenshtein with min-length normalization
    (LevenshteinEditDistance.java:17-53) as a pure JVM expression:
    1 - least(levenshtein(a,b), len_min)/len_min."""
    len_min = F.least(F.length(a), F.length(b))
    d = F.least(F.levenshtein(a, b), len_min).cast("double")
    return (
        F.when((F.length(a) == 0) & (F.length(b) == 0), F.lit(1.0))
        .when(len_min == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) - d / len_min.cast("double"))
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Token-set Jaccard on two array<string> columns via
    array_intersect/array_union (JVM-side)."""
    a_d, b_d = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(a_d, b_d)).cast("double")
    union = F.size(F.array_union(a_d, b_d)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def dice_col(a: Column, b: Column) -> Column:
    a_d, b_d = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(a_d, b_d)).cast("double")
    denom = (F.size(a_d) + F.size(b_d)).cast("double")
    return F.when(denom == 0, F.lit(1.0)).otherwise(F.lit(2.0) * inter / denom)


def shingles_col(c: Column, q: int = 3) -> Column:
    """Character q-gram array of lower(c) — JVM-side via sequence+transform.
    Mirrors textnorm.shingles (QGramSim semantics)."""
    s = F.lower(c)
    n = F.length(s)
    grams = F.transform(
        F.sequence(F.lit(1), n - (q - 1)), lambda i: F.substring(s, i, q)
    )
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < q, F.array(s))
        .otherwise(grams)
    )


def cosine_array_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, fully JVM-side:
    zip_with for the dot product, aggregate for the norms."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def sigmoid_col(x: Column, k: float = 10.0, c: float = 0.5) -> Column:
    """Sigmoid rescale (CombinationMatcher.java:151-153)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-k) * (x - F.lit(c))))


# ---------------------------------------------------------------------------
# Pandas UDFs (Arrow-vectorized) for kernels with no built-in equivalent
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def stem_norm_udf(s: pd.Series) -> pd.Series:
    """Tier-3 normalization: tier-2 + Porter stem (PorterStemmer.java analog)."""
    return s.map(lambda x: textnorm.normalize(x, stem=True))


@F.pandas_udf(StringType())
def stem_nodigit_norm_udf(s: pd.Series) -> pd.Series:
    """Tier-4 normalization: tier-3 + digit strip."""
    return s.map(lambda x: textnorm.normalize(x, stem=True, strip_digits=True))


@F.pandas_udf(DoubleType())
def amsub_edit_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """AMSUB_AND_EDIT = 0.65*AMSubstring + 0.35*lev-min-norm
    (AMSubEditSim.java:7-18)."""
    return pd.Series(
        [simkernels.amsub_edit(x, y) for x, y in zip(a, b)], dtype="float64"
    )


@F.pandas_udf(DoubleType())
def jaro_winkler_boosted_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Boost-threshold Jaro-Winkler (DuckDB/rapidfuzz-compatible variant)."""
    return pd.Series(
        [simkernels.jaro_winkler_boosted(x, y) for x, y in zip(a, b)],
        dtype="float64",
    )


@F.pandas_udf(DoubleType())
def lcs_text_sim_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """ConceptMatcher text kernel: LCS-subsequence length / (len1+len2)
    (ConceptMatcher.java:307-331)."""
    return pd.Series(
        [simkernels.lcs_text_sim(x, y) for x, y in zip(a, b)],
        dtype="float64",
    )
