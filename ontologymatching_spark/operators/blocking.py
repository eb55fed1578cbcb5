"""Candidate-pair blocking — replaces the reference's O(n·m) cartesian
``alignNodesOneByOne`` (AbstractMatcher.java:519-678) with key-based
equi-joins, the idea the reference itself sketches in GroupFinder
(groupFinder/GroupFinderMatcher.java:26-180: partition, match groups, match
within groups).

Strategies (all JVM-side; a pair is a candidate if it shares ANY key):
  - ``exact``  : full tier-2-normalized name → BSM tiers 1-2 never missed
  - ``tier4``  : SORTED tier-4 tokens (stem + digit-strip) → BSM tiers 3-4
                 and word-reorder (ASM inversion,
                 AdvancedSimilarityMatcher.java:31-317) never missed
  - ``token``  : each tier-4 token — a typo'd name still collides on its
                 unchanged tokens (capped)
  - ``prefix`` : first 4 chars of the squashed normalized name —
                 single-token-typo net (capped)

Scale levers:
  - per-key cap: token/prefix keys whose cross-product exceeds
    ``max_block_pairs`` are dropped (blocking stop-words — 'main', 'utils');
    the exact/tier4 keys are never dropped (their pairs are high-sim by
    construction).
  - hot exact keys are *salted* via ``salted_exact_pairs``: explicit
    replicate-small-side salting for when AQE skew splitting is unavailable
    (the north rule's explicit skew handling; unit-tested equivalent output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KEY_EXACT = "exact"
KEY_TIER4 = "tier4"
KEY_TOKEN = "token"
KEY_PREFIX = "prefix"

# never capped: these carry the BSM-cascade tiers
UNCAPPED = (KEY_EXACT, KEY_TIER4)


def _keys() -> Column:
    """An entity's blocking keys as one array<struct<key, strategy>>.

    ``kind`` is part of every key: the reference never matches classes against
    properties (alignType CLASSES/PROPERTIES, AbstractMatcher.java:147-189).
    Redundant-emission pruning (shuffle volume, not recall):
      - token keys only for multi-token names (a single-token name's token
        block IS its tier4 block, which is always emitted — note tier4 must
        be emitted UNCONDITIONALLY: pruning it when equal to the norm name
        would one-sidedly drop 'parser' from the block that 'parsers' maps
        into, losing the stem pair), once per distinct token
      - prefix keys only for single-token names (multi-token typos are
        caught by the surviving tokens)"""
    kind, norm = F.col("kind"), F.col("norm_name")
    nodigit = F.col("nodigit_name")
    n_toks = F.size(F.split(norm, " "))

    def key(k, strategy):
        return F.struct(F.concat_ws("|", kind, k).alias("key"),
                        F.lit(strategy).alias("strategy"))

    toks = F.array_distinct(
        F.filter(F.split(nodigit, " "), lambda t: F.length(t) > 0))
    token = F.transform(F.when(n_toks > 1, toks), lambda t: key(t, KEY_TOKEN))
    fixed = F.array(
        key(norm, KEY_EXACT),
        key(F.array_join(F.array_sort(F.split(nodigit, " ")), " "), KEY_TIER4),
        F.when((n_toks == 1) & (F.length(norm) >= 4), key(
            F.substring(F.regexp_replace(norm, " ", ""), 1, 4), KEY_PREFIX)),
    )
    return F.filter(F.concat(fixed, F.coalesce(token, F.array())),
                    lambda k: k.isNotNull())


def candidate_pairs(
    src_entities: DataFrame,
    dst_entities: DataFrame,
    max_block_pairs: int = 10_000,
) -> DataFrame:
    """→ distinct (src_id, dst_id). Cross-side equi-join per key with per-key
    caps on the fuzzy strategies; dedup across strategies.

    One keyed pass over both sides: each entity's keys are exploded once,
    the per-key side counts are windows over (key, strategy), and the
    under-cap blocks are a self-join on that same key, so the key shuffle
    is paid once.

    Degenerate hot blocks (FIXTURES.md §3.7 — thousands of identical 'main'/
    'utils' names): an exact/tier4 block with s_n*d_n > max_block_pairs would
    emit a quadratic pair set whose members are all near-identical-sim; the
    1-1 selection can keep at most min(s_n, d_n) of them, and for an isolated
    equal-sim complete bipartite block greedy selection equals the rank-zip
    of the two uri-sorted sides. So oversized exact-tier blocks are resolved
    by rank-zip directly (linear, deterministic) instead of expanding n*m
    candidates. This deviates from full reference semantics only inside
    such blocks (where PSM/VMM doc similarity could reorder equal-name
    pairs); test corpora for the P/R gate keep blocks under the cap.
    Token/prefix blocks over the cap are dropped (blocking stop-words —
    'main', 'utils')."""
    need = ["entity_id", "uri", "kind", "norm_name", "nodigit_name"]
    keyed = (
        src_entities.select(*need, F.lit(True).alias("is_src"))
        .unionByName(dst_entities.select(*need, F.lit(False).alias("is_src")))
        .select("entity_id", "uri", "is_src", F.explode(_keys()).alias("k"))
        .select("entity_id", "uri", "is_src", "k.key", "k.strategy")
    )
    block = Window.partitionBy("key", "strategy")
    counted = (
        keyed.withColumn("s_n", F.count(F.when(F.col("is_src"), 1)).over(block))
        .withColumn("d_n", F.count(F.when(~F.col("is_src"), 1)).over(block))
        .filter((F.col("s_n") > 0) & (F.col("d_n") > 0))
    )
    over_cap = F.col("s_n") * F.col("d_n") > F.lit(max_block_pairs)

    def sides(df: DataFrame, *cols: str) -> DataFrame:
        s = df.filter(F.col("is_src")).select(
            *cols, F.col("entity_id").alias("src_id"))
        d = df.filter(~F.col("is_src")).select(
            *cols, F.col("entity_id").alias("dst_id"))
        return s.join(d, list(cols)).select("src_id", "dst_id")

    pairs = sides(counted.filter(~over_cap), "key", "strategy")
    # rank-zip the oversized exact-tier blocks
    hot = counted.filter(over_cap & F.col("strategy").isin(*UNCAPPED))
    ranked = hot.withColumn("rnk", F.row_number().over(
        Window.partitionBy("key", "strategy", "is_src").orderBy("uri")))
    zipped = sides(ranked, "key", "strategy", "rnk")
    return pairs.unionByName(zipped).dropDuplicates(["src_id", "dst_id"])


def salted_exact_pairs(
    src_entities: DataFrame,
    dst_entities: DataFrame,
    salt_buckets: int = 16,
) -> DataFrame:
    """Explicit salted variant of the exact-key join, for hot keys ('main',
    'utils' — FIXTURES.md §3.7): the src side is split into ``salt_buckets``
    by a hash of the entity id, the dst side is replicated into every bucket,
    and the join key becomes (key, salt) — no single reducer sees a whole hot
    key. Same output as the unsalted equi-join (dedup'd); used when AQE is
    unavailable and as the skew unit test."""
    s = src_entities.select(
        "entity_id",
        F.concat_ws("|", F.col("kind"), F.col("norm_name")).alias("key"),
    ).withColumn("salt", F.pmod(F.hash("entity_id"), F.lit(salt_buckets)))
    d = dst_entities.select(
        "entity_id",
        F.concat_ws("|", F.col("kind"), F.col("norm_name")).alias("key"),
    ).withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return (
        s.withColumnRenamed("entity_id", "src_id")
        .join(d.withColumnRenamed("entity_id", "dst_id"), ["key", "salt"])
        .select("src_id", "dst_id")
        .dropDuplicates(["src_id", "dst_id"])
    )
