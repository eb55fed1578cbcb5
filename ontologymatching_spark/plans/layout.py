"""Physical layout helpers: bucketed tables for shuffle-free co-located
joins (SURVEY.md §2.3 note — the reference has no layout control at all;
on a lake this is THE lever that removes the per-join shuffle of the
heavy pair tables).

A pair of tables bucketed by the same key into the same bucket count
sort-merge-join WITHOUT an Exchange on either side: at 100 TB the
candidate-pair ↔ feature joins and the repeated (src_id, dst_id) stage
joins run co-located, paying the shuffle once at write time instead of
once per join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed+sorted session-catalog table. Joins
    between tables bucketed on the same key/count skip the exchange."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # a previous session's managed-table directory can survive in the
        # warehouse with no catalog entry (in-memory catalog), which blocks
        # saveAsTable with LOCATION_ALREADY_EXISTS. Clear it ONLY when the
        # catalog genuinely has no entry left (the stale-orphan case) — an
        # external table's directory that DROP TABLE deliberately keeps, or
        # an append target, must never be deleted.
        import os
        import shutil

        if not spark.catalog.tableExists(table):
            wh = spark.conf.get("spark.sql.warehouse.dir", "")
            if wh.startswith("file:"):
                # qualified names map db.tbl -> <wh>/db.db/tbl
                parts = table.lower().split(".")
                rel = (
                    os.path.join(f"{parts[0]}.db", *parts[1:])
                    if len(parts) > 1
                    else parts[0]
                )
                loc = os.path.join(wh[len("file:"):], rel)
                if os.path.exists(loc):
                    shutil.rmtree(loc)
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
        .format("parquet")
        .saveAsTable(table)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.table(table)


def join_is_shuffle_free(joined: DataFrame) -> bool:
    """True iff the physical plan contains a SortMergeJoin with no
    ShuffleExchange above either scan — the co-located-join assertion used
    by tests and plan audits."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    return "SortMergeJoin" in plan and "Exchange hashpartitioning" not in plan
