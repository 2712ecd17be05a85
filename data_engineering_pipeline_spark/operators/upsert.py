"""Idempotent merge-by-key writer (op-sink-upsert).

The reference gets idempotency from `INSERT ... ON CONFLICT (key) DO
UPDATE` with unique constraints (database.py:119-131, README1.md:128-132).
Parquet has no constraints, so the engine provides the two standard Spark
idioms:

- `merge_last_write_wins(old, new, keys, order_col)`: pure-DataFrame merge
  — union + `row_number() over (partition by keys order by version desc)`
  = 1. Works on any DataFrames; one shuffle on the key.
- `upsert_parquet(...)`: read-merge-write for a Parquet path, the one
  upsert path for plain Parquet layers. It stages the merged rows and
  swaps them in through sources/dirswap.py, emulating the reference's
  commit-on-success scope (database.py:60-71). With `partition_cols`
  only the partitions the batch touches are read and swapped (dynamic
  partition overwrite), the form that holds up at 100 TB.
  Single-writer, like the reference.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.sources.dirswap import DirSwap


def merge_last_write_wins(
    old: DataFrame | None,
    new: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep exactly one row per key: the one with the greatest `order_col`,
    preferring `new` over `old` on ties (ON CONFLICT DO UPDATE semantics,
    database.py:124-130)."""
    new_tagged = new.withColumn("__src", F.lit(1))
    unioned = (
        new_tagged
        if old is None
        else old.withColumn("__src", F.lit(0)).unionByName(new_tagged)
    )
    order = [F.col(order_col).desc(), F.col("__src").desc()]
    if tiebreak:
        order += [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def upsert_parquet(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    keys: list[str],
    order_col: str,
    partition_cols: list[str] | None = None,
) -> int:
    """Merge `new` into the Parquet table at `path`. Re-running with the
    same input leaves the table unchanged (idempotency property,
    README1.md:128-132). Returns the number of rows written: the whole
    merged table, or with `partition_cols` the touched partitions.

    Without `partition_cols` the whole table is read, merged and
    swapped in as one unit. With them the table is laid out
    hive-partitioned, so downstream scans filtered on those columns
    prune directories (the SURVEY §4.2 default for the cleaned layer),
    and only the partitions the batch touches are read, rewritten and
    swapped: the touched partition VALUES are collected (one row per
    partition, not per record), the old side is read through a
    partition-pruned filter, and untouched partitions are never read,
    shuffled or rewritten. Keys must not move between partitions
    (partition_cols ⊆ the key's functional dependencies), the standard
    constraint for a partition-scoped MERGE. A table that does not
    exist yet is written whole either way.

    The merged rows are fully staged before anything live is touched
    (so the lazy read of the live table completes first), then
    swapped in through sources/dirswap.py, which also heals a previous
    run's interrupted swap before the table is read."""
    swap = DirSwap(path)
    old = None
    if os.path.exists(path):
        old = spark.read.parquet(path)
        if partition_cols:
            touched = new.select(*partition_cols).distinct().collect()
            if not touched:
                return 0  # empty batch: nothing to merge, table untouched
            pred = None
            for r in touched:
                clause = None
                for c in partition_cols:
                    eq = F.col(c).eqNullSafe(F.lit(r[c]))
                    clause = eq if clause is None else (clause & eq)
                pred = clause if pred is None else (pred | clause)
            old = old.filter(pred)
    merged = merge_last_write_wins(old, new, keys, order_col)
    writer = merged.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    with swap.writing():
        writer.parquet(swap.stage)
        # explicit schema: an EMPTY merged frame under partitionBy
        # writes no data files, and schema inference over that raises —
        # the count must come back 0, not AnalysisException. Counting
        # the stage costs no second pass over the live table.
        n = spark.read.schema(merged.schema).parquet(swap.stage).count()
    units = None  # the whole table
    if partition_cols and old is not None:
        # the staged hive leaves are exactly the touched partitions
        leaves = glob.glob(os.path.join(
            glob.escape(swap.stage), *["*=*"] * len(partition_cols)
        ))
        units = sorted(os.path.relpath(d, swap.stage) for d in leaves)
    swap.commit(units)
    return n
