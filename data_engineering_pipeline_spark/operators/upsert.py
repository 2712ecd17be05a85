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
  commit-on-success scope (database.py:60-71). The whole table is one
  swap unit. Single-writer, like the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
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
) -> int:
    """Merge `new` into the Parquet table at `path`. Re-running with the
    same input leaves the table unchanged (idempotency property,
    README1.md:128-132). Returns the number of rows in the merged
    table.

    The whole table is read, merged and swapped in as one unit. The
    merged rows are fully staged before anything live is touched (so
    the lazy read of the live table completes first), then swapped in
    through sources/dirswap.py, which also heals a previous run's
    interrupted swap before the table is read.

    The returned count is an Observation on the rows the staging write
    consumes, so counting adds no job. It sits above the merge's
    window, in the write's result stage, so a retried map task cannot
    count its rows twice; a merged frame that folds to an empty
    relation still reports 0."""
    swap = DirSwap(path)
    old = spark.read.parquet(path) if os.path.exists(path) else None
    obs = Observation()
    merged = merge_last_write_wins(old, new, keys, order_col).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    with swap.writing():
        merged.write.mode("overwrite").parquet(swap.stage)
    n = obs.get["n"]
    swap.commit()
    return n
