"""Pipeline observability via Spark's Observation API.

Production pipelines need row counts, null rates, and domain checks on
every run — but a separate `df.count()`/agg per metric re-executes the
plan. `df.observe()` piggybacks metric accumulators on the SAME action
that materializes the data (zero extra passes, zero extra shuffles), so
a 100 TB write reports its own audit numbers for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame, name: str, **metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach named metric expressions to `df`. Returns the observed
    frame and the Observation; read `obs.get` AFTER the first action.

    Metrics must be aggregates over the observed frame's rows
    (count/sum/min/max/avg — anything Catalyst can fold into the
    existing exchange-free accumulation)."""
    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in metrics.items()]), obs


def standard_corpus_metrics(text_col: str = "text") -> dict[str, Column]:
    """The default audit set for a document batch: volume, null rate,
    and size envelope — cheap expressions, evaluated once per row as
    the rows already stream by."""
    col = F.col(text_col)
    # sums coalesce to 0: over an EMPTY batch sum() is NULL, and the
    # one run where an orchestrator's `metrics["n_null_text"] > k`
    # check matters most — a pipeline landing zero rows — is exactly
    # where a bare sum would hand it None and a TypeError (r10 review)
    return {
        "n_rows": F.count(F.lit(1)),
        "n_null_text": F.coalesce(
            F.sum(F.when(col.isNull(), 1).otherwise(0)), F.lit(0)
        ),
        "total_chars": F.coalesce(
            F.sum(F.coalesce(F.length(col), F.lit(0))), F.lit(0)
        ),
        "max_chars": F.max(F.coalesce(F.length(col), F.lit(0))),
    }
