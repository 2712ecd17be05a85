"""Spark jobs and tasks per store call, against a committed budget.

Each call's cost at micro-batch scale is fixed per-job and per-task
overhead, not data volume, so the counts are the lever (and they are
deterministic for a fixed session: local[4], 8 shuffle partitions).
The batch mirrors one curation increment: 50 new docs, 5 of them near
copies of stored docs, against a 300-doc store built with the default
moduli. Jobs run inside the call are counted through the status
tracker's job groups, as perfbench's traced mode attributes them; the
pairs action the caller runs afterwards is not part of `probe`.

The budgets only go down: a change that cuts jobs or tasks lowers its
budget here in the same change, and one that raises a budget says why
in CHANGES.md."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sig_store import (
    BandedSignatureStore,
)
from tests.job_budget import in_group, over_budget

# call (job group) -> (jobs, tasks)
BUDGET = {
    "seen_ids": (1, 1),
    "probe": (4, 7),
    "commit": (4, 4),
}


def _docs(spark, ids):
    """Docs of 12 words; id i >= 1000 copies doc i - 1000 except its
    last word (a near duplicate)."""
    rows = []
    for i in ids:
        base = i - 1000 if i >= 1000 else i
        words = [f"w{base}_{k}" for k in range(12)]
        if i >= 1000:
            words[-1] = "variant"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_store_calls_stay_within_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    st = BandedSignatureStore(spark, str(tmp_path / "st"))
    f, _ = st.probe(_docs(spark, range(0, 300)), assume_fresh=True)
    st.commit(f, 0)
    batch = _docs(spark, list(range(300, 345)) + list(range(1000, 1005)))

    # the curation increment's calls, in its order
    in_group(sc, "seen_ids", lambda: st.seen_ids(batch.select("doc_id")))
    fresh, pairs = in_group(
        sc, "probe",
        lambda: st.probe(batch, assume_fresh=True, max_bucket_size=32),
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    in_group(sc, "commit", lambda: st.commit(fresh, 1))

    assert {(i, 1000 + i) for i in range(5)} <= found
    assert spark.read.parquet(str(tmp_path / "st" / "sigs")).filter(
        F.col("doc_id") >= 300).count() == 50
    over, got = over_budget(spark, BUDGET)
    assert not over, f"(jobs, tasks) over budget: {over}; all: {got}"
