"""No accumulator ERRORs from the near-dup stores under forced GC.

A lazy `localCheckpoint(eager=False)` that two concurrent jobs
first-materialize together races: the job whose checkpoint finishes
first drops the RDD lineage, the JVM collects the SQL metric
accumulators that lineage held, and the other job's tasks then report
into accumulators the driver no longer knows. Spark logs that as
`WARN AccumulatorContext: Attempted to access garbage collected
accumulator` followed by `ERROR DAGScheduler: Failed to update
accumulator ... non-existent accumulator`. The stores therefore
materialize every frame that concurrent jobs consume (the batch
signatures, the vector index rows, the fresh anti-join) once, eagerly,
before handing it on.

The race needs a GC inside a narrow window, so the harness forces one
every 50 ms while it runs the curation pipeline's probe -> pairs
write -> commit cycle against a signature store at modulus 1 and 32.
At modulus 1 a lazy batch-signature checkpoint is first materialized
by the pairs action's concurrent stages, which is where the errors
show. It runs in its own process, so the JVM is fresh (a warmed-up
JVM narrows the window) and its stderr goes to a file."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HARNESS = r'''
import os, sys, threading, time

repo, root = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sig_store import (
    BandedSignatureStore,
)
from data_engineering_pipeline_spark.session import get_spark

spark = get_spark(app_name="acc", master="local[4]", shuffle_partitions=8)


def docs(ids):
    rows = []
    for i in ids:
        words = [f"w{i - i % 2}_{k}" for k in range(12)]
        if i % 2:
            words[-1] = "tail_variant"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def cycles(name, st, n):
    kw = dict(assume_fresh=True, max_bucket_size=32)
    f, _ = st.probe(docs(range(0, 100)), **kw)
    st.commit(f, 0)
    stop = threading.Event()

    def gc():
        while not stop.is_set():
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.05)

    t = threading.Thread(target=gc, daemon=True)
    t.start()
    try:
        for b in range(1, n + 1):
            fresh, pairs = st.probe(docs(range(50 + 50 * b, 100 + 50 * b)),
                                    **kw)
            pairs.select(F.greatest("id_a", "id_b").alias("id")).distinct() \
                .write.mode("append") \
                .parquet(os.path.join(root, name + "-losers"))
            st.commit(fresh, b)
    finally:
        stop.set()
        t.join(timeout=10)


# the curation pipeline's probe (the caller removed seen ids already);
# a GC hits the window in most but not all cycles, so modulus 1, where
# the window opens, runs three
for mod, n in ((1, 3), (32, 1)):
    cycles(f"sig{mod}",
           BandedSignatureStore(spark, os.path.join(root, f"sig{mod}"),
                                sig_pfx=mod, bucket_pfx=mod),
           n)
spark.stop()
'''


@pytest.mark.slow  # ~80 s on 4 cores: a second JVM plus forced GCs
def test_store_cycles_log_no_accumulator_errors(tmp_path):
    err = tmp_path / "stderr.txt"
    with open(err, "w") as fh:
        proc = subprocess.run(
            [sys.executable, "-c", HARNESS, REPO, str(tmp_path / "st")],
            stdout=fh, stderr=subprocess.STDOUT, timeout=600,
        )
    lines = err.read_text().splitlines()
    assert proc.returncode == 0, "\n".join(lines[-40:])
    bad = [ln for ln in lines if "non-existent accumulator" in ln]
    assert not bad, f"{len(bad)} accumulator errors, first: {bad[0]}"
