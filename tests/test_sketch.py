"""Bottom-k corpus-overlap sketch: the estimator is deterministic given
the hash, so these tests pin (1) accuracy against a KNOWN ground-truth
overlap, and (2) accuracy against the exact per-pair Jaccard on the
driver corpus — the oracle equality itself is covered by the registry
sweep in test_oracle_queries.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.operators.sketch import (
    bottomk_sketch,
    corpus_overlap_bottomk,
)
from data_engineering_pipeline_spark.sources import load_table


def _numbered_doc(lo: int, hi: int) -> str:
    return " ".join(f"w{i}" for i in range(lo, hi))


def test_overlap_estimate_matches_planted_overlap(spark):
    """Two groups sharing 5 of 15 distinct docs (disjoint vocabularies)
    have true shingle Jaccard 1/3; the k=128 estimate must land within
    a few standard errors (sigma = sqrt(J(1-J)/k) ~ 0.042)."""
    rows = []
    for d in range(10):  # group A: docs 0..9
        rows.append((d, "A", _numbered_doc(d * 40, d * 40 + 40)))
    for d in range(5, 15):  # group B: docs 5..14 (5 shared)
        rows.append((100 + d, "B", _numbered_doc(d * 40, d * 40 + 40)))
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    est = corpus_overlap_bottomk(df, "grp", "text", k=128).collect()[0]
    assert est.group_a == "A" and est.group_b == "B"
    assert est.n_sample == 128
    true_j = 1.0 / 3.0
    assert abs(est.j_est - true_j) < 0.15, est.j_est


def test_overlap_estimate_tracks_exact_jaccard(spark, sf_smoke):
    """On the driver corpus: every pair's estimate within ~3 standard
    errors of the exact hash-set Jaccard, and zero-overlap pairs
    estimate exactly zero (the sample can't contain shared members
    that don't exist)."""
    docs = load_table(spark, sf_smoke, "documents")
    k = 128
    est = {
        (r.group_a, r.group_b): r.j_est
        for r in corpus_overlap_bottomk(docs, "source", "text", k=k).collect()
    }
    from data_engineering_pipeline_spark.operators.dedup import (
        _exploded_shingles,
    )

    hs = _exploded_shingles(docs, "source", "text", 3).select(
        F.col("source"), F.xxhash64("shingle").alias("h")
    ).distinct()
    sets: dict[str, set] = {}
    for r in hs.collect():
        sets.setdefault(r.source, set()).add(r.h)
    for (a, b), e in est.items():
        inter = len(sets[a] & sets[b])
        exact = inter / len(sets[a] | sets[b])
        assert abs(e - exact) <= 0.27, (a, b, e, exact)
        if inter == 0:
            assert e == 0.0


def test_sketch_is_mergeable(spark, sf_smoke):
    """bottom-k of a union == bottom-k of concatenated sketches — the
    property that makes incremental per-batch maintenance valid."""
    docs = load_table(spark, sf_smoke, "documents")
    k = 64
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    merged_rows = (
        bottomk_sketch(half1, "source", "text", k=k)
        .unionByName(bottomk_sketch(half2, "source", "text", k=k))
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("group").orderBy("h")
    remerged = (
        merged_rows.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    full = bottomk_sketch(docs, "source", "text", k=k)
    got = {(r.group, r.h) for r in remerged.collect()}
    want = {(r.group, r.h) for r in full.collect()}
    assert got == want


def test_kmv_estimate_tracks_exact_distinct(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_distinct,
    )

    # two groups with known distinct cardinalities, values disjoint
    rows = [("big", f"v{i % 3000}") for i in range(6000)] + [
        ("small", f"s{i}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r.group: r for r in kmv_distinct(df, "g", F.col("v"), k=128).collect()}
    assert out["small"].n_distinct == 20
    assert out["small"].n_seen == 20
    assert out["small"].n_est == 20.0  # under-full sketch -> exact
    big = out["big"]
    assert big.n_distinct == 3000 and big.n_seen == 128
    # rel error ~1/sqrt(k-2) ≈ 9%; allow 3 sigma
    assert abs(big.n_est - 3000) / 3000 < 0.27


def test_kmv_deterministic_under_repartition(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_distinct,
    )

    df = spark.createDataFrame(
        [("g", f"tok{i*7%997}") for i in range(4000)], "g string, v string"
    )
    a = kmv_distinct(df, "g", F.col("v"), k=64).collect()[0]
    b = kmv_distinct(df.repartition(13), "g", F.col("v"), k=64).collect()[0]
    assert (a.n_distinct, a.n_seen, a.n_est) == (
        b.n_distinct,
        b.n_seen,
        b.n_est,
    )


def test_cms_never_undercounts_and_is_exact_for_hot_items(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    rows = (
        [("hot item",)] * 500
        + [("warm thing",)] * 50
        + [(f"cold {i}",) for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "v string")
    cms = cms_build(df, F.col("v"))
    items = spark.createDataFrame(
        [("hot item",), ("warm thing",), ("cold 7",), ("never seen",)],
        "v string",
    )
    est = {r.v: r.n_est for r in cms_estimate(cms, items, "v").collect()}
    exact = {"hot item": 500, "warm thing": 50, "cold 7": 1, "never seen": 0}
    for v, n in exact.items():
        assert est[v] >= n, (v, est[v], n)  # CMS never undercounts
    # with 2551 occurrences over 4x1024 cells, collisions add at most a
    # few counts — the hot item's estimate stays within 1% of truth
    assert est["hot item"] <= 505


def test_hll_estimate_tracks_exact_and_ignores_duplicates(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_distinct,
    )

    rows = [("big", f"v{i % 3000}") for i in range(9000)] + [
        ("mid", f"m{i}") for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r.group: r for r in hll_distinct(df, "g", F.col("v")).collect()}
    # rel error ~1.04/sqrt(64) ≈ 13%; allow 3 sigma
    assert out["big"].n_distinct == 3000
    assert abs(out["big"].n_est - 3000) / 3000 < 0.4
    assert out["mid"].n_distinct == 400
    assert abs(out["mid"].n_est - 400) / 400 < 0.4
    # duplicate-insensitivity: tripling every occurrence changes nothing
    trip = df.unionByName(df).unionByName(df)
    out3 = {
        r.group: r for r in hll_distinct(trip, "g", F.col("v")).collect()
    }
    for g in out:
        assert (out3[g].n_regs, out3[g].n_zero, out3[g].n_est) == (
            out[g].n_regs,
            out[g].n_zero,
            out[g].n_est,
        )


def test_hll_merge_equals_sketch_of_union(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
    )

    a = spark.createDataFrame(
        [("g", f"x{i}") for i in range(600)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("g", f"x{i}") for i in range(400, 1000)],  # 200 overlap
        "g string, v string",
    )
    merged = hll_merge(
        hll_registers(a, "g", F.col("v")), hll_registers(b, "g", F.col("v"))
    )
    direct = hll_registers(a.unionByName(b), "g", F.col("v"))
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in direct.collect()
    }
    est = hll_estimate_from_registers(merged).collect()[0]
    assert abs(est.n_est - 1000) / 1000 < 0.4


def test_hll_small_range_linear_counting_from_n_zero(spark):
    """The raw estimator biases high when most registers are empty;
    the surfaced n_zero column is exactly what driver-side linear
    counting (m * ln(m / n_zero)) needs — the correction must land
    closer than the raw estimate on a tiny set."""
    import math

    from data_engineering_pipeline_spark.operators.sketch import (
        HLL_M,
        hll_distinct,
    )

    df = spark.createDataFrame(
        [("g", f"only-{i}") for i in range(40)], "g string, v string"
    )
    r = hll_distinct(df, "g", F.col("v")).collect()[0]
    assert r.n_distinct == 40 and r.n_zero > 0
    lc = HLL_M * math.log(HLL_M / r.n_zero)
    assert abs(lc - 40) < abs(r.n_est - 40)
    assert abs(lc - 40) / 40 < 0.25


def test_hll_deterministic_under_repartition(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_distinct,
    )

    df = spark.createDataFrame(
        [("g", f"tok{i*7%997}") for i in range(4000)], "g string, v string"
    )
    a = hll_distinct(df, "g", F.col("v")).collect()[0]
    b = hll_distinct(df.repartition(13), "g", F.col("v")).collect()[0]
    assert tuple(a) == tuple(b)


def test_qsketch_brackets_exact_order_statistics(spark):
    import random

    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_quantiles,
    )

    random.seed(11)
    vals = {
        "wide": [random.randint(0, 200000) for _ in range(4000)],
        "tiny": [random.randint(0, 15) for _ in range(731)],
    }
    df = spark.createDataFrame(
        [(g, v) for g, vs in vals.items() for v in vs], "g string, x long"
    )
    sk = qsketch_build(df, "g", F.col("x"))
    out = qsketch_quantiles(sk, [50, 90, 99]).collect()
    assert len(out) == 6
    for r in out:
        s = sorted(vals[r.group])
        exact = s[(r.n - 1) * r.q_pct // 100]
        assert r.lo <= exact <= r.hi, (r, exact)
        # rel error <= 2^-(S+1) = 1/32
        assert abs(r.est - exact) <= max(exact, 1) / 32 + 1
        if r.group == "tiny":  # below 2^S every bucket is a singleton
            assert r.lo == r.hi == r.est == exact


def test_qsketch_deterministic_under_repartition(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_quantiles,
    )

    df = spark.createDataFrame(
        [("g", i * i % 50021) for i in range(3000)], "g string, x long"
    )
    a = qsketch_quantiles(
        qsketch_build(df, "g", F.col("x")), [50, 99]
    ).orderBy("q_pct").collect()
    b = qsketch_quantiles(
        qsketch_build(df.repartition(13), "g", F.col("x")), [50, 99]
    ).orderBy("q_pct").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_kmv_difference_tracks_planted_set_difference(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        kmv_difference_pairs,
        kmv_points,
    )

    # A = {0..2999}, B = {2000..5999}: |B \ A| = 3000 of 6000 union
    rows = [("A", f"item-{i}") for i in range(3000)] + [
        ("B", f"item-{i}") for i in range(2000, 6000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    pts = kmv_points(df, "g", F.col("v"))
    pairs = spark.createDataFrame([("A", "B")], "ga string, gb string")
    r = kmv_difference_pairs(pts, pairs, k=128).collect()[0]
    assert r.n_new_exact == 4000 - 1000  # 2000..5999 minus 2000..2999
    assert r.n_sample == 128
    # est within ~4 combined sigma (~20% at k=128 for f=0.5)
    assert abs(r.n_new_est - r.n_new_exact) / r.n_new_exact < 0.35, r
    # under-full union -> exact count, est == exact
    small = spark.createDataFrame(
        [("A", f"s{i}") for i in range(30)]
        + [("B", f"s{i}") for i in range(20, 60)],
        "g string, v string",
    )
    r2 = kmv_difference_pairs(
        kmv_points(small, "g", F.col("v")), pairs, k=128
    ).collect()[0]
    assert r2.n_new_exact == 30 and r2.n_new_est == 30.0
    assert r2.n_sample == 60  # |union| < k: the sample IS the union


def test_bloom_no_false_negatives_and_low_fpr(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        bloom_build,
        bloom_member,
    )

    members = spark.createDataFrame(
        [(f"member-{i}",) for i in range(5000)], "v string"
    )
    bloom = bloom_build(members, F.col("v"))
    probe = spark.createDataFrame(
        [(f"member-{i}",) for i in range(5000)]
        + [(f"absent-{i}",) for i in range(5000)],
        "v string",
    )
    out = {r.v: r.is_member for r in bloom_member(probe, bloom, F.col("v")).collect()}
    # structural: every true member tests positive
    assert all(out[f"member-{i}"] == 1 for i in range(5000))
    # false positives bounded: kn/m = 4*5000/2^21 ~ 0.0095 ->
    # FPR ~ (1 - e^-0.0095)^4 ~ 8e-9; allow a generous margin
    fp = sum(out[f"absent-{i}"] for i in range(5000))
    assert fp <= 2, fp


def test_bloom_merges_by_word_bit_or(spark):
    from data_engineering_pipeline_spark.operators.sketch import (
        bloom_build,
    )

    a = spark.createDataFrame([(f"a-{i}",) for i in range(500)], "v string")
    b = spark.createDataFrame([(f"b-{i}",) for i in range(500)], "v string")
    merged = (
        bloom_build(a, F.col("v"))
        .unionByName(bloom_build(b, F.col("v")))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    direct = bloom_build(a.unionByName(b), F.col("v"))
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_hll_int_keys_track_exact_distinct(spark):
    """Sequential int64 ids through int_residue_hash + the scramble:
    the lattice the raw residues have must be fully mixed (estimates
    inside the 3-sigma band), and duplicates stay free."""
    from data_engineering_pipeline_spark.operators.sketch import (
        hll_distinct,
        int_residue_hash,
    )

    df = spark.createDataFrame(
        [("a", i) for i in range(3000)] * 2
        + [("b", i) for i in range(700)],
        "g string, user_id long",
    )
    out = {
        r.group: r
        for r in hll_distinct(
            df, "g", F.col("user_id"), hasher=int_residue_hash
        ).collect()
    }
    assert out["a"].n_distinct == 3000
    assert abs(out["a"].n_est - 3000) / 3000 < 0.4
    assert out["b"].n_distinct == 700
    assert abs(out["b"].n_est - 700) / 700 < 0.4


def test_rolling_hll_expansion_equals_window_merge(spark):
    """The expand-by-window register trick must equal the definition:
    registers of hour h == registers over all events in [h-23, h].
    Checked against a Python trailing-distinct model on planted data,
    plus the estimate accuracy band."""
    import random

    from data_engineering_pipeline_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
        int_residue_hash,
    )

    random.seed(3)
    rows = []
    by_hour: dict[int, set] = {}
    for h in range(50, 90):
        users = {random.randint(0, 4000) for _ in range(200)}
        by_hour[h] = users
        rows += [(h, u) for u in users]
    df = spark.createDataFrame(rows, "hour long, user_id long")
    regs = hll_registers(
        df, "hour", F.col("user_id"), hasher=int_residue_hash
    )
    rolled = (
        regs.withColumn(
            "h", F.explode(F.sequence(F.col("group"), F.col("group") + 23))
        )
        .groupBy(F.col("h").alias("group"), "reg")
        .agg(F.max("rho").alias("rho"))
    )
    # definitional check at two probe hours: direct registers over the
    # trailing slice == the expansion's rolled registers
    for probe in (60, 85):
        direct = hll_registers(
            df.filter(
                (F.col("hour") >= probe - 23) & (F.col("hour") <= probe)
            ).withColumn("hour", F.lit(probe)),
            "hour",
            F.col("user_id"),
            hasher=int_residue_hash,
        )
        got = {
            (r.reg, r.rho)
            for r in rolled.filter(F.col("group") == probe).collect()
        }
        want = {(r.reg, r.rho) for r in direct.collect()}
        assert got == want, probe
    est = {
        r.group: r.n_est
        for r in hll_estimate_from_registers(rolled)
        .filter(F.col("group").isin(60, 85))
        .collect()
    }
    for probe in (60, 85):
        exact = len(
            set().union(
                *(by_hour.get(h, set()) for h in range(probe - 23, probe + 1))
            )
        )
        assert abs(est[probe] - exact) / exact < 0.4, (probe, est[probe], exact)


def test_cms_refresh_from_cdc_equals_rebuild(spark, tmp_path):
    """CMS linearity through the change feed: after appends, a
    delete, an update, and a merge, the incrementally-maintained cell
    table equals cms_build(current snapshot) EXACTLY; replays are
    no-ops."""
    from pyspark.sql import functions as FF

    from data_engineering_pipeline_spark.operators.sketch import (
        cms_build,
        refresh_cms_sketch,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"), cdf=True)
    sk = SnapshotTable(spark, str(tmp_path / "cms"))

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, f"tok-{i % 17}") for i in range(lo, hi)],
            "id long, v string",
        )

    src.append(mk(0, 400))
    refresh_cms_sketch(src, sk, ["id"], "v")

    src.append(mk(400, 600))
    src.delete_where("id % 10 = 3")
    src.update_where("id % 7 = 0", {"v": "'tok-updated'"})
    refresh_cms_sketch(src, sk, ["id"], "v")

    src.merge_into(
        spark.createDataFrame(
            [(5, "tok-merged"), (9000, "tok-new")], "id long, v string"
        ),
        ["id"],
        when_matched="update",
    )
    refresh_cms_sketch(src, sk, ["id"], "v")

    got = {tuple(r) for r in sk.read().collect()}
    want = {
        tuple(r)
        for r in cms_build(src.read(), FF.col("v")).collect()
        if r.cnt != 0
    }
    assert got == want and got
    # replay: already-applied head is a no-op (same stored version)
    v = sk.latest_version()
    assert refresh_cms_sketch(src, sk, ["id"], "v") is None
    assert sk.latest_version() == v


def test_hll_refresh_incremental_then_rebuild_on_delete(spark, tmp_path):
    from pyspark.sql import functions as FF

    from data_engineering_pipeline_spark.operators.sketch import (
        hll_registers,
        refresh_hll_sketch,
    )
    from data_engineering_pipeline_spark.sources.snapshot_table import (
        SnapshotTable,
    )

    src = SnapshotTable(spark, str(tmp_path / "src"), cdf=True)
    sk = SnapshotTable(spark, str(tmp_path / "hll"))

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, "g", f"val-{i}") for i in range(lo, hi)],
            "id long, grp string, v string",
        )

    src.append(mk(0, 300))
    assert refresh_hll_sketch(src, sk, "grp", "v") == "rebuild"  # bootstrap
    src.append(mk(300, 500))
    assert refresh_hll_sketch(src, sk, "grp", "v") == "incremental"

    def want():
        return {
            tuple(r)
            for r in hll_registers(src.read(), "grp", FF.col("v")).collect()
        }

    assert {tuple(r) for r in sk.read().collect()} == want()
    # a delete in the range forces the rebuild path — and still lands
    # exactly on the head snapshot's registers
    src.delete_where("id % 5 = 0")
    assert refresh_hll_sketch(src, sk, "grp", "v") == "rebuild"
    assert {tuple(r) for r in sk.read().collect()} == want()
    assert refresh_hll_sketch(src, sk, "grp", "v") is None  # replay no-op


def test_weighted_qsketch_brackets_weighted_order_statistic(spark):
    """Weighted quantile: with weight == value, the p50 must sit where
    cumulative VALUE mass crosses half — far above the unweighted
    median when a few large values dominate. Bracket checked against a
    Python weighted-rank model."""
    import random

    from data_engineering_pipeline_spark.operators.sketch import (
        qsketch_build,
        qsketch_quantiles,
    )

    random.seed(5)
    vals = [random.randint(1, 100) for _ in range(900)] + [
        random.randint(50000, 90000) for _ in range(100)
    ]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, x long")
    sk = qsketch_build(df, "g", F.col("x"), weight=F.col("x"))
    out = {r.q_pct: r for r in qsketch_quantiles(sk, [50, 90]).collect()}
    w_total = sum(vals)
    for pct in (50, 90):
        r = out[pct]
        assert r.n == w_total
        rank = (w_total - 1) * pct // 100 + 1
        cum = 0
        for v in sorted(vals):
            cum += v
            if cum >= rank:
                exact = v
                break
        assert r.lo <= exact <= r.hi, (pct, r, exact)
    # the big tail dominates the token mass: weighted p50 is in the
    # large cluster even though 90% of DOCS are small
    assert out[50].lo >= 50000 // 2


def test_exact_kth_values_matches_sorted_ranks(spark):
    """exact_kth_values is the scale-safe replacement for 'value at
    row k of ORDER BY col' — verify bit-parity against a driver-side
    sort over a nasty domain: negatives, wide magnitude spread (forces
    multiple refinement rounds), heavy ties, and nulls (ignored)."""
    import random

    from data_engineering_pipeline_spark.operators.sketch import (
        exact_kth_values,
    )

    random.seed(11)
    vals = (
        [random.randint(-(1 << 40), 1 << 40) for _ in range(500)]
        + [random.randint(-5, 5) for _ in range(300)]  # ties
        + [0] * 50
        + [-(1 << 62), (1 << 62) - 1]  # near-extremes
    )
    rows = [(v,) for v in vals] + [(None,)] * 25
    random.shuffle(rows)
    df = spark.createDataFrame(rows, "x long")
    s = sorted(vals)
    ks = [1, 2, 3, len(vals) // 3, len(vals) // 2, len(vals) - 1,
          len(vals)]
    got = exact_kth_values(df, "x", ks)
    assert got == {k: s[k - 1] for k in ks}


def test_exact_kth_values_rejects_bad_ranks(spark):
    import pytest

    from data_engineering_pipeline_spark.operators.sketch import (
        exact_kth_values,
    )

    df = spark.createDataFrame([(1,), (2,)], "x long")
    assert exact_kth_values(df, "x", []) == {}
    with pytest.raises(ValueError, match="1-based"):
        exact_kth_values(df, "x", [0])
    with pytest.raises(ValueError, match="exceeds"):
        exact_kth_values(df, "x", [3])


def test_bloom_sized_filter_no_false_negatives_lower_fpr(spark):
    """r9: bloom_build/bloom_member accept a `bits` size. A larger
    filter keeps the no-false-negative guarantee and must cut the
    false-positive rate vs the 2^21 default on a large member set;
    mismatched probe size is the caller's contract (the decon freeze
    persists it)."""
    from data_engineering_pipeline_spark.operators.sketch import (
        bloom_build,
        bloom_member,
    )

    members = spark.range(200_000).select(
        (F.col("id") * 2_654_435_761 % (1 << 61)).alias("hk")
    )
    probes = spark.range(200_000, 210_000).select(
        (F.col("id") * 2_654_435_761 % (1 << 61)).alias("hk")
    )
    ident = lambda c: c  # noqa: E731
    small = bloom_build(members, F.col("hk"), hasher=ident)
    big = bloom_build(
        members, F.col("hk"), hasher=ident, bits=1 << 24
    )
    # no false negatives at either size
    for blm, bits in ((small, None), (big, 1 << 24)):
        kw = {"bits": bits} if bits else {}
        m = bloom_member(members, blm, F.col("hk"), hasher=ident, **kw)
        assert m.filter("is_member = 0").count() == 0
    fp_small = bloom_member(
        probes, small, F.col("hk"), hasher=ident
    ).filter("is_member = 1").count()
    fp_big = bloom_member(
        probes, big, F.col("hk"), hasher=ident, bits=1 << 24
    ).filter("is_member = 1").count()
    assert fp_big < fp_small / 4, (fp_small, fp_big)


@pytest.mark.slow  # heavy e2e/property: close-out tier (pytest.ini)
def test_exact_ntile_matches_window_ntile_bit_for_bit(spark):
    """r10: exact_ntile_cutpoints + exact_ntile_bucket reproduce
    ntile(n) OVER (ORDER BY v DESC, tb ASC) EXACTLY — including tied
    values straddling bucket boundaries (the case value-only cutoffs
    cannot express) and n < n_buckets (empty trailing buckets) — on
    seeded random data with heavy ties."""
    import random

    from pyspark.sql import Window

    from data_engineering_pipeline_spark.operators.sketch import (
        exact_ntile_bucket,
        exact_ntile_cutpoints,
    )

    rng = random.Random(0x2F11)
    cases = [(1, 4), (2, 4), (3, 3), (7, 4)] + [
        (rng.randint(4, 120), rng.choice([2, 3, 4, 8])) for _ in range(5)
    ]
    for n, nb in cases:
        # values from a tiny domain -> many ties, negatives included
        rows = [(i, rng.randint(-3, 3)) for i in range(n)]
        df = spark.createDataFrame(rows, "tb long, v long")
        want = {
            r.tb: r.t
            for r in df.select(
                "tb",
                F.ntile(nb)
                .over(Window.orderBy(F.desc("v"), "tb"))
                .alias("t"),
            ).collect()
        }
        cuts = exact_ntile_cutpoints(df, "v", "tb", nb)
        got = {
            r.tb: r.t
            for r in df.select(
                "tb",
                exact_ntile_bucket(
                    F.col("v"), F.col("tb"), cuts
                ).alias("t"),
            ).collect()
        }
        assert got == want, f"n={n} nb={nb} rows={sorted(rows)}"

    # ascending variant too
    df = spark.createDataFrame(
        [(i, rng.randint(0, 2)) for i in range(25)], "tb long, v long"
    )
    want = {
        r.tb: r.t
        for r in df.select(
            "tb",
            F.ntile(4).over(Window.orderBy("v", "tb")).alias("t"),
        ).collect()
    }
    cuts = exact_ntile_cutpoints(df, "v", "tb", 4, descending=False)
    got = {
        r.tb: r.t
        for r in df.select(
            "tb",
            exact_ntile_bucket(
                F.col("v"), F.col("tb"), cuts, descending=False
            ).alias("t"),
        ).collect()
    }
    assert got == want
