"""Z-order layout: correctness of the Morton key and a measured
file-skipping comparison — a 2-D box predicate must overlap far fewer
files under Z-order than under a single-column sort, judged purely
from per-file min/max (exactly the footer stats a reader prunes on)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_pipeline_spark.sources.zorder import (
    grid_coord,
    write_zordered,
    zorder_key,
)
from data_engineering_pipeline_spark.sources import load_table


def _interleave2(a: int, b: int, bits: int) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_zorder_key_matches_python(spark):
    df = spark.range(0, 512).select(
        F.col("id"),
        (F.col("id") % 16).alias("x"),
        ((F.col("id") * 7) % 16).alias("y"),
    )
    got = {
        r.id: r.z
        for r in df.select(
            "id", zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
        ).collect()
    }
    for r in df.collect():
        assert got[r.id] == _interleave2(r.x, r.y, 4)


def test_grid_coord_bounds_and_clamp(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (50.0,), (99.999,), (100.0,), (250.0,)], "v double"
    )
    vals = [
        r.g
        for r in df.select(
            grid_coord("v", 0.0, 100.0, 4).alias("g")
        ).collect()
    ]
    assert vals == [0, 0, 8, 15, 15, 15]


def _files_overlapping_box(spark, path, xcol, ycol, x_rng, y_rng):
    """Count files whose [min,max] envelope intersects the box — the
    file-level decision a stats-based reader makes."""
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(xcol).alias("xlo"),
            F.max(xcol).alias("xhi"),
            F.min(ycol).alias("ylo"),
            F.max(ycol).alias("yhi"),
        )
    )
    n_files = stats.count()
    touched = stats.filter(
        (F.col("xhi") >= x_rng[0])
        & (F.col("xlo") <= x_rng[1])
        & (F.col("yhi") >= y_rng[0])
        & (F.col("ylo") <= y_rng[1])
    ).count()
    return n_files, touched


def test_zorder_layout_skips_more_files_than_linear(spark, sf_smoke, tmp_path):
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    bounds = li.agg(
        F.max("l_orderkey").alias("ok"), F.max("l_partkey").alias("pk")
    ).collect()[0]
    n_files = 16

    zpath = str(tmp_path / "zorder")
    write_zordered(
        li,
        zpath,
        [
            grid_coord("l_orderkey", 0, bounds.ok + 1, 8),
            grid_coord("l_partkey", 0, bounds.pk + 1, 8),
        ],
        bits=8,
        n_files=n_files,
    )

    lpath = str(tmp_path / "linear")
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    # a selective box on BOTH dimensions (~1/8 of each axis)
    x_rng = (0, bounds.ok // 8)
    y_rng = (0, bounds.pk // 8)
    zn, ztouch = _files_overlapping_box(
        spark, zpath, "l_orderkey", "l_partkey", x_rng, y_rng
    )
    ln, ltouch = _files_overlapping_box(
        spark, lpath, "l_orderkey", "l_partkey", x_rng, y_rng
    )
    # linear layout: every file covering the x range spans ALL of y, so
    # the y predicate skips nothing extra; z-order keeps both tight
    assert ztouch < ltouch, (ztouch, ltouch)
    assert ztouch <= max(1, zn // 4), (ztouch, zn)

    # layout changes bytes on disk, never the relation
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(lpath).count()
        == li.count()
    )
