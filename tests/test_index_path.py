"""Packed-index scale path: int64 encode, integer hierarchy rollup,
decode-on-demand — must agree exactly with the string path."""

import numpy as np
from pyspark.sql import functions as F

from rhealpixdggs_spark.functions.udfs import (
    rhp_encode,
    rhp_encode_index,
    rhp_index_parent,
    rhp_index_to_suid,
)
from rhealpixdggs_spark.kernel import cells as C
from rhealpixdggs_spark.kernel.constants import WGS84_003


def test_kernel_index_equals_string(rng):
    lon = rng.uniform(-180, 180, 30000)
    lat = rng.uniform(-90, 90, 30000)
    for res in (0, 1, 5, 9, 15):
        idx = C.encode_index(WGS84_003, lon, lat, res)
        assert (idx >= 0).all()
        f, d = C.suid_from_level_order_index(WGS84_003, idx, res)
        assert list(C.suid_strings(f, d)) == list(C.encode(WGS84_003, lon, lat, res))


def test_index_parent_math(rng):
    lon = rng.uniform(-180, 180, 5000)
    lat = rng.uniform(-90, 90, 5000)
    idx9 = C.encode_index(WGS84_003, lon, lat, 9)
    idx2 = C.encode_index(WGS84_003, lon, lat, 2)
    b = 9
    base9 = WGS84_003.num_cells(0, 8)
    base2 = WGS84_003.num_cells(0, 1)
    rolled = (idx9 - base9) // (b ** (9 - 2)) + base2
    assert np.array_equal(rolled, idx2)


def test_spark_index_path(spark, rng):
    lon = rng.uniform(-180, 180, 3000)
    lat = rng.uniform(-90, 90, 3000)
    df = spark.createDataFrame(
        list(zip(map(float, lon), map(float, lat))), ["lon", "lat"]
    )
    out = df.select(
        rhp_encode(F.col("lon"), F.col("lat"), 7).alias("cell_id"),
        rhp_encode_index(F.col("lon"), F.col("lat"), 7).alias("cell_idx"),
    ).withColumn("decoded", rhp_index_to_suid("cell_idx", 7)).withColumn(
        "tile_idx", rhp_index_parent("cell_idx", 7, 2)
    ).withColumn("tile_decoded", rhp_index_to_suid("tile_idx", 2))
    bad = out.where(
        (F.col("cell_id") != F.col("decoded"))
        | (F.substring("cell_id", 1, 3) != F.col("tile_decoded"))
    )
    assert bad.isEmpty()
    # nulls stay null
    ndf = spark.createDataFrame([(None, None)], "lon double, lat double")
    row = ndf.select(rhp_encode_index(F.col("lon"), F.col("lat"), 5).alias("i")).collect()
    assert row[0].i is None


def test_points_grid_rollup_matches_string_path(spark):
    from rhealpixdggs_spark.pipeline import points_grid_rollup
    from rhealpixdggs_spark.sources.pages import synthesize_points

    pts = synthesize_points(spark, 20000).cache()
    out = points_grid_rollup(spark, pts, resolution=6, tile_res=2)
    # String-path equivalent
    exp = (
        pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 6))
        .groupBy(F.substring("cell_id", 1, 3).alias("tile_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    got = {r.tile_id: r.n_pages for r in out.where(F.col("n_pages") > 0).collect()}
    want = {r.tile_id: r.n_pages for r in exp.collect()}
    assert got == want
    assert out.count() == 6 * 81  # full grid incl. empty tiles
