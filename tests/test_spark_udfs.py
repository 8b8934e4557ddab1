"""Spark-side UDF and column-expression tests: values must match the
NumPy kernels (and hence the reference goldens) through the Arrow
boundary."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rhealpixdggs_spark.functions import (
    cell_area_col,
    rhp_base_cell,
    rhp_boundary,
    rhp_center_child,
    rhp_centroid,
    rhp_encode,
    rhp_is_valid_col,
    rhp_k_ring,
    rhp_level_order_index,
    rhp_neighbors,
    rhp_parent,
    rhp_resolution,
)
from rhealpixdggs_spark.kernel.constants import WGS84_003


def test_encode_udf_goldens(spark):
    df = spark.createDataFrame(
        [(-176.260506, -43.738058), (-176.258807, -43.738379), (None, None)],
        ["lon", "lat"],
    )
    out = df.select(rhp_encode(F.col("lon"), F.col("lat"), 9).alias("c")).collect()
    assert [r.c for r in out] == ["S001450634", "S001450635", None]


def test_encode_udf_matches_kernel_batch(spark, rng):
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    df = spark.createDataFrame(list(zip(map(float, lon), map(float, lat))), ["lon", "lat"])
    got = [r.c for r in df.select(rhp_encode(F.col("lon"), F.col("lat"), 7).alias("c")).collect()]
    from rhealpixdggs_spark.kernel.cells import encode

    exp = list(encode(WGS84_003, lon, lat, 7))
    assert got == exp


def test_centroid_udf(spark):
    df = spark.createDataFrame([("S001450634",), ("S001450635",)], ["c"])
    rows = df.select(rhp_centroid(F.col("c")).alias("p")).collect()
    np.testing.assert_allclose(
        [rows[0].p.lon, rows[0].p.lat],
        [-176.2606635452476, -43.73654505358369],
        atol=1e-10,
    )


def test_boundary_udf(spark):
    df = spark.createDataFrame([("N0",), ("S001450634",)], ["c"])
    rows = df.select(rhp_boundary(F.col("c")).alias("b")).collect()
    b0 = rows[0].b
    assert len(b0) == 4
    np.testing.assert_allclose([b0[0].lon, b0[0].lat], [89.99999999999993, 74.42400670199599])
    gj = df.select(rhp_boundary(F.col("c"), geo_json=True).alias("b")).collect()
    assert len(gj[0].b) == 5 and gj[0].b[0] == gj[0].b[4]


def test_neighbors_udf(spark):
    df = spark.createDataFrame([("N0",)], ["c"])
    got = df.select(rhp_neighbors(F.col("c")).alias("n")).collect()[0].n
    assert got == {"down": "N3", "left": "R0", "right": "N1", "up": "Q2"}
    ell = df.select(rhp_neighbors(F.col("c"), plane=False).alias("n")).collect()[0].n
    assert set(ell) == {"west", "south_west", "south_east", "east"}


def test_k_ring_udf(spark):
    df = spark.createDataFrame([("S001450634",)], ["c"])
    got = df.select(rhp_k_ring(F.col("c"), 1).alias("r")).collect()[0].r
    assert got == [
        "S001450634", "S001450630", "S001450631", "S001450632", "S001450635",
        "S001450638", "S001450637", "S001450636", "S001450633",
    ]


def test_hierarchy_columns(spark):
    df = spark.createDataFrame([("S001450634",), ("N",), ("INVALID",)], ["c"])
    out = df.select(
        rhp_parent(F.col("c"), 0).alias("p0"),
        rhp_resolution(F.col("c")).alias("res"),
        rhp_base_cell(F.col("c")).alias("base"),
        rhp_is_valid_col(F.col("c")).alias("ok"),
        rhp_center_child(F.col("c")).alias("cc"),
    ).collect()
    assert out[0].p0 == "S" and out[0].res == 9 and out[0].base == "S" and out[0].ok
    assert out[0].cc == "S0014506344"
    assert out[1].ok and not out[2].ok


def test_level_order_index_udf(spark):
    df = spark.createDataFrame([("N2",), ("N",)], ["c"])
    got = [r.i for r in df.select(rhp_level_order_index(F.col("c")).alias("i")).collect()]
    assert got == [8, 0]


def test_cell_area_col(spark):
    # rhp_wrappers.py:348-353: res-9 ellipsoidal cell area in m^2.
    df = spark.createDataFrame([(9,)], ["res"])
    got = df.select(cell_area_col(F.col("res"), plane=False).alias("a")).collect()[0].a
    assert abs(got - 219428.08748562282) < 1e-6


def test_intersects_parallel_meridian_udfs(spark):
    from rhealpixdggs_spark.functions import (
        rhp_intersects_meridian,
        rhp_intersects_parallel,
    )
    from rhealpixdggs_spark.kernel import regions as RG

    cells = ["N4", "S4", "N0", "N44", "O0", "P12", "Q33", "R785"]
    df = spark.createDataFrame([(c,) for c in cells], ["cell_id"])
    phi, lam = 33.0, -120.0
    rows = df.select(
        "cell_id",
        rhp_intersects_parallel(F.col("cell_id"), phi).alias("ip"),
        rhp_intersects_meridian(F.col("cell_id"), lam).alias("im"),
    ).collect()
    for r in rows:
        assert r.ip == RG.intersects_parallel(WGS84_003, r.cell_id, phi), r
        assert r.im == RG.intersects_meridian(WGS84_003, r.cell_id, lam), r


def test_explain_encode_is_arrow(spark):
    # The encode stage must be ArrowEvalPython (vectorized), not BatchEvalPython.
    df = spark.range(10).select(
        rhp_encode(F.lit(10.0), F.lit(20.0), 5).alias("c")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


@pytest.mark.parametrize("n_side", [3, 2])
def test_index_to_suid_column_math_matches_kernel(spark, n_side):
    """The index->suid codec is column math (no Python stage); it must
    equal the kernel codec on each face's first and last index at
    every resolution 0-15, and on 10^6 random indices spread over
    those resolutions (N_side=3), and in base 4 for N_side=2."""
    import pandas as pd

    from rhealpixdggs_spark.functions.udfs import rhp_index_to_suid
    from rhealpixdggs_spark.kernel import cells as KC
    from rhealpixdggs_spark.kernel.constants import DggsConfig

    cfg = WGS84_003 if n_side == 3 else DggsConfig(N_side=n_side)
    b = n_side**2
    n_rand = 62_500 if n_side == 3 else 2_000
    rng = np.random.default_rng(7)
    res_all, idx_all = [], []
    for r in range(16):
        lo = cfg.num_cells(0, r - 1) if r > 0 else 0
        per_face = b**r
        edges = [lo + f * per_face + d for f in range(6) for d in (0, per_face - 1)]
        rand = rng.integers(lo, lo + 6 * per_face, size=n_rand, dtype=np.int64)
        idx = np.concatenate([np.array(edges, dtype=np.int64), rand])
        res_all.append(np.full(idx.shape[0], r, dtype=np.int64))
        idx_all.append(idx)
    res_a = np.concatenate(res_all)
    idx_a = np.concatenate(idx_all)
    assert idx_a.shape[0] > (10**6 if n_side == 3 else 30_000)
    exp = np.empty(idx_a.shape[0], dtype=object)
    for r in range(16):
        m = res_a == r
        f, d = KC.suid_from_level_order_index(cfg, idx_a[m], r)
        exp[m] = KC.suid_strings(f, d)

    df = spark.createDataFrame(pd.DataFrame({"res": res_a, "idx": idx_a}))
    suid = F.coalesce(*[
        F.when(F.col("res") == r, rhp_index_to_suid("idx", r, cfg))
        for r in range(16)
    ])
    out = df.select("idx", suid.alias("s"))
    assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    got = out.toPandas()
    assert (got["idx"].to_numpy() == idx_a).all()
    assert (got["s"].to_numpy(dtype=object) == exp).all()
    # nulls and out-of-range indices decode to null
    lo3 = cfg.num_cells(0, 2)
    odd = spark.createDataFrame(
        [(None,), (lo3 - 1,), (lo3 + 6 * b**3,)], "idx long"
    ).select(rhp_index_to_suid("idx", 3, cfg).alias("s"))
    assert [r.s for r in odd.collect()] == [None, None, None]


def test_index_to_suid_rejects_multi_digit_bases():
    """Suids are single-digit strings only for N_side**2 < 10."""
    from rhealpixdggs_spark.functions.udfs import rhp_index_to_suid
    from rhealpixdggs_spark.kernel.constants import DggsConfig

    with pytest.raises(ValueError, match="N_side"):
        rhp_index_to_suid("idx", 3, DggsConfig(N_side=4))
