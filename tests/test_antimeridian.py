"""Dateline-crossing polygon support (kernel splitter + operators).

The reference documents the antimeridian as an open limitation
(rhp_wrappers.py:546, dggs.py:1107-1114); split_antimeridian lifts it
by cutting crossing rings at the seam into in-range west/east parts.
"""

import numpy as np
import pytest

from rhealpixdggs_spark.kernel import regions as KR
from rhealpixdggs_spark.kernel.constants import WGS84_003

# A quad spanning lon 170 -> 190 (raw-jump form crosses the dateline).
CROSSING_RAW = [(170.0, 10.0), (-170.0, 10.0), (-170.0, 25.0), (170.0, 25.0)]
CROSSING_UNWRAPPED = [(170.0, 10.0), (190.0, 10.0), (190.0, 25.0), (170.0, 25.0)]
WEST_HALF = [(170.0, 10.0), (180.0, 10.0), (180.0, 25.0), (170.0, 25.0)]
EAST_HALF = [(-180.0, 10.0), (-170.0, 10.0), (-170.0, 25.0), (-180.0, 25.0)]


class TestSplitter:
    def test_non_crossing_passthrough(self):
        ring = [(-10.0, 0.0), (10.0, 0.0), (10.0, 20.0), (-10.0, 20.0)]
        out = KR.split_antimeridian([(ring, [])])
        assert out == [(ring, [])]

    def test_raw_and_unwrapped_forms_agree(self):
        a = KR.split_antimeridian([(CROSSING_RAW, [])])
        b = KR.split_antimeridian([(CROSSING_UNWRAPPED, [])])
        assert a == b
        assert len(a) == 2

    def test_split_parts_in_range_and_area_preserved(self):
        parts = KR.split_antimeridian([(CROSSING_UNWRAPPED, [])])

        def ring_area(ring):
            r = list(ring) + [ring[0]]
            return abs(
                sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(r, r[1:]))
            ) / 2.0

        for ext, _holes in parts:
            assert all(-180.0 <= x <= 180.0 for x, _ in ext)
        assert sum(ring_area(e) for e, _ in parts) == pytest.approx(
            ring_area(CROSSING_UNWRAPPED)
        )

    def test_membership_matches_unwrapped_frame(self):
        parts = KR.split_antimeridian([(CROSSING_UNWRAPPED, [])])
        rng = np.random.default_rng(7)
        lon = rng.uniform(-180, 180, 4000)
        lat = rng.uniform(0, 35, 4000)
        got = np.zeros(lon.shape, dtype=bool)
        for ext, holes in parts:
            got |= KR.points_in_polygon(lon, lat, ext, holes)
        # Ground truth in the unwrapped frame: shift western longitudes
        # up by 360 and test against the original ring.
        lon_u = np.where(lon < 0, lon + 360.0, lon)
        exp = KR.points_in_polygon(lon_u, lat, CROSSING_UNWRAPPED, [])
        assert (got == exp).all()

    def test_far_side_hole_attached_to_correct_half(self):
        """A hole given in-range on the east side of the seam must be
        clipped into the EAST part (regression: unwrap anchored to the
        hole's own first vertex attached it to the west part)."""
        hole = [(-178.0, 14.0), (-175.0, 14.0), (-175.0, 20.0), (-178.0, 20.0)]
        parts = KR.split_antimeridian([(CROSSING_RAW, [hole])])
        by_side = {round(min(x for x, _ in ext)): holes for ext, holes in parts}
        assert by_side[170] == [] and len(by_side[-180]) == 1
        inside = any(
            bool(KR.points_in_polygon([-176.5], [17.0], ext, holes)[0])
            for ext, holes in parts
        )
        assert not inside  # hole-interior point excluded

    def test_non_crossing_unwrapped_hole_anchored_to_exterior(self):
        ext = [(200.0, 10.0), (220.0, 10.0), (220.0, 25.0), (200.0, 25.0)]
        hole = [(-155.0, 14.0), (-150.0, 14.0), (-150.0, 20.0), (-155.0, 20.0)]
        (oext, oholes), = KR.split_antimeridian([(ext, [hole])])
        assert all(-180.0 <= x <= 180.0 for x, _ in oext)
        assert oholes and all(-180.0 <= x <= 180.0 for x, _ in oholes[0])
        assert not KR.points_in_polygon([-152.0], [17.0], oext, oholes)[0]

    def test_hole_clipped_to_both_sides(self):
        hole = [(175.0, 14.0), (185.0, 14.0), (185.0, 20.0), (175.0, 20.0)]
        parts = KR.split_antimeridian([(CROSSING_UNWRAPPED, [hole])])
        assert len(parts) == 2
        assert all(len(holes) == 1 for _, holes in parts)
        inside_hole = []
        for ext, holes in parts:
            inside_hole.append(
                bool(KR.points_in_polygon([178.0], [17.0], ext, holes)[0])
                or bool(KR.points_in_polygon([-178.0], [17.0], ext, holes)[0])
            )
        assert not any(inside_hole)

    def test_full_revolution_rejected(self):
        # Unwrapping keeps consecutive deltas <= 180, so a >360 span
        # needs accumulated steps.
        ring = [(0.0, 10.0), (170.0, 10.0), (340.0, 10.0), (510.0, 10.0)]
        with pytest.raises(ValueError):
            KR.split_antimeridian([(ring, [])])

    def test_polyfill_equivalence_manual_halves(self):
        parts = KR.split_antimeridian([(CROSSING_RAW, [])])
        auto = KR.polyfill(WGS84_003, parts, 2, plane=False)
        manual = KR.polyfill(
            WGS84_003, [(WEST_HALF, []), (EAST_HALF, [])], 2, plane=False
        )
        assert auto == manual
        assert auto  # non-empty: seam cells present


class TestLinetrace:
    def test_crossing_segment_equals_manual_split(self):
        eps = 1e-9
        a, b = (175.0, 5.0), (-175.0, 6.0)
        got = KR.linetrace(WGS84_003, [[a, b]], 3, plane=False, split_dateline=True)
        west = KR.cells_from_line(WGS84_003, 3, a, (180.0 - eps, 5.5), False)
        east = KR.cells_from_line(WGS84_003, 3, (-180.0 + eps, 5.5), b, False)
        manual = []
        for c in west + east:
            if not manual or manual[-1] != c:
                manual.append(c)
        assert got == manual
        assert len(got) >= 2
        # Cells from both sides of the seam are present.
        assert any(c.startswith("R") for c in got)  # lon 90..180
        assert any(c.startswith("O") for c in got)  # lon -180..-90

    def test_non_crossing_unchanged(self):
        line = [[(10.0, 5.0), (20.0, 6.0)]]
        assert KR.linetrace(
            WGS84_003, line, 3, plane=False, split_dateline=True
        ) == KR.linetrace(WGS84_003, line, 3, plane=False)

    def test_westward_crossing(self):
        a, b = (-175.0, -5.0), (175.0, -6.0)
        got = KR.linetrace(WGS84_003, [[a, b]], 3, plane=False, split_dateline=True)
        assert any(c.startswith("O") for c in got)
        assert any(c.startswith("R") for c in got)

    def test_seam_exact_start_heading_east(self):
        # (180, 5) -> (-175, 6) is entirely in the west hemisphere's
        # frame of lon in [-180, -175]; the raw jump (-355) must NOT
        # produce a spurious east-side sub-segment (ADVICE r3: the old
        # seam choice from a[0] > 0 split at t == 0).
        a, b = (180.0, 5.0), (-175.0, 6.0)
        segs = KR._split_segment_dateline(a, b, 180.0)
        assert segs == [((-180.0, 5.0), b)]
        got = KR.linetrace(WGS84_003, [[a, b]], 3, plane=False, split_dateline=True)
        ref = KR.cells_from_line(WGS84_003, 3, (-180.0, 5.0), b, False)
        assert got == ref
        # No cell east of the seam-adjacent column appears.
        assert all(not c.startswith("R5") or c in ref for c in got)

    def test_seam_exact_start_heading_west(self):
        # (-180, 5) -> (175, 6): pure east-hemisphere segment.
        a, b = (-180.0, 5.0), (175.0, 6.0)
        segs = KR._split_segment_dateline(a, b, 180.0)
        assert segs == [((180.0, 5.0), b)]
        got = KR.linetrace(WGS84_003, [[a, b]], 3, plane=False, split_dateline=True)
        assert got == KR.cells_from_line(WGS84_003, 3, (180.0, 5.0), b, False)

    def test_seam_exact_end(self):
        # Segment ending exactly on the seam from the east hemisphere.
        a, b = (175.0, 5.0), (-180.0, 6.0)
        segs = KR._split_segment_dateline(a, b, 180.0)
        assert segs == [(a, (180.0, 6.0))]

    def test_both_endpoints_on_seam(self):
        a, b = (180.0, 5.0), (-180.0, 8.0)
        segs = KR._split_segment_dateline(a, b, 180.0)
        assert segs == [(a, (180.0, 8.0))]


@pytest.mark.usefixtures("spark")
class TestDistributed:
    def test_zone_tiles_many_split_dateline(self, spark):
        from rhealpixdggs_spark.kernel import zones as KZ
        from rhealpixdggs_spark.operators.tiling import zone_tiles_many

        got = sorted(
            (r.zone, r.tile_id)
            for r in zone_tiles_many(
                spark,
                {"fiji": [(CROSSING_RAW, [])]},
                res_limit=2,
                split_dateline=True,
            ).collect()
        )
        exp = sorted(
            ("fiji", c)
            for c in KZ.zone_from_poly(
                WGS84_003, KR.split_antimeridian([(CROSSING_RAW, [])]), 2
            )
        )
        assert got == exp and got

    def test_polygon_join_split_dateline(self, spark):
        from rhealpixdggs_spark.operators.joins import polygon_join

        pts = spark.createDataFrame(
            [
                (1, 176.0, 15.0),   # west of the seam, inside
                (2, -176.0, 20.0),  # east of the seam, inside
                (3, 150.0, 15.0),   # outside
                (4, -176.0, 40.0),  # outside (lat)
            ],
            "pid int, lon double, lat double",
        )
        got = {
            (r.pid, r.zone)
            for r in polygon_join(
                pts, [("fiji", CROSSING_RAW, [])], res=2, split_dateline=True
            ).collect()
        }
        assert got == {(1, "fiji"), (2, "fiji")}

    def test_polygon_join_auto_split_default(self, spark):
        """VERDICT r3 item 4: a crossing polygon with the flag UNSET
        must auto-split and match split_dateline=True — never silently
        return partial matches."""
        from rhealpixdggs_spark.operators.joins import polygon_join

        pts = spark.createDataFrame(
            [
                (1, 176.0, 15.0),
                (2, -176.0, 20.0),
                (3, 150.0, 15.0),
            ],
            "pid int, lon double, lat double",
        )
        got = {
            (r.pid, r.zone)
            for r in polygon_join(pts, [("fiji", CROSSING_RAW, [])], res=2).collect()
        }
        assert got == {(1, "fiji"), (2, "fiji")}

    def test_polygon_join_false_raises_on_crossing(self, spark):
        from rhealpixdggs_spark.operators.joins import polygon_join

        pts = spark.createDataFrame(
            [(1, 176.0, 15.0)], "pid int, lon double, lat double"
        )
        with pytest.raises(ValueError, match="antimeridian"):
            polygon_join(
                pts, [("fiji", CROSSING_RAW, [])], res=2, split_dateline=False
            )

    def test_polygon_join_seam_point_plus180(self, spark):
        """+180 and -180 encode the same meridian; a point normalized
        to +180.0 inside the crossing polygon must still match."""
        from rhealpixdggs_spark.operators.joins import polygon_join

        pts = spark.createDataFrame(
            [(1, 180.0, 15.0), (2, -180.0, 15.0)],
            "pid int, lon double, lat double",
        )
        got = {
            r.pid
            for r in polygon_join(
                pts, [("fiji", CROSSING_RAW, [])], res=2, split_dateline=True
            ).collect()
        }
        assert got == {1, 2}

    def test_region_cover_seam_edge_matches_kernel(self, spark):
        """A quad whose east edge sits exactly at +180: the kernel walk
        includes the wrapped first column (encode(+180) lands there);
        the distributed closed-form span must produce the identical
        matrix."""
        from rhealpixdggs_spark.operators.tiling import region_cover_ell_df

        M = KR.cells_from_region(WGS84_003, 2, (170.0, 25.0), (180.0, 10.0), plane=False)
        exp = {(i, j, c) for i, row in enumerate(M) for j, c in enumerate(row)}
        got = {
            (r.row_i, r.col_i, r.cell_id)
            for r in region_cover_ell_df(
                spark, 2, (170.0, 25.0), (180.0, 10.0)
            ).collect()
        }
        assert got == exp

    def test_polygon_join_multipart_zone_refine(self, spark):
        """A zone split into several (zone, ext, holes) entries must OR
        over all its parts in the refine pass (regression: the lookup
        previously kept only the last part)."""
        from rhealpixdggs_spark.operators.joins import polygon_join

        pts = spark.createDataFrame(
            [(1, 172.0, 15.0), (2, -172.0, 15.0)],
            "pid int, lon double, lat double",
        )
        got = {
            (r.pid, r.zone)
            for r in polygon_join(
                pts,
                [("z", WEST_HALF, []), ("z", EAST_HALF, [])],
                res=2,
            ).collect()
        }
        assert got == {(1, "z"), (2, "z")}

    def test_linetrace_df_split_dateline(self, spark):
        from rhealpixdggs_spark.operators.tiling import linetrace_df

        lines = spark.createDataFrame(
            [(0, [{"lon": 175.0, "lat": 5.0}, {"lon": -175.0, "lat": 6.0}])],
            "line_id int, line array<struct<lon: double, lat: double>>",
        )
        got = [
            r.cell_id
            for r in linetrace_df(lines, 3, split_dateline=True)
            .orderBy("seq")
            .collect()
        ]
        exp = KR.linetrace(
            WGS84_003,
            [[(175.0, 5.0), (-175.0, 6.0)]],
            3,
            plane=False,
            split_dateline=True,
        )
        assert got == exp
    def test_polyfill_df_split_dateline(self, spark):
        from rhealpixdggs_spark.operators.tiling import polyfill_df

        got = {
            r.tile_id
            for r in polyfill_df(
                spark,
                {"fiji": [(CROSSING_RAW, [])]},
                res=2,
                plane=False,
                split_dateline=True,
            ).collect()
        }
        exp = KR.polyfill(
            WGS84_003,
            KR.split_antimeridian([(CROSSING_RAW, [])]),
            2,
            plane=False,
        )
        assert got == exp

    def test_zone_df_split_dateline(self, spark):
        from rhealpixdggs_spark.kernel import zones as KZ
        from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

        got = sorted(
            r.cell_id
            for r in zone_from_poly_df(
                spark,
                [(CROSSING_RAW, [])],
                res_limit=2,
                split_dateline=True,
            ).collect()
        )
        exp = sorted(
            KZ.zone_from_poly(
                WGS84_003,
                KR.split_antimeridian([(CROSSING_RAW, [])]),
                2,
            )
        )
        assert got == exp
        assert got


class TestPolygonJoinDFDateline:
    """polygon_join_df must match polygon_join's dateline behavior:
    auto-split by default, +180/-180 seam points match, False raises
    (inside the distributed resolve stage)."""

    def _pts(self, spark):
        return spark.createDataFrame(
            [
                (1, 176.0, 15.0),   # west of the seam, inside
                (2, -176.0, 20.0),  # east of the seam, inside
                (3, 150.0, 15.0),   # outside
                (4, 180.0, 15.0),   # seam meridian, +180 form
                (5, -180.0, 15.0),  # seam meridian, -180 form
            ],
            "pid int, lon double, lat double",
        )

    def _fleet(self, spark):
        from rhealpixdggs_spark.operators.tiling import polygons_to_df

        return polygons_to_df(spark, {"fiji": [(CROSSING_RAW, [])]})

    def test_auto_split_and_seam_points(self, spark):
        from rhealpixdggs_spark.operators.joins import polygon_join_df

        got = {
            (r.pid, r.zone)
            for r in polygon_join_df(
                self._pts(spark), self._fleet(spark), res=2
            ).collect()
        }
        assert got == {
            (1, "fiji"), (2, "fiji"), (4, "fiji"), (5, "fiji")
        }

    def test_false_raises_on_crossing(self, spark):
        from rhealpixdggs_spark.operators.joins import polygon_join_df

        with pytest.raises(Exception, match="antimeridian"):
            polygon_join_df(
                self._pts(spark), self._fleet(spark), res=2,
                split_dateline=False,
            ).collect()


class TestZoneTilesManyDFDateline:
    def test_matches_dict_path_split(self, spark):
        """zone_tiles_many_df must auto-split crossing rings: the same
        cells as the kernel recursion over the kernel's split."""
        from rhealpixdggs_spark.kernel import zones as KZ
        from rhealpixdggs_spark.operators.tiling import (
            polygons_to_df, zone_tiles_many_df,
        )

        zones = {"fiji": [(CROSSING_RAW, [])]}
        exp = sorted(
            ("fiji", c)
            for c in KZ.zone_from_poly(
                WGS84_003, KR.split_antimeridian(zones["fiji"]), 2
            )
        )
        got = sorted(
            (r.zone, r.tile_id)
            for r in zone_tiles_many_df(
                spark, polygons_to_df(spark, zones), res_limit=2
            ).collect()
        )
        assert got == exp and got
