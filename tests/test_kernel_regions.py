"""Region covers / polyfill / linetrace parity with reference goldens."""

import numpy as np
import pytest

from rhealpixdggs_spark.kernel import regions as RG
from rhealpixdggs_spark.kernel.constants import (
    UNIT_003,
    WGS84_003,
    WGS84_003_RADIANS,
)

pi = np.pi


def npround(x, d):
    return round(np.float64(x), d)


class TestLatitudes:
    def test_cell_latitudes_nucleus(self):
        # dggs.py:940-949
        got = RG.cell_latitudes(WGS84_003_RADIANS, 1, -pi / 2, pi / 2, True, plane=False)
        exp = [-1.02150660972679, -0.46233979145691, 0.0, 0.46233979145691, 1.02150660972679]
        assert [npround(v, 14) for v in got] == exp

    def test_cell_latitudes_boundary(self):
        # dggs.py:951-958
        got = RG.cell_latitudes(WGS84_003_RADIANS, 1, -pi / 2, pi / 2, False, plane=False)
        exp = [
            -1.29894395947616, -0.73195363195267, -0.22506566919844,
            0.22506566919844, 0.73195363195267, 1.29894395947616,
        ]
        assert [npround(v, 14) for v in got] == exp


class TestParallelMeridian:
    def test_cells_from_parallel(self):
        # dggs.py:1071-1074
        got = RG.cells_from_parallel(WGS84_003_RADIANS, 1, pi / 3, -pi, pi)
        assert got == ["N6", "N7", "N8", "N5", "N2", "N1", "N0", "N3"]

    def test_cells_from_meridian(self):
        # dggs.py:1019-1022
        got = RG.cells_from_meridian(WGS84_003_RADIANS, 1, 0.1, -pi / 2, pi / 2)
        assert got == ["N4", "N2", "N1", "Q0", "Q3", "Q6", "S8", "S7", "S4"]


class TestRegionCovers:
    def test_cell_from_region_planar(self):
        # dggs.py:856-861
        got = RG.cell_from_region(UNIT_003, (0, pi / 12), (pi / 6 - 1e-6, 0), plane=True)
        assert got == "Q3"

    def test_cells_from_region_planar(self):
        # dggs.py:1224-1233
        R_A = WGS84_003_RADIANS.R_A
        ul = (R_A * -0.1, R_A * pi / 4)
        dr = (R_A * 0.1, R_A * -pi / 4)
        M = RG.cells_from_region(WGS84_003_RADIANS, 1, ul, dr, plane=True)
        assert M == [["P2", "Q0"], ["P5", "Q3"], ["P8", "Q6"]]

    def test_cells_from_region_quad(self):
        # dggs.py:1235-1242
        M = RG.cells_from_region(WGS84_003_RADIANS, 1, (0, pi / 3), (pi / 2, 0), plane=False)
        assert M == [["N2", "N1", "N0"], ["Q0", "Q1", "Q2", "R0"], ["Q3", "Q4", "Q5", "R3"]]

    def test_cells_from_region_lune(self):
        # dggs.py:1244-1251
        M = RG.cells_from_region(
            WGS84_003_RADIANS, 1, (0, -pi / 6), (pi / 2, -pi / 2), plane=False
        )
        assert M == [["Q6", "Q7", "Q8", "R6"], ["S8", "S7", "S6"], ["S4"]]

    def test_cells_from_region_cap(self):
        # dggs.py:1253-1260
        M = RG.cells_from_region(
            WGS84_003_RADIANS, 1, (-pi, -pi / 5), (-pi, -pi / 2), plane=False
        )
        assert M == [
            ["O6", "O7", "O8", "P6", "P7", "P8", "Q6", "Q7", "Q8", "R6", "R7", "R8"],
            ["S0", "S1", "S2", "S5", "S8", "S7", "S6", "S3"],
            ["S4"],
        ]

    def test_cells_from_region_doctest_degrees(self):
        # dggs.py:72-82 ((1,2)-DGGS, degrees)
        from rhealpixdggs_spark.kernel.constants import DggsConfig

        cfg = DggsConfig(north_square=1, south_square=2)
        M = RG.cells_from_region(cfg, 1, (0, 45), (90, 0), plane=False)
        assert M == [["N8", "N5", "N2"], ["Q0", "Q1", "Q2", "R0"], ["Q3", "Q4", "Q5", "R3"]]


class TestPolyfill:
    UNIT_SQUARE = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)]

    def test_polyfill_goldens(self):
        # rhp_wrappers.py:539-553
        poly = [(self.UNIT_SQUARE, ())]
        assert RG.polyfill(WGS84_003, poly, 1, plane=False) == set()
        assert RG.polyfill(WGS84_003, poly, 3, plane=False) == set()
        assert RG.polyfill(WGS84_003, poly, 4, plane=False) == {"Q3330"}
        assert sorted(RG.polyfill(WGS84_003, poly, 5, plane=False)) == [
            "Q33303", "Q33304", "Q33305", "Q33306", "Q33307", "Q33308",
            "Q33330", "Q33331", "Q33332",
        ]
        r6 = sorted(RG.polyfill(WGS84_003, poly, 6, plane=False))
        assert len(r6) == 80
        assert r6[0] == "Q333033" and r6[-1] == "Q333354"

    def test_polyfill_compress(self):
        poly = [(self.UNIT_SQUARE, ())]
        r6 = RG.polyfill(WGS84_003, poly, 6, plane=False, compress=True)
        # Compression replaces any complete 9-sibling groups.
        assert "Q33330" in r6  # children Q333300..Q333308 all present

    def test_point_in_polygon_holes(self):
        ext = [(0, 0), (10, 0), (10, 10), (0, 10)]
        hole = [(4, 4), (6, 4), (6, 6), (4, 6)]
        px = np.array([5.0, 1.0, 11.0])
        py = np.array([5.0, 1.0, 5.0])
        got = RG.points_in_polygon(px, py, ext, [hole])
        assert list(got) == [False, True, False]


class TestLinetrace:
    def test_linetrace_golden(self):
        # rhp_wrappers.py:629-631
        line = [[(-176.260506, -43.738058), (-176.258807, -43.738379)]]
        assert RG.linetrace(WGS84_003, line, 9, plane=False) == ["S001450634", "S001450635"]

    def test_cells_from_line_golden(self):
        # dggs.py:1118-1121
        got = RG.cells_from_line(WGS84_003, 3, (-89.669615, 86.549596), (-134, 86), False)
        assert got == ["N448", "N447"]


class TestHierarchyHelpers:
    def test_parent_child(self):
        assert RG.rhp_to_parent("S001450634", 0) == "S"
        assert RG.rhp_to_parent("S001450634") == "S00145063"
        assert RG.rhp_to_parent("N") == "N"
        assert RG.rhp_to_center_child(WGS84_003, "S001450634") == "S0014506344"
        assert RG.rhp_to_center_child(WGS84_003, "S001450634", 13) == "S0014506344444"
        assert RG.rhp_to_center_child(WGS84_003, "S001450634", 9) == "S001450634"

    def test_valid(self):
        assert RG.rhp_is_valid(WGS84_003, "S001450634")
        assert RG.rhp_is_valid(WGS84_003, "N")
        assert not RG.rhp_is_valid(WGS84_003, "INVALID")
        assert not RG.rhp_is_valid(WGS84_003, None)
        assert not RG.rhp_is_valid(WGS84_003, "S9")

    def test_subcells(self):
        assert RG.subcells(WGS84_003, "N") == [f"N{i}" for i in range(9)]
        assert len(RG.subcells(WGS84_003, "N4", 3)) == 81
        assert RG.subcells(WGS84_003, "N4", 1) == ["N4"]

    def test_compress(self):
        cells = [f"Q333{i}" for i in range(9)] + ["Q3341"]
        got = RG.compress_order_cells(cells)
        assert got == ["Q333", "Q3341"]

    def test_contains(self):
        # cell.py:892-899
        p = (pi / 4, 0)
        c = RG.encode1(WGS84_003_RADIANS, p[0], p[1], 2, plane=False)
        assert c == "Q44"
        assert RG.contains(WGS84_003_RADIANS, c, p, plane=False)

    def test_intersects_parallel_matches_reference(self, ref):
        # cell.py:940-957 — caps, darts, skew quads and plain quads
        # across both hemispheres, checked against the reference Cell.
        rd = ref.dggs.RHEALPixDGGS()
        cells = ["N4", "S4", "N0", "N44", "S88", "O0", "P12", "Q33", "R785"]
        phis = [-90.0, -70.0, -42.0, -20.0, 0.0, 15.0, 41.9, 60.0, 88.0, 90.0]
        for s in cells:
            c = rd.cell([s[0]] + [int(d) for d in s[1:]])
            for phi in phis:
                assert RG.intersects_parallel(WGS84_003, s, phi) == bool(
                    c.intersects_parallel(phi)
                ), (s, phi)

    def test_cells_from_parallel_all_intersect(self):
        # independent consistency: every cell the parallel walk returns
        # must report boundary intersection with that parallel.
        for phi in (-63.0, -10.0, 33.0, 52.0):
            for s in RG.cells_from_parallel(WGS84_003, 2, phi, -150.0, 150.0):
                assert RG.intersects_parallel(WGS84_003, s, phi), (s, phi)

    def test_minimal_cover(self, ref):
        rd = ref.dggs.RHEALPixDGGS()
        import numpy as np

        from rhealpixdggs_spark.kernel import cells as C

        c1 = rd.cell(["N", 0, 2, 1])
        c2 = rd.cell(["P", 7, 3, 3])
        points = [c.nucleus() for c in [c1, c2]]
        for r in range(5):
            got = sorted(RG.minimal_cover(WGS84_003, r, points, plane=True))
            exp = sorted(str(c) for c in rd.minimal_cover(r, points, plane=True))
            assert got == exp
