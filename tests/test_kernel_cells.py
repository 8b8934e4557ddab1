"""Cell encode/decode/hierarchy parity: goldens + live-oracle batches."""

import numpy as np
import pytest

from rhealpixdggs_spark.kernel import cells as C
from rhealpixdggs_spark.kernel.constants import DggsConfig, UNIT_003, WGS84_003

A = np.array


def npround(x, d):
    return round(np.float64(x), d)


def enc1(cfg, lat, lng, res, plane=False):
    return C.encode(cfg, A([lng]), A([lat]), res, plane=plane)[0]


class TestEncodeGoldens:
    def test_wrapper_goldens(self):
        # rhp_wrappers.py:64-67
        assert enc1(WGS84_003, -43.738058, -176.260506, 9) == "S001450634"
        assert enc1(WGS84_003, -43.738379, -176.258807, 9) == "S001450635"

    def test_dggs_doctest(self):
        cfg = DggsConfig(north_square=1, south_square=2)
        assert enc1(cfg, 45, 0, 1) == "N8"  # dggs.py:50-53

    def test_planar_unit(self):
        assert enc1(UNIT_003, 0, 0, 1, plane=True) == "Q3"  # dggs.py:749-752

    def test_outside_grid_returns_none(self):
        # Planar point far outside the image (dggs.py:793-795).
        out = C.encode(UNIT_003, A([100.0]), A([100.0]), 3, plane=True)
        assert out[0] is None

    def test_nan_returns_none(self):
        out = C.encode(WGS84_003, A([np.nan]), A([1.0]), 5)
        assert out[0] is None


class TestDecodeGoldens:
    def test_nucleus_unit(self):
        f, d = C.parse_suids(A(["N"]))
        x, y = C.nucleus(UNIT_003, f, d, plane=True)
        assert (npround(x[0], 14), npround(y[0], 14)) == (-2.35619449019234, 1.5707963267949)

    def test_ul_nw_vertex_table(self):
        # cell.py:552-585
        cases = {
            "P57": ((-2223901.0395045895, -555975.2598761478), 0),
            "S4": ((-16679257.796284417, -8339628.898142208), 0),
            "N43": ((-16679257.796284417, 10563529.937646799), None),
            "S43": ((-16679257.796284417, -9451579.417894501), None),
            "N62": ((-17791208.316036712, 8339628.898142208), None),
            "S62": ((-17791208.316036712, -11675480.457399093), None),
        }
        nw_expect = {
            "P57": (-2223901.0395045895, -555975.2598761478),
            "S4": (-16679257.796284417, -8339628.898142208),
            "N43": (-15567307.276532121, 10563529.937646799),
            "S43": (-16679257.796284417, -10563529.937646795),
            "N62": (-16679257.796284417, 8339628.898142208),
            "S62": (-16679257.796284417, -12787430.977151388),
        }
        for suid, (ul_exp, _) in cases.items():
            f, d = C.parse_suids(A([suid]))
            x, y = C.ul_vertex(WGS84_003, f, d)
            assert (npround(x[0], 14), npround(y[0], 14)) == ul_exp, suid
            v = C.vertices_planar(WGS84_003, f, d)[0]
            i = C.nw_vertex_index(WGS84_003, f, d)[0]
            assert (npround(v[i][0], 14), npround(v[i][1], 14)) == nw_expect[suid], suid

    def test_vertices_ellipsoidal_dart(self):
        f, d = C.parse_suids(A(["N0"]))
        v = C.vertices(WGS84_003, f, d, plane=False)[0]
        exp = [
            (89.99999999999993, 74.42400670199599),
            (119.99999999999999, 41.93785391016014),
            (90.0, 41.93785391016014),
            (59.99999999999999, 41.93785391016014),
        ]
        got = [(npround(p[0], 14), npround(p[1], 14)) for p in v]
        assert got == exp
        t = C.vertices(WGS84_003, f, d, plane=False, trim_dart=True)[0]
        assert len(t) == 3
        f, d = C.parse_suids(A(["S0"]))
        t = C.vertices(WGS84_003, f, d, plane=False, trim_dart=True)[0]
        got = [(npround(p[0], 13), npround(p[1], 13)) for p in t]
        assert got == [
            (150.0, -41.9378539101601),
            (-150.0, -41.9378539101601),
            (-179.9999999999999, -74.424006701996),
        ]

    def test_boundary_unit(self):
        f, d = C.parse_suids(A(["N6"]))
        b = C.boundary(UNIT_003, f, d, n_per_edge=3, plane=True)[0]
        assert (npround(b[0][0], 14), npround(b[0][1], 14)) == (
            -3.14159265358979,
            1.30899693899575,
        )
        assert len(b) == 8
        be = C.boundary(UNIT_003, f, d, n_per_edge=3, plane=False)[0]
        assert (npround(be[0][0], 14), npround(be[0][1], 14)) == (-180.0, 74.35752898700072)
        assert (npround(be[7][0], 14), npround(be[7][1], 14)) == (
            157.49999999999997,
            58.41366190347208,
        )

    def test_boundary_golden_res9(self):
        # rhp_to_geo_boundary('S001450634', ...) corners, as executed by
        # the reference on this machine (env-level last-ulp differences
        # from the published doctest text are tolerated at 1e-12).
        f, d = C.parse_suids(A(["S001450634"]))
        v = C.vertices(WGS84_003, f, d, plane=False)[0]
        exp = [
            (-176.26086040756147, -43.73395872598705),
            (-176.25612132062557, -43.73395872598705),
            (-176.26046658591815, -43.73913136381169),
            (-176.2652061719943, -43.73913136381169),
        ]
        np.testing.assert_allclose(v, exp, rtol=0, atol=1e-12)

    def test_centroid(self):
        # rhp_wrappers.py:100-103 (skew-quad centroid: quadrature
        # replaces scipy.dblquad, tolerance accordingly)
        f, d = C.parse_suids(A(["S001450634", "S001450635"]))
        lo, la = C.centroid(WGS84_003, f, d, plane=False)
        np.testing.assert_allclose(
            [lo[0], la[0]], [-176.2606635452476, -43.73654505358369], atol=1e-10
        )
        np.testing.assert_allclose(
            [lo[1], la[1]], [-176.25592420875037, -43.73654505358369], atol=1e-10
        )
        # Planar centroid == nucleus (cell.py:1076-1078)
        f, d = C.parse_suids(A(["P02"]))
        assert C.centroid(WGS84_003, f, d, plane=True)[0][0] == C.nucleus(
            WGS84_003, f, d, plane=True
        )[0][0]

    def test_shape_and_region(self):
        f, d = C.parse_suids(A(["P2", "N2", "N4"]))
        shp = C.ellipsoidal_shape(WGS84_003, f, d)
        assert list(shp) == [0, 2, 1]
        f, d = C.parse_suids(A(["P22", "N22", "N44", "N43"]))
        shp = C.ellipsoidal_shape(WGS84_003, f, d)
        assert list(shp) == [0, 2, 1, 3]
        f, d = C.parse_suids(A(["P2", "N2", "S2"]))
        assert list(C.region_of(f)) == [0, 1, 2]

    def test_xy_range_unit(self):
        f, d = C.parse_suids(A(["N"]))
        x0, x1, y0, y1 = C.xy_range(UNIT_003, f, d)
        assert (x0[0], x1[0], y0[0], y1[0]) == (-np.pi, -np.pi / 2, np.pi / 4, 3 * np.pi / 4)


class TestIndexCodec:
    def test_level_order(self):
        f, d = C.parse_suids(A(["N2"]))
        assert C.level_order_index(UNIT_003, f, d)[0] == 8
        fa, dg = C.suid_from_level_order_index(UNIT_003, A([6 + 6 * 9 - 1]), 1)
        assert C.suid_strings(fa, dg)[0] == "S8"

    def test_roundtrip_res3(self):
        cfg = WGS84_003
        idx0 = cfg.num_cells(0, 2)
        n = 6 * 9**3
        idx = np.arange(idx0, idx0 + n)
        f, d = C.suid_from_level_order_index(cfg, idx, 3)
        back = C.level_order_index(cfg, f, d)
        assert np.array_equal(back, idx)
        # String order == index order at fixed resolution.
        s = C.suid_strings(f, d)
        assert list(s) == sorted(s)


class TestPostOrderInterval:
    def test_post_order_vs_reference(self, ref, rng):
        import random

        rd = ref.dggs.RHEALPixDGGS()
        random.seed(7)
        for _ in range(60):
            c = rd.random_cell(random.randint(0, 4))
            f, d = C.parse_suids(A([str(c)]))
            assert C.post_order_index(WGS84_003, f, d)[0] == c.index(order="post")

    def test_interval_vs_reference(self, ref, rng):
        import random

        rd = ref.dggs.RHEALPixDGGS()
        random.seed(7)
        checked = 0
        while checked < 25:
            a = rd.random_cell(random.randint(0, 3))
            b = rd.random_cell(random.randint(0, 3))
            if not (a <= b):
                a, b = b, a
            try:
                exp = [str(c) for c in rd.interval(a, b)]
            except AttributeError:
                # reference crashes when successor runs off the grid end
                continue
            lo, hi, res = C.interval_indices(WGS84_003, str(a), str(b))
            got = (
                []
                if hi < lo
                else list(
                    C.suid_strings(
                        *C.suid_from_level_order_index(
                            WGS84_003, np.arange(lo, hi + 1), res
                        )
                    )
                )
            )
            assert got == exp, (str(a), str(b))
            checked += 1

    def test_interval_doctest(self):
        # dggs.py:720-724
        lo, hi, res = C.interval_indices(UNIT_003, "N1", "N")
        got = list(
            C.suid_strings(
                *C.suid_from_level_order_index(UNIT_003, np.arange(lo, hi + 1), res)
            )
        )
        assert got == [f"N{i}" for i in range(1, 9)]


class TestOracleParity:
    def test_encode_batch_vs_reference(self, ref, rng):
        rd = ref.dggs.RHEALPixDGGS()
        lon = rng.uniform(-180, 180, 1500)
        lat = rng.uniform(-90, 90, 1500)
        for res in (1, 5, 9):
            mine = C.encode(WGS84_003, lon, lat, res)
            theirs = [
                str(rd.cell_from_point(res, (lo, la), plane=False))
                for lo, la in zip(lon, lat)
            ]
            assert list(mine) == theirs, res

    def test_nucleus_roundtrip_grid(self):
        # tests/test_dggs.py:122-129 analogue over the whole res-2 grid.
        cfg = WGS84_003
        idx0 = cfg.num_cells(0, 1)
        idx = np.arange(idx0, idx0 + 6 * 81)
        f, d = C.suid_from_level_order_index(cfg, idx, 2)
        lo, la = C.nucleus(cfg, f, d, plane=False)
        back = C.encode(cfg, lo, la, 2)
        assert list(back) == list(C.suid_strings(f, d))

    def test_ul_vertex_vs_reference(self, ref, rng):
        rd = ref.dggs.RHEALPixDGGS()
        idx0 = WGS84_003.num_cells(0, 3)
        idx = rng.integers(idx0, idx0 + 6 * 9**4, 300)
        f, d = C.suid_from_level_order_index(WGS84_003, idx, 4)
        sx, sy = C.ul_vertex(WGS84_003, f, d)
        for i, s in enumerate(C.suid_strings(f, d)):
            cell = rd.cell([s[0]] + [int(ch) for ch in s[1:]])
            tx, ty = cell.ul_vertex(plane=True)
            assert sx[i] == tx and sy[i] == ty, s
