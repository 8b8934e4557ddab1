"""Projection kernel parity: golden doctest values + random-batch
bit-equality against the reference modules executed in-process."""

import numpy as np
import pytest

from rhealpixdggs_spark.kernel import healpix as H
from rhealpixdggs_spark.kernel import latitudes as L
from rhealpixdggs_spark.kernel import rhealpix as R
from rhealpixdggs_spark.kernel.constants import (
    DggsConfig,
    WGS84_003,
    WGS84_B,
    WGS84_E,
    WGS84_R_A,
)

A = np.array


def npround(x, d):
    # The reference formats doctest output via round(np.float64, d),
    # which dispatches to numpy's scaled rounding (utils.py:24-44).
    return round(np.float64(x), d)


class TestGoldens:
    def test_constants(self):
        assert WGS84_R_A == 6371007.180918476
        assert WGS84_E == 0.08181919084262149
        assert WGS84_B == 6356752.314245179
        assert DggsConfig().max_resolution == 15

    def test_auth_lat_roundtrip(self):
        beta = L.auth_lat(A([np.pi / 3]), 0.08181919104281579, radians=True)[0]
        assert npround(beta, 15) == 1.045256493205824
        inv = L.auth_lat(A([beta]), 0.08181919104281579, radians=True, inverse=True)[0]
        assert npround(inv, 15) == 1.047197551196598

    def test_wrap(self):
        assert L.wrap_longitude(A([3 * np.pi]), radians=True)[0] == -3.141592653589793
        assert L.wrap_latitude(A([135.0]))[0] == -45.0
        assert L.wrap_latitude(A([-135.0]))[0] == 45.0
        assert L.wrap_latitude(A([90.0]))[0] == 90.0

    def test_nonfinite_wrap_and_encode_warn_nothing(self):
        """inf, -inf and NaN wrap to NaN and encode to no cell (-1 /
        None), without a RuntimeWarning from the wrap's np.mod."""
        import warnings

        from rhealpixdggs_spark.kernel import cells as KC

        bad = A([np.inf, -np.inf, np.nan])
        five = A([5.0, 5.0, 5.0])
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            assert np.isnan(L.wrap_longitude(bad)).all()
            assert np.isnan(L.wrap_longitude(bad, radians=True)).all()
            assert np.isnan(L.wrap_latitude(bad)).all()
            for lon, lat in ((bad, five), (five, bad), (bad, bad)):
                assert KC.encode_index(WGS84_003, lon, lat, 3).tolist() == [-1] * 3
                assert KC.encode(WGS84_003, lon, lat, 3).tolist() == [None] * 3

    def test_healpix_sphere(self):
        x, y = H.healpix_sphere(A([0.0]), A([np.arcsin(2.0 / 3)]))
        assert (x[0], y[0]) == (0.0, np.pi / 4)
        lam, phi = H.healpix_sphere_inverse(A([0.0]), A([np.pi / 4]))
        assert (lam[0], phi[0]) == (0.0, np.arcsin(2.0 / 3))

    def test_healpix_ellipsoid(self):
        _, y = H.healpix_ellipsoid(A([0.0]), A([np.pi / 7]))
        assert npround(y[0], 15) == 0.511157237746422
        _, y = H.healpix_ellipsoid(A([0.0]), A([np.pi / 7]), e=0.8)
        assert npround(y[0], 15) == 0.268484450857837

    def test_combine_triangles(self):
        x, y = R.combine_triangles(A([-np.pi / 4]), A([np.pi / 3]))
        assert npround(x[0], 15) == -1.832595714594046
        assert npround(y[0], 15) == 1.570796326794896
        xi, yi = R.combine_triangles(x, y, inverse=True)
        assert npround(xi[0], 15) == -0.785398163397448
        assert npround(yi[0], 15) == 1.047197551196598

    def test_triangle(self):
        t, r = R.triangle(A([-np.pi / 4]), A([np.pi / 4 + 0.1]))
        assert (t[0], r[0]) == (1, 1)
        t, r = R.triangle(A([-3 * np.pi / 4 + 0.1]), A([np.pi / 2]), inverse=True)
        assert (t[0], r[0]) == (1, 1)

    def test_rhealpix_factory(self):
        cfg = DggsConfig(a=2.0, e=0.0, f=0.0, R_A=2.0, north_square=1, south_square=2)
        x, y = R.rhealpix_forward(cfg, A([0.0]), A([60.0]))
        assert npround(x[0], 15) == -0.574951359778215
        assert npround(y[0], 15) == 2.145747686573111
        lam, phi = R.rhealpix_inverse(cfg, x, y)
        assert npround(phi[0], 15) == 59.999999999999986

    def test_projection_wrapper_golden(self):
        cfg = DggsConfig(north_square=1, south_square=0)
        x, y = R.rhealpix_forward(cfg, A([0.0]), A([30.0]))
        assert x[0] == 0.0
        assert npround(y[0], 15) == 3740232.8933662786


class TestOracleParity:
    """Bit-equality against the reference code on random batches."""

    def _points(self, rng, n=4096):
        lon = rng.uniform(-180, 180, n)
        lat = rng.uniform(-90, 90, n)
        return lon, lat

    def test_auth_lat_bits(self, ref, rng):
        phi = rng.uniform(-np.pi / 2, np.pi / 2, 4096)
        mine = L.auth_lat(phi, WGS84_E, radians=True)
        theirs = np.array([ref.utils.auth_lat(p, WGS84_E, radians=True) for p in phi])
        assert np.array_equal(mine, theirs)
        mine_i = L.auth_lat(phi, WGS84_E, radians=True, inverse=True)
        theirs_i = np.array(
            [ref.utils.auth_lat(p, WGS84_E, radians=True, inverse=True) for p in phi]
        )
        assert np.array_equal(mine_i, theirs_i)

    def test_healpix_sphere_bits(self, ref, rng):
        lam = rng.uniform(-np.pi, np.pi, 4096)
        phi = rng.uniform(-np.pi / 2, np.pi / 2, 4096)
        mx, my = H.healpix_sphere(lam, phi)
        tx, ty = zip(*[ref.pj_healpix.healpix_sphere(a, b) for a, b in zip(lam, phi)])
        assert np.array_equal(mx, np.array(tx))
        assert np.array_equal(my, np.array(ty))

    def test_rhealpix_ellipsoid_bits(self, ref, rng):
        lam = rng.uniform(-np.pi, np.pi, 4096)
        phi = rng.uniform(-np.pi / 2, np.pi / 2, 4096)
        mx, my = R.rhealpix_ellipsoid(lam, phi, e=WGS84_E)
        t = [ref.pj_rhealpix.rhealpix_ellipsoid(a, b, e=WGS84_E) for a, b in zip(lam, phi)]
        tx, ty = map(np.array, zip(*t))
        assert np.array_equal(mx, tx)
        assert np.array_equal(my, ty)

    def test_rhealpix_inverse_bits(self, ref, rng):
        lam = rng.uniform(-np.pi, np.pi, 2048)
        phi = rng.uniform(-np.pi / 2, np.pi / 2, 2048)
        x, y = R.rhealpix_ellipsoid(lam, phi, e=WGS84_E)
        ml, mp = R.rhealpix_ellipsoid_inverse(x, y, e=WGS84_E)
        t = [
            ref.pj_rhealpix.rhealpix_ellipsoid_inverse(a, b, e=WGS84_E)
            for a, b in zip(x, y)
        ]
        tl, tp = map(np.array, zip(*t))
        # Longitudes bit-equal; latitudes bit-equal except a <=0.1%
        # tail where the reference's scalar-pow squaring is 1 ulp off
        # the correctly-rounded square (see healpix.py note).
        assert np.array_equal(ml, tl)
        mismatch = mp != tp
        assert mismatch.mean() <= 1e-3
        np.testing.assert_allclose(mp, tp, rtol=1e-15, atol=0)

    def test_roundtrip_identity(self, rng):
        lon, lat = self._points(rng)
        x, y = R.rhealpix_forward(WGS84_003, lon, lat)
        lo, la = R.rhealpix_inverse(WGS84_003, x, y)
        np.testing.assert_allclose(lo, lon, atol=1e-9)
        np.testing.assert_allclose(la, lat, atol=1e-9)

    def test_in_image(self, rng):
        lon, lat = self._points(rng)
        x, y = R.rhealpix_forward(WGS84_003, lon, lat)
        assert R.in_rhealpix_image(x / WGS84_R_A, y / WGS84_R_A).all()
        assert not R.in_rhealpix_image(np.array([0.0]), np.array([np.pi / 4 + 0.1]))[0]
