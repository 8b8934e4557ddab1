"""Fixture-utility parity: interior grids, lattices, xyz, cube fold."""

import numpy as np

from rhealpixdggs_spark.kernel import cells as C
from rhealpixdggs_spark.kernel import fixtures as FX
from rhealpixdggs_spark.kernel.constants import UNIT_003, WGS84_003, UNIT_003_RADIANS

A = np.array


def npround(x, d):
    return round(np.float64(x), d)


def test_interior_matches_reference(ref):
    # cell.py:850-855 shape, compared bit-for-bit against the live
    # reference (doctest text has env-level last-ulp differences).
    rd = ref.dggs.UNIT_003
    exp = rd.cell(["N"]).interior(n=2, plane=False, flatten=True)
    f, d = C.parse_suids(A(["N"]))
    got = FX.cell_interior(UNIT_003, f, d, n=2, plane=False)[0]
    assert [(float(e[0]), float(e[1])) for e in exp] == [tuple(p) for p in got]


def test_interior_points_are_contained():
    f, d = C.parse_suids(A(["Q3", "N4"]))
    pts = FX.cell_interior(WGS84_003, f, d, n=4, plane=True)
    for r, suid in enumerate(["Q3", "N4"]):
        cells = C.encode(WGS84_003, pts[r, :, 0], pts[r, :, 1], 1, plane=True)
        assert all(c == suid for c in cells)


def test_ellipsoid_xyz_doctest():
    # ellipsoids.py:335-337 (UNIT_SPHERE)
    x, y, z = FX.ellipsoid_xyz(UNIT_003, A([0.0]), A([45.0]))
    assert npround(x[0], 15) == 0.707106781186548
    assert y[0] == 0.0
    assert npround(z[0], 15) == 0.707106781186548


def test_dggs_xyz_doctest():
    # dggs.py:517-519 (UNIT_003_RADIANS, lonlat)
    x, y, z = FX.dggs_xyz(UNIT_003_RADIANS, A([0.0]), A([np.pi / 4]), lonlat=True)
    assert npround(x[0], 14) == 0.70710678118655
    assert npround(z[0], 14) == 0.70710678118655


def test_xyz_cube_doctest():
    # dggs.py:539-541 (UNIT_003, planar (0, 0))
    qx, qy, qz = FX.xyz_cube(UNIT_003, A([0.0]), A([0.0]))
    assert npround(qx[0], 14) == 0.78539816339745
    assert qy[0] == 0.0
    assert npround(qz[0], 14) == -0.78539816339745


def test_xyz_cube_vs_reference(ref, rng):
    rd = ref.dggs.RHEALPixDGGS()
    R = WGS84_003.R_A
    u = rng.uniform(-R * np.pi, R * np.pi, 200)
    v = rng.uniform(-R * np.pi / 2, R * np.pi / 2, 200)
    qx, qy, qz = FX.xyz_cube(WGS84_003, u, v)
    for i in range(200):
        ex, ey, ez = rd.xyz_cube(u[i], v[i])
        assert np.allclose([qx[i], qy[i], qz[i]], [ex, ey, ez], atol=1e-6), i


def test_lattice_doctest():
    pts = FX.lattice(UNIT_003, n=3)
    assert pts.shape == (18, 2)
    assert tuple(pts[0]) == (-150.0, -60.0)
    assert tuple(pts[-1]) == (150.0, 60.0)
    assert len(FX.graticule(UNIT_003, n=400)) == 25600


def test_random_points_area_uniform():
    lon, lat = FX.random_points(WGS84_003, 20000, seed=1)
    assert (np.abs(lat) <= 90).all() and (np.abs(lon) <= 180).all()
    # Area-uniform: |lat| < 30 deg covers half the sphere area.
    frac = (np.abs(lat) < 30).mean()
    assert 0.47 < frac < 0.53


def test_random_cells_valid():
    cells = FX.random_cells(WGS84_003, 100, 4, seed=2)
    assert all(len(c) == 5 and c[0] in "NOPQRS" for c in cells)


def test_cell_random_points_contained():
    xs, ys = FX.cell_random_points(WGS84_003, "N4", 50, plane=False)
    got = C.encode(WGS84_003, xs, ys, 1)
    assert all(c == "N4" for c in got)
