"""Zone rasterization vs the reference's published catchment golden.

The catchment 12104622 polygon and its ground-truth zone (254 distinct
cells at res 7-9) are the reference's own expected values for
conversion.CellZoneFromPoly (its tests/test_conversion.py:17-55,
58-537), vendored into rhealpixdggs_spark/data/catchment_12104622.json.
Where a reference checkout is present, its test file is parsed as well
and must agree with the vendored copy."""

import json
import os
import re

import numpy as np
import pytest

from rhealpixdggs_spark.kernel.constants import WGS84_003
from rhealpixdggs_spark.kernel.zones import get_finest_containing_cell, zone_from_poly

TEST_FILE = "/root/reference/tests/test_conversion.py"
GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rhealpixdggs_spark", "data", "catchment_12104622.json",
)


def _parse_reference(path):
    src = open(path).read()
    wkt = re.search(r'MULTIPOLYGON \(\(\((.*?)\)\)\)', src, re.S).group(1)
    coords = [
        tuple(map(float, p.split()))
        for p in re.split(r"\s*,\s*", wkt.replace("\n", " ").strip())
    ]
    block = src.split(
        "ground_truth_cells_for_catchment_12104622_at_res_9 = ["
    )[1].split("]")[0]
    cells = re.findall(r'"(R78\d+)"', block)
    return coords, set(cells)


@pytest.fixture(scope="module")
def catchment():
    with open(GOLDEN) as f:
        d = json.load(f)
    coords, cells = [tuple(p) for p in d["polygon"]], set(d["cells"])
    if os.path.exists(TEST_FILE):
        # The vendored copy must not drift from the reference's own file.
        assert _parse_reference(TEST_FILE) == (coords, cells)
    return coords, cells


def test_finest_containing_cell(catchment):
    coords, _ = catchment
    got = get_finest_containing_cell(WGS84_003, [(coords, ())])
    assert got == "R78518"  # tests/test_conversion.py:540


def test_zone_matches_ground_truth(catchment):
    coords, truth = catchment
    got = zone_from_poly(WGS84_003, [(coords, ())], res_limit=9)
    got_set = set(got)
    missing = truth - got_set
    extra = got_set - truth
    # The reference test asserts output <= ground truth; we require
    # near-exact agreement (boundary predicates are re-derived without
    # shapely, tolerate a whisker of disagreement at cell boundaries).
    assert len(extra) <= 2, sorted(extra)[:10]
    assert len(missing) <= 2, sorted(missing)[:10]


def test_zone_contains_polyfill_interior(catchment):
    # Every zone cell at res <= 9 should be an ancestor-or-equal of
    # ground-truth coverage; sanity-check multi-resolution compactness.
    coords, truth = catchment
    got = zone_from_poly(WGS84_003, [(coords, ())], res_limit=9)
    assert any(len(c) - 1 < 9 for c in got)  # some compaction happened
    for c in got:
        assert len(c) - 1 <= 9


class TestClassifyBatch:
    def test_matches_scalar_predicates(self):
        """classify_batch (the distributed zone loop's per-level
        predicate) must be bit-identical to the scalar contains_ring /
        overlaps_ring / nucleus tests across geometry shapes and
        levels."""
        import numpy as np

        from rhealpixdggs_spark.kernel import zones as KZ
        from rhealpixdggs_spark.kernel.constants import CELLS0, WGS84_003
        from rhealpixdggs_spark.kernel.regions import subcells

        geoms = {
            "eq_hole": [(
                [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0),
                 (-20.0, -10.0)],
                [[(0.0, 0.0), (10.0, 0.0), (5.0, 10.0), (0.0, 0.0)]],
            )],
            "polar": [(
                [(-150.0, 70.0), (-30.0, 72.0), (60.0, 75.0), (170.0, 71.0),
                 (-150.0, 70.0)],
                [],
            )],
        }
        lvl1 = [c for f in CELLS0 for c in subcells(WGS84_003, f)]
        lvl2 = [c for p in lvl1 for c in subcells(WGS84_003, p)][:400]
        for polys in geoms.values():
            geom = KZ._Geometry(polys)
            for batch in (np.array(CELLS0), np.array(lvl1), np.array(lvl2)):
                C, O, NU = KZ.classify_batch(WGS84_003, batch, geom)
                for i, s in enumerate(batch):
                    ring = KZ._cell_ring_ellipsoidal(WGS84_003, s)
                    f, d = KZ.parse_suids(np.array([s]))
                    lo, la = KZ.nucleus(WGS84_003, f, d, plane=False)
                    assert bool(C[i]) == geom.contains_ring(ring), s
                    assert bool(O[i]) == geom.overlaps_ring(ring), s
                    assert bool(NU[i]) == bool(
                        geom.contains_points(np.array(lo), np.array(la))[0]
                    ), s

    def test_empty_batch(self):
        import numpy as np

        from rhealpixdggs_spark.kernel import zones as KZ
        from rhealpixdggs_spark.kernel.constants import WGS84_003

        geom = KZ._Geometry([([(0.0, 0.0), (1.0, 0.0), (0.5, 1.0)], [])])
        c, o, nu = KZ.classify_batch(WGS84_003, np.array([], dtype=str), geom)
        assert len(c) == len(o) == len(nu) == 0
