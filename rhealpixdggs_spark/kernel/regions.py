"""Region covers, polyfill, line traces, cell-set compression.

Re-derivation of the reference's region machinery (dggs.py:833-1331,
rhp_wrappers.py:510-674, conversion.py:114-135). These run on the tile
side of the engine — polygon counts are tiny next to the pages table —
so faithful walk-based control flow is kept where the reference walks;
the per-step primitives are the vectorized kernels.

shapely is unavailable offline: geometry is passed as plain coordinate
rings (list of (x, y)), containment is a vectorized even-odd ray
crossing, and segment intersection is a 2x2-determinant orientation
test (replacing shapely.contains / LineString.intersects at
rhp_wrappers.py:592 and dggs.py:1161-1167).
"""

from __future__ import annotations

import math
import re

import numpy as np

from .cells import (
    centroid,
    ellipsoidal_shape,
    encode,
    nucleus,
    parse_suids,
    suid_strings,
    vertices,
)
from .constants import CELLS0, DggsConfig
from .neighbors import neighbor, neighbors_ellipsoidal
from .rhealpix import rhealpix_forward

# ---------------------------------------------------------------------------
# Scalar-cell helpers (tile-prep side; suid strings in, suid strings out)
# ---------------------------------------------------------------------------


def _one(suid: str):
    return parse_suids(np.array([suid]))


def _nucleus1(cfg, suid, plane):
    f, d = _one(suid)
    x, y = nucleus(cfg, f, d, plane=plane)
    return float(x[0]), float(y[0])


def _vertices1(cfg, suid, plane):
    f, d = _one(suid)
    v = vertices(cfg, f, d, plane=plane)
    return [tuple(p) for p in (v[0] if not plane else v[0])]


def _shape1(cfg, suid) -> int:
    f, d = _one(suid)
    return int(ellipsoidal_shape(cfg, f, d)[0])


def _neighbor1(cfg, suid, direction, plane=True) -> str:
    f, d = _one(suid)
    if plane:
        nf, nd = neighbor(cfg, f, d, direction)
        return str(suid_strings(nf, nd)[0])
    return neighbors_ellipsoidal(cfg, f, d)[0][direction]


def encode1(cfg, lon, lat, resolution, plane=False) -> str | None:
    return encode(cfg, np.array([lon]), np.array([lat]), resolution, plane=plane)[0]


def contains(cfg, suid: str, p, plane=True) -> bool:
    """Point-in-cell by re-encoding (cell.py:885-907)."""
    return encode1(cfg, p[0], p[1], len(suid) - 1, plane=plane) == suid


def healpix_forward_cfg(cfg, lon, lat):
    """HEALPix forward scaled by R_A (dggs.py:379-395); used by
    cell_latitudes."""
    from .healpix import healpix_ellipsoid, healpix_sphere_inverse
    from .latitudes import auth_lat, wrap_latitude, wrap_longitude

    lam = wrap_longitude(np.asarray(lon, dtype=np.float64) - cfg.lon_0, radians=cfg.radians)
    phi = wrap_latitude(np.asarray(lat, dtype=np.float64) - cfg.lat_0, radians=cfg.radians)
    if not cfg.radians:
        lam, phi = np.deg2rad(lam), np.deg2rad(phi)
    x, y = healpix_ellipsoid(lam, phi, e=cfg.e)
    return cfg.R_A * x, cfg.R_A * y


def healpix_inverse_cfg(cfg, x, y):
    from .healpix import healpix_ellipsoid_inverse
    from .latitudes import wrap_latitude, wrap_longitude

    lam, phi = healpix_ellipsoid_inverse(
        np.asarray(x, dtype=np.float64) / cfg.R_A,
        np.asarray(y, dtype=np.float64) / cfg.R_A,
        e=cfg.e,
    )
    if not cfg.radians:
        lam, phi = np.rad2deg(lam), np.rad2deg(phi)
    lam = wrap_longitude(lam + cfg.lon_0, radians=cfg.radians)
    phi = wrap_latitude(phi + cfg.lat_0, radians=cfg.radians)
    return lam, phi


# ---------------------------------------------------------------------------
# cell_latitudes / cells_from_parallel / cells_from_meridian
# ---------------------------------------------------------------------------


def cell_latitudes(
    cfg: DggsConfig,
    resolution: int,
    phi_min: float,
    phi_max: float,
    nucleus_lats: bool = True,
    plane: bool = True,
) -> list[float]:
    """Latitudes of cell nuclei / boundaries in a band
    (dggs.py:909-1004); float accumulation kept identical."""
    if phi_min > phi_max:
        return []
    R = cfg.R_A
    pi = np.pi
    if plane:
        y_min, y_max = phi_min, phi_max
    else:
        y_min = float(healpix_forward_cfg(cfg, np.array([0.0]), np.array([phi_min]))[1][0])
        y_max = float(healpix_forward_cfg(cfg, np.array([0.0]), np.array([phi_max]))[1][0])
    w = cfg.cell_width(resolution)
    if cfg.N_side % 2 == 1:
        y = -R * pi / 2 + w if nucleus_lats else -R * pi / 2 + w / 2
    else:
        if resolution == 0:
            y = 0.0 if nucleus_lats else -R * pi / 4
        else:
            y = -R * pi / 2 + w / 2 if nucleus_lats else -R * pi / 2 + w
    if y <= y_min:
        dy = y_min - y
        y = max(y + int(np.ceil(dy / w)) * w, y + w)
    acc = []
    while y < y_max:
        acc.append(y)
        y += w
    if not plane:
        arr = np.array(acc, dtype=np.float64)
        if arr.size:
            acc = list(
                healpix_inverse_cfg(cfg, np.full(arr.shape, R * pi / 4), arr)[1]
            )
    return acc


def intersects_meridian(cfg: DggsConfig, suid: str, lam: float) -> bool:
    """Does the ellipsoidal cell touch meridian lam (cell.py:909-939)."""
    if _shape1(cfg, suid) == 1:  # cap
        return True
    verts = _vertices1(cfg, suid, plane=False)
    lon_min = min(v[0] for v in verts)
    lon_max = max(v[0] for v in verts)
    PI = np.pi if cfg.radians else 180.0
    if abs(lon_min - lon_max) > PI:
        lon_min = -lon_max
        return lon_max <= lam or lam <= lon_min
    return lon_min <= lam <= lon_max


def intersects_parallel(cfg: DggsConfig, suid: str, phi: float) -> bool:
    """Does the ellipsoidal cell's boundary intersect parallel phi
    (cell.py:940-957): extreme vertex latitudes straddle the parallel;
    cap cells intersect everything poleward of their rim. Pure API
    surface — the reference never calls it internally either."""
    verts = _vertices1(cfg, suid, plane=False)
    lat_min = min(v[1] for v in verts)
    lat_max = max(v[1] for v in verts)
    if _shape1(cfg, suid) == 1:  # cap
        if suid[0] == "N":  # north_polar region
            return phi >= lat_min
        return phi <= lat_max
    return lat_min <= phi <= lat_max


def cells_from_meridian(
    cfg: DggsConfig, resolution: int, lam: float, phi_min: float, phi_max: float
) -> list[str]:
    """Cells intersecting a meridian segment, north to south
    (dggs.py:1006-1058)."""
    if phi_min > phi_max:
        return []
    start = encode1(cfg, lam, phi_max, resolution)
    end = encode1(cfg, lam, phi_min, resolution)
    if start == end:
        return [start]
    phis = cell_latitudes(cfg, resolution, phi_min, phi_max, True, plane=False)
    if not phis:
        return [start, end]
    acc = []
    for phi in reversed(phis):
        c = encode1(cfg, lam, phi, resolution)
        step_cells = [c]
        if _shape1(cfg, c) in (2, 3):  # dart, skew_quad
            west = _neighbor1(cfg, c, "west", plane=False)
            east = _neighbor1(cfg, c, "east", plane=False)
            if intersects_meridian(cfg, west, lam):
                step_cells = [west, c]
            elif intersects_meridian(cfg, east, lam):
                step_cells = [c, east]
        acc.extend(step_cells)
    if start not in acc[0:2]:
        acc.insert(0, start)
    if end not in acc[-1:-3]:
        acc.append(end)
    return acc


def cells_from_parallel(
    cfg: DggsConfig, resolution: int, phi: float, lam_min: float, lam_max: float
) -> list[str]:
    """Cells intersecting a parallel segment, west to east
    (dggs.py:1060-1094)."""
    if lam_min > lam_max:
        return []
    start = encode1(cfg, lam_min, phi, resolution)
    end = encode1(cfg, lam_max, phi, resolution)
    PI = np.pi if cfg.radians else 180.0
    if start == end:
        if _shape1(cfg, start) == 1 or lam_max - lam_min < PI / 2:
            return [start]
        end = _neighbor1(cfg, start, "west", plane=False)
    acc = []
    cur = start
    while cur != end:
        acc.append(cur)
        cur = _neighbor1(cfg, cur, "east", plane=False)
    acc.append(end)
    return acc


# ---------------------------------------------------------------------------
# cell_from_region / cells_from_region
# ---------------------------------------------------------------------------


def cell_from_region(cfg: DggsConfig, ul, dr, plane: bool = True) -> str | None:
    """Smallest cell containing the rectangle/quad (dggs.py:833-907):
    encode both corners at max resolution, take the longest common
    suid prefix."""
    if not plane:
        PI = np.pi if cfg.radians else 180.0
        if tuple(ul) == (-PI, PI / 2) or tuple(dr) == (-PI, -PI / 2):
            phi = dr[1] if dr[1] != -PI / 2 else ul[1]
            verts = [(-3 * PI / 4, phi), (-PI / 4, phi), (PI / 4, phi), (3 * PI / 4, phi)]
        else:
            verts = [tuple(ul), (ul[0], dr[1]), tuple(dr), (dr[0], ul[1])]
        lons = np.array([v[0] for v in verts])
        lats = np.array([v[1] for v in verts])
        px, py = rhealpix_forward(cfg, lons, lats)
        ul = (px.min(), py.max())
        dr = (px.max(), py.min())
    res = cfg.max_resolution
    ul_cell = encode1(cfg, ul[0], ul[1], res, plane=True)
    dr_cell = encode1(cfg, dr[0], dr[1], res, plane=True)
    if ul_cell is None or dr_cell is None:
        return None
    least = res + 1
    for i in range(res + 1):
        if ul_cell[i] != dr_cell[i]:
            least = i
            break
    if least == 0:
        return None
    return ul_cell[:least]


def cells_from_region(
    cfg: DggsConfig, resolution: int, ul, dr, plane: bool = True
) -> list[list[str]]:
    """Matrix of cells covering a rectangle (planar) or lon-lat quad /
    cap (ellipsoidal), row-major north->south, west->east
    (dggs.py:1181-1331)."""
    if ul[0] > dr[0] or ul[1] < dr[1]:
        return []
    if plane:
        ur = encode1(cfg, dr[0], ul[1], resolution, plane=True)
        dl = encode1(cfg, ul[0], dr[1], resolution, plane=True)
        ul_c = encode1(cfg, ul[0], ul[1], resolution, plane=True)
        dr_c = encode1(cfg, dr[0], dr[1], resolution, plane=True)
        if ur is None or dl is None:
            return []
        if ul_c == dr_c:
            return [[ul_c]]
        acc = []
        row_start, row_end = ul_c, ur
        while True:
            row = []
            cur = row_start
            while cur != row_end:
                row.append(cur)
                cur = _neighbor1(cfg, cur, "right", plane=True)
            row.append(cur)
            acc.append(row)
            if cur == dr_c:
                break
            row_start = _neighbor1(cfg, row_start, "down", plane=True)
            row_end = _neighbor1(cfg, row_end, "down", plane=True)
        return acc
    # Ellipsoidal quad or cap (dggs.py:1298-1331).
    phi_min, phi_max = dr[1], ul[1]
    phis = cell_latitudes(cfg, resolution, phi_min, phi_max, True, plane)
    PI = np.pi if cfg.radians else 180.0
    if (tuple(ul) == (-PI, PI / 2) and dr[0] == -PI) or (
        tuple(dr) == (-PI, -PI / 2) and ul[0] == -PI
    ):
        lam_min, lam_max = -PI, PI
    else:
        lam_min, lam_max = ul[0], dr[0]
    acc = []
    for phi in reversed(phis):
        acc.append(cells_from_parallel(cfg, resolution, phi, lam_min, lam_max))
    ul_cell = encode1(cfg, ul[0], ul[1], resolution)
    if not acc or acc[0][0] != ul_cell:
        acc.insert(0, cells_from_parallel(cfg, resolution, phi_max, lam_min, lam_max))
    dl_cell = encode1(cfg, ul[0], dr[1], resolution)
    if not acc or acc[-1][0] != dl_cell:
        acc.append(cells_from_parallel(cfg, resolution, phi_min, lam_min, lam_max))
    return acc


# ---------------------------------------------------------------------------
# Point-in-polygon (replaces shapely.contains) + polyfill
# ---------------------------------------------------------------------------


def points_in_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Vectorized even-odd ray crossing for one closed ring."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    n = ring.shape[0]
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        crosses = (y1 > py) != (y2 > py)
        # over=: near-horizontal edges can overflow the quotient; the
        # result is masked by `crosses` so the value is never used
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xin)
    return inside


def points_in_polygon(px, py, exterior, holes=()) -> np.ndarray:
    """Even-odd containment with holes."""
    inside = points_in_ring(px, py, exterior)
    for h in holes:
        inside &= ~points_in_ring(px, py, h)
    return inside


def polyfill(
    cfg: DggsConfig,
    polygons,
    res: int,
    plane: bool = True,
    compress: bool = False,
) -> set[str]:
    """Cells whose centroid falls inside the geometry
    (rhp_wrappers.py:510-599). ``polygons`` is a list of
    (exterior_ring, holes) pairs — the MultiPolygon unwrap of the
    reference — with rings as [(x, y), ...]."""
    cells: set[str] = set()
    for exterior, holes in polygons:
        ext = np.asarray(exterior, dtype=np.float64)
        bbox = (ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max())
        nw = (bbox[0], bbox[3])
        se = (bbox[2], bbox[1])
        roi = cells_from_region(cfg, res, nw, se, plane)
        if not roi:
            continue
        flat = [c for row in roi for c in row]
        f, d = parse_suids(np.array(flat))
        cx, cy = centroid(cfg, f, d, plane=plane)
        ok = points_in_polygon(cx, cy, exterior, holes)
        cells.update(np.array(flat, dtype=object)[ok].tolist())
    if compress:
        cells = set(compress_order_cells(cells))
    return cells


def compress_order_cells(cells) -> list[str]:
    """Replace complete sibling sets by their parent; alphanumeric sort
    (conversion.py:114-135)."""

    def alphanum_key(key):
        return [int(c) if c.isdigit() else c for c in re.split("([0-9]+)", key)]

    cells = set(cells)
    upper: dict[str, list[str]] = {}
    for cell in cells:
        upper.setdefault(cell[:-1], []).append(cell)
    out: list[str] = []
    for k, v in upper.items():
        if len(v) == 9:
            out.append(k)
        else:
            out.extend(v)
    return sorted(out, key=alphanum_key)


def minimal_cover(cfg: DggsConfig, resolution: int, points, plane: bool = True) -> list[str]:
    """Distinct cells covering a point list (dggs.py:1372-1410)."""
    lon = np.array([p[0] for p in points], dtype=np.float64)
    lat = np.array([p[1] for p in points], dtype=np.float64)
    out = encode(cfg, lon, lat, resolution, plane=plane)
    seen: dict[str, None] = {}
    for s in out:
        if s is not None:
            seen.setdefault(s)
    return list(seen)


# ---------------------------------------------------------------------------
# Line traces (dggs.py:1096-1179, rhp_wrappers.py:602-674)
# ---------------------------------------------------------------------------


def _segments_intersect(p1, p2, q1, q2) -> bool:
    """Inclusive segment intersection via orientation signs (replaces
    shapely LineString.intersects at dggs.py:1161-1167)."""

    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    o1, o2 = orient(p1, p2, q1), orient(p1, p2, q2)
    o3, o4 = orient(q1, q2, p1), orient(q1, q2, p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and on_seg(p1, p2, q1):
        return True
    if o2 == 0 and on_seg(p1, p2, q2):
        return True
    if o3 == 0 and on_seg(q1, q2, p1):
        return True
    if o4 == 0 and on_seg(q1, q2, p2):
        return True
    return False


def antimeridian_check_and_flip(cfg, verts, plane=True):
    """Sign-normalize +/-180 vertices (dggs.py:1412-1471)."""
    if plane:
        return verts
    half = np.pi if cfg.radians else 180.0
    lngs = [v[0] for v in verts]
    if half not in lngs and -half not in lngs:
        return verts
    check = half if half in lngs else -half
    if all(lng == check or lng * check >= 0 for lng in lngs):
        return verts
    return [((-lng if lng == check else lng), lat) for lng, lat in verts]


def _clip_ring_halfplane(ring, seam: float, keep_le: bool) -> list:
    """Sutherland-Hodgman clip of one ring against the vertical line
    lon == seam (keep lon <= seam, or lon >= seam)."""

    def inside(p):
        return p[0] <= seam if keep_le else p[0] >= seam

    def isect(a, b):
        t = (seam - a[0]) / (b[0] - a[0])
        return (seam, a[1] + t * (b[1] - a[1]))

    out: list = []
    n = len(ring)
    for i in range(n):
        cur, prev = ring[i], ring[i - 1]
        if inside(cur):
            if not inside(prev):
                out.append(isect(prev, cur))
            out.append(tuple(cur))
        elif inside(prev):
            out.append(isect(prev, cur))
    return out


def _unwrap_lons(lons, half: float) -> np.ndarray:
    """A ring's finite longitudes unwrapped so that consecutive
    vertices never jump more than `half` (the half-turn in the ring's
    unit): each vertex moves by whole turns toward its predecessor.
    A jump wider than 3*half (never taken by an in-range ring whose
    unwrap stays within a turn of the range, so such a ring unwraps
    bit-identically to the plain stepping loop) first moves the vertex by the exact remainders of both longitudes
    mod a turn, so the stepping loop runs at most twice and the unwrap
    ends for any finite input, a longitude so large that subtracting
    a turn rounds back to itself included."""
    lons = [float(x) for x in lons]
    turn = 2 * half
    for i in range(1, len(lons)):
        if abs(lons[i] - lons[i - 1]) > 3 * half:
            lons[i] = lons[i - 1] + (
                math.remainder(lons[i], turn) - math.remainder(lons[i - 1], turn)
            )
        while lons[i] - lons[i - 1] > half:
            lons[i] -= turn
        while lons[i] - lons[i - 1] < -half:
            lons[i] += turn
    return np.asarray(lons, dtype=np.float64)


def split_antimeridian(polygons, radians: bool = False) -> list:
    """Normalize dateline-crossing polygons into polygons that stay
    within [-180, 180] — the preprocessing that lifts the documented
    antimeridian limitation shared by the reference
    (rhp_wrappers.py:546 'TODO: decide what to do with the
    antimeridian', dggs.py:1107-1114) and this engine's polyfill /
    zone operators.

    ``polygons`` is the engine's list of (exterior_ring, holes) pairs
    where consecutive vertices never jump more than half the globe
    (the standard 'unwrap' convention: a ring crossing the dateline is
    given with longitudes continuing past +/-180, OR with raw jumps
    > 180 deg that are unwrapped here). Each crossing polygon is cut
    at the seam into a west part and an east part (holes are clipped
    with the same seam and attached to both sides; empty clips drop
    out); non-crossing polygons pass through with longitudes shifted
    back into range. Polygons spanning more than a full revolution
    are rejected. A polygon with a non-finite vertex (NaN or +-inf)
    covers nothing and is dropped."""
    half = np.pi if radians else 180.0
    out = []
    for exterior, holes in polygons:
        if not all(
            np.isfinite(np.asarray(r, dtype=np.float64)).all()
            for r in (exterior, *holes)
        ):
            continue

        def unwrap(ring):
            lons = _unwrap_lons([p[0] for p in ring], half)
            return list(zip(lons.tolist(), [p[1] for p in ring]))

        ext = unwrap(exterior)
        lo = min(p[0] for p in ext)
        hi = max(p[0] for p in ext)
        if hi - lo > 2 * half:
            raise ValueError("polygon spans more than a full revolution")

        def unwrap_hole(h):
            """Unwrap a hole INTO THE EXTERIOR'S FRAME: a hole lies
            inside its exterior, so after its own unwrap there is a
            unique 360-degree shift placing it within [lo, hi] —
            anchoring to the hole's own first vertex instead would
            attach far-side-of-seam holes to the wrong half."""
            hu = unwrap(h)
            mid = min(p[0] for p in hu) / 2.0 + max(p[0] for p in hu) / 2.0
            k = round((lo / 2.0 + hi / 2.0 - mid) / (2 * half))
            return [(x + k * 2 * half, y) for x, y in hu]
        # Odd multiples of 180 inside (lo, hi) are the seams.
        k_lo = int(np.ceil((lo / half - 1) / 2))
        k_hi = int(np.floor((hi / half - 1) / 2))
        seams = [(2 * k + 1) * half for k in range(k_lo, k_hi + 1) if lo < (2 * k + 1) * half < hi]
        if not seams:
            # No crossing: shift the whole polygon back into range.
            shift = -2 * half * round((lo / 2 + hi / 2) / (2 * half))
            out.append(
                (
                    [(x + shift, y) for x, y in ext],
                    [[(x + shift, y) for x, y in unwrap_hole(h)] for h in holes],
                )
            )
            continue
        if len(seams) > 1:
            raise ValueError("polygon crosses more than one seam")
        seam = seams[0]
        uholes = [unwrap_hole(h) for h in holes]
        for keep_le in (True, False):
            cext = _clip_ring_halfplane(ext, seam, keep_le)
            if len(cext) < 3:
                continue
            chs = [
                c
                for c in (_clip_ring_halfplane(h, seam, keep_le) for h in uholes)
                if len(c) >= 3
            ]
            side_lo = min(p[0] for p in cext)
            side_hi = max(p[0] for p in cext)
            shift = -2 * half * round((side_lo / 2 + side_hi / 2) / (2 * half))
            out.append(
                (
                    [(x + shift, y) for x, y in cext],
                    [[(x + shift, y) for x, y in h] for h in chs],
                )
            )
    return out


def ring_crosses_dateline(ring, radians: bool = False) -> bool:
    """True iff the exterior ring crosses the antimeridian under
    either input convention split_antimeridian accepts: raw
    consecutive-lon jumps > 180° (wrapped form) or longitudes
    continuing past +/-180 (unwrapped form). Uses the same
    unwrap-then-seam-scan as split_antimeridian, so detection and
    split agree exactly. A ring with a non-finite longitude crosses
    nothing (split_antimeridian drops its polygon)."""
    half = np.pi if radians else 180.0
    lons = np.asarray([p[0] for p in ring], dtype=np.float64)
    if not np.isfinite(lons).all():
        return False
    lons = _unwrap_lons(lons, half)
    lo, hi = float(lons.min()), float(lons.max())
    k_lo = int(np.ceil((lo / half - 1) / 2))
    k_hi = int(np.floor((hi / half - 1) / 2))
    return any(
        lo < (2 * k + 1) * half < hi for k in range(k_lo, k_hi + 1)
    )


def cells_from_line(cfg: DggsConfig, resolution: int, lstart, lend, plane=True) -> list[str]:
    """Neighbor-walk along a segment (dggs.py:1096-1179). Carries the
    reference's documented limitations: no antimeridian crossing, cap
    cells may mis-order (dggs.py:1107-1114)."""
    start = encode1(cfg, lstart[0], lstart[1], resolution, plane=plane)
    end = encode1(cfg, lend[0], lend[1], resolution, plane=plane)
    if start is None or end is None:
        return []
    if start == end:
        return [start]
    trace: list[str] = []
    cur = start
    while cur != end:
        trace.append(cur)
        f, d = _one(cur)
        if plane:
            nns = {
                nm: str(suid_strings(*neighbor(cfg, f, d, nm))[0])
                for nm in ["left", "right", "down", "up"]
            }
        else:
            nns = neighbors_ellipsoidal(cfg, f, d)[0]
        nxt = None
        for key in nns:
            nn = nns[key]
            verts = _vertices1(cfg, nn, plane=plane)
            verts = [tuple(v) for v in verts]
            verts.append(verts[0])
            for edge in zip(verts, verts[1:]):
                if nxt:
                    break
                edge = antimeridian_check_and_flip(cfg, list(edge), plane=plane)
                if (
                    _segments_intersect(tuple(lstart), tuple(lend), edge[0], edge[1])
                    and nn not in trace
                ):
                    nxt = nn
            if nxt:
                break
        cur = end if not nxt else nxt
    trace.append(end)
    return trace


def _split_segment_dateline(a, b, half: float):
    """Split one lon/lat segment at the dateline if it crosses
    (raw-jump form: |dlon| > half means the short way around). Returns
    the list of sub-segments, inner endpoints nudged 1e-9 deg inside
    each hemisphere so they encode to the seam-adjacent cell on the
    correct side (1e-9 deg is ~3 orders below the res-15 cell width).

    Endpoints exactly ON the seam (lon == +/-half, common in pre-split
    GeoJSON) name the same meridian in either sign; rewrite their sign
    toward the other endpoint's hemisphere BEFORE the crossing test, so
    (180, y) -> (-175, y2) is the pure east-side segment and never
    yields a spurious t == 0 west-side sub-segment."""
    if abs(a[0]) == half and abs(b[0]) == half:
        # Both endpoints on the seam: one segment along a's meridian.
        return [(a, (a[0], b[1]))]
    if abs(a[0]) == half:
        a = (half if b[0] > 0 else -half, a[1])
    if abs(b[0]) == half:
        b = (half if a[0] > 0 else -half, b[1])
    dlon = b[0] - a[0]
    if abs(dlon) <= half:
        return [(a, b)]
    # Unwrap b into a's frame; the seam is at +/-half between them.
    bu = (b[0] - 2 * half, b[1]) if dlon > 0 else (b[0] + 2 * half, b[1])
    # Both endpoints are in range, so a raw jump > half means the
    # segment crosses the seam on a's side of the globe.
    seam = half if a[0] > 0 else -half
    t = (seam - a[0]) / (bu[0] - a[0])
    lat_x = a[1] + t * (bu[1] - a[1])
    eps = 1e-9
    return [
        (a, (seam - np.sign(seam) * eps, lat_x)),
        ((-seam + np.sign(seam) * eps, lat_x), b),
    ]


def linetrace(
    cfg: DggsConfig,
    lines,
    res: int,
    plane: bool = True,
    split_dateline: bool = False,
) -> list[str]:
    """Cells touched by a (multi)linestring, sequential duplicates
    removed (rhp_wrappers.py:602-674). ``lines`` is a list of
    coordinate lists. split_dateline=True lifts the reference's
    documented antimeridian limitation (dggs.py:1107-1114) by
    splitting crossing segments at the seam and concatenating the two
    walks."""
    half = np.pi if cfg.radians else 180.0
    cells: list[str] = []
    for coords in lines:
        for i, j in zip(coords, coords[1:]):
            segs = (
                _split_segment_dateline(i, j, half)
                if split_dateline and not plane
                else [(i, j)]
            )
            for a, b in segs:
                seg = cells_from_line(cfg, res, a, b, plane)
                cells.extend(seg)
        out = []
        prev = None
        for c in cells:
            if c != prev:
                out.append(c)
                prev = c
        cells = out
    return cells


# ---------------------------------------------------------------------------
# Hierarchy string helpers (rhp_wrappers.py:123-332) — Spark uses native
# column expressions for these; kernel versions serve tests/tile prep.
# ---------------------------------------------------------------------------


def rhp_to_parent(suid: str, res: int | None = None) -> str:
    child_res = len(suid) - 1
    if child_res < 1:
        return suid
    if res is None:
        return suid[:-1]
    if res > child_res:
        return suid
    return suid[: res + 1]


def rhp_to_center_child(cfg: DggsConfig, suid: str, res: int | None = None) -> str | None:
    if cfg.N_side % 2 == 0:
        return None
    parent_res = len(suid) - 1
    if res is not None and res < parent_res:
        return suid
    added = 1 if res is None else res - parent_res
    c = str((cfg.N_side**2 - 1) // 2)
    return suid + c * added


def rhp_is_valid(cfg: DggsConfig, suid) -> bool:
    if suid is None or not isinstance(suid, str) or len(suid) == 0:
        return False
    if suid[0] not in CELLS0:
        return False
    limit = cfg.N_side**2
    return all(d.isdigit() and int(d) < limit for d in suid[1:])


def subcells(cfg: DggsConfig, suid: str, resolution: int | None = None) -> list[str]:
    """All descendants at the given resolution (cell.py:456-481)."""
    L = len(suid) - 1
    if resolution is None:
        resolution = L + 1
    if resolution < L:
        return []
    if resolution == L:
        return [suid]
    depth = resolution - L
    b = cfg.N_side**2
    n = b**depth
    rem = np.arange(n, dtype=np.int64)
    digs = np.empty((n, depth), dtype=np.int64)
    for i in range(depth - 1, -1, -1):
        digs[:, i] = rem % b
        rem //= b
    buf = (digs.astype(np.uint8) + ord("0")).reshape(-1).view(f"S{depth}").astype(str)
    return [suid + t for t in buf]
