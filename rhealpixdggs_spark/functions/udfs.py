"""Arrow pandas UDFs wrapping the NumPy kernels, plus native column
expressions for the operators that need no Python at all.

Design rules (SURVEY.md section 2.3/4.2):
- Hierarchy operators (parent, resolution, base cell, validity,
  center child) are pure Catalyst column expressions — substring /
  length / rlike / rpad — so they stay inside whole-stage codegen.
- Geometry operators (encode, centroid, boundary, neighbors, k_ring)
  are SCALAR pandas UDFs over Arrow batches; each batch is one fused
  NumPy kernel call. The DggsConfig dataclass is captured in the
  closure (tiny, broadcast with the task).
- Mixed-resolution batches are grouped by suid length inside the UDF
  (the kernels are uniform-resolution).
- The packed-index codecs (rhp_index_parent, rhp_index_to_suid) take
  the key as a SQL expression string and return one F.expr: each F.*
  call is several driver->JVM round trips, one expr a single parse.
- UDF objects are built per call, never cached at module level: a
  pandas_udf keeps the JVM function of the first session it ran in
  (UserDefinedFunction._judf_placeholder), and sessions restart.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel import cells as KC
from ..kernel import neighbors as KN
from ..kernel.constants import CELLS0, WGS84_003, DggsConfig

__all__ = [
    "rhp_encode",
    "rhp_centroid",
    "rhp_nucleus",
    "rhp_boundary",
    "rhp_neighbors",
    "rhp_k_ring",
    "rhp_level_order_index",
    "rhp_parent",
    "rhp_resolution",
    "rhp_base_cell",
    "rhp_is_valid_col",
    "rhp_center_child",
    "cell_width_col",
    "cell_area_col",
    "point_in_polygon_col",
]


def _group_by_length(ids: pd.Series):
    """Yield (index, numpy str array) per uniform suid length, skipping
    nulls."""
    mask = ids.notna()
    if not mask.any():
        return
    valid = ids[mask]
    lengths = valid.str.len()
    for length in lengths.unique():
        sub = valid[lengths == length]
        yield sub.index, sub.to_numpy(dtype=object).astype(str)


# ---------------------------------------------------------------------------
# Encode / decode UDFs
# ---------------------------------------------------------------------------


def rhp_encode(
    lon: Column, lat: Column, resolution: int, cfg: DggsConfig = WGS84_003,
    plane: bool = False,
) -> Column:
    """(lon, lat) -> suid string at fixed resolution.

    Spark equivalent of geo_to_rhp (rhp_wrappers.py:46-77) /
    cell_from_point (dggs.py:737-831); one fused NumPy kernel per
    Arrow batch.
    """

    @pandas_udf(T.StringType())
    def _enc(lo: pd.Series, la: pd.Series) -> pd.Series:
        lon_arr = lo.to_numpy(dtype=np.float64, na_value=np.nan)
        lat_arr = la.to_numpy(dtype=np.float64, na_value=np.nan)
        n = lon_arr.shape[0]
        # Sub-chunk the Arrow batch so the kernel's numpy temporaries
        # stay L2-resident: at 64k rows the ~50 intermediate arrays
        # stream through DRAM and 32 concurrent workers saturate the
        # memory bus (measured: 18M pts/s aggregate at 64k chunks vs
        # 29M at 16k; single-worker speed is unchanged).
        chunk = 16384
        if n <= chunk:
            out = KC.encode(cfg, lon_arr, lat_arr, resolution, plane=plane)
        else:
            out = np.empty(n, dtype=object)
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                out[s:e] = KC.encode(
                    cfg, lon_arr[s:e], lat_arr[s:e], resolution, plane=plane
                )
        return pd.Series(out, index=lo.index, dtype=object)

    # Nondeterministic marker: the function IS deterministic, but the
    # marker stops Catalyst from duplicating the UDF into inferred
    # filters (e.g. join-key isnotnull pushed below an aggregate),
    # which would run the kernel 2x per row. Engine pipelines always
    # place filters below the encode projection, so no pushdown is
    # lost.
    return _enc.asNondeterministic()(lon, lat)


def rhp_encode_index(
    lon: Column | str, lat: Column | str, resolution: int,
    cfg: DggsConfig = WGS84_003, plane: bool = False,
) -> Column:
    """(lon, lat) -> packed int64 level-order cell index — the scale
    path. An 8-byte shuffle/join key instead of a 10-50-byte string;
    hierarchy rollups become integer div/mod column math
    (rhp_index_parent). -1 never escapes: nulls stay null."""

    @pandas_udf(T.LongType())
    def _enc(lo: pd.Series, la: pd.Series) -> pd.Series:
        lon_arr = lo.to_numpy(dtype=np.float64, na_value=np.nan)
        lat_arr = la.to_numpy(dtype=np.float64, na_value=np.nan)
        n = lon_arr.shape[0]
        chunk = 16384  # L2-resident temporaries (see rhp_encode note)
        idx = np.empty(n, dtype=np.int64)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            idx[s:e] = KC.encode_index(
                cfg, lon_arr[s:e], lat_arr[s:e], resolution, plane=plane
            )
        out = pd.Series(idx, index=lo.index)
        out[idx < 0] = None
        return out

    return _enc.asNondeterministic()(lon, lat)


def rhp_index_parent(cell_idx: str, res: int, parent_res: int,
                     cfg: DggsConfig = WGS84_003) -> Column:
    """Packed-index hierarchy rollup, pure integer column math:
    parent_idx = base_p + (idx - base_r) div b^(r-p). `cell_idx` is a
    SQL expression (a column name or any long-valued expression)."""
    b = cfg.N_side**2
    base_r = cfg.num_cells(0, res - 1) if res > 0 else 0
    base_p = cfg.num_cells(0, parent_res - 1) if parent_res > 0 else 0
    return F.expr(
        f"CAST(floor((({cell_idx}) - {base_r}L) / {b ** (res - parent_res)}L)"
        f" + {base_p}L AS BIGINT)"
    )


def rhp_index_to_suid(cell_idx: str, resolution: int,
                      cfg: DggsConfig = WGS84_003) -> Column:
    """Packed index -> suid string (decode-on-demand boundary), as
    column math with no Python stage. `cell_idx` is a SQL expression
    (a column name or any long-valued expression).

    With b = N_side**2 and rem = idx - ind(res), the face letter is
    CELLS0[rem div b^res] and the digits are rem mod b^res written in
    base b, left-padded to `resolution` places (cell.py:89-119). Suids
    are single-digit strings only for b < 10 (cell.py:181-188), so
    other N_side raise. Nulls and out-of-range indices decode to
    null."""
    b = cfg.N_side**2
    if b >= 10:
        raise ValueError(
            f"suid strings need N_side**2 < 10, got N_side={cfg.N_side}"
        )
    base = cfg.num_cells(0, resolution - 1) if resolution > 0 else 0
    span = b**resolution
    rem = f"(CAST(({cell_idx}) AS BIGINT) - {base}L)"
    # face by exact long comparisons, no division through a double
    letter = "CASE WHEN {r} < 0L THEN NULL {faces} END".format(
        r=rem,
        faces=" ".join(
            f"WHEN {rem} < {(f + 1) * span}L THEN '{c}'"
            for f, c in enumerate(CELLS0)
        ),
    )
    if resolution == 0:
        return F.expr(letter)
    return F.expr(
        f"concat({letter}, lpad(conv(CAST(pmod({rem}, {span}L) AS STRING),"
        f" 10, {b}), {resolution}, '0'))"
    )


def _decode_udf(cfg: DggsConfig, fn, ret_type):
    """Shared mixed-resolution decode wrapper."""

    @pandas_udf(ret_type)
    def _dec(ids: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(ids), index=ids.index, dtype=object)
        for idx, arr in _group_by_length(ids):
            face, digits = KC.parse_suids(arr)
            out[idx] = fn(face, digits)
        return out

    return _dec.asNondeterministic()


_POINT_TYPE = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)
_RING_TYPE = T.ArrayType(_POINT_TYPE)


def _point_udf(cfg: DggsConfig, kernel_fn):
    """suid -> struct(lon, lat). Struct-returning scalar pandas UDFs
    return a pd.DataFrame whose columns are the struct fields."""

    @pandas_udf(_POINT_TYPE)
    def _dec(ids: pd.Series) -> pd.DataFrame:
        lon = pd.Series(np.nan, index=ids.index, dtype=np.float64)
        lat = pd.Series(np.nan, index=ids.index, dtype=np.float64)
        for idx, arr in _group_by_length(ids):
            face, digits = KC.parse_suids(arr)
            lo, la = kernel_fn(face, digits)
            lon[idx] = np.asarray(lo)
            lat[idx] = np.asarray(la)
        return pd.DataFrame({"lon": lon, "lat": lat})

    return _dec.asNondeterministic()


def rhp_centroid(cell_id: Column, cfg: DggsConfig = WGS84_003, plane: bool = False) -> Column:
    """suid -> struct(lon, lat) centroid (rhp_to_geo,
    rhp_wrappers.py:80-120; cell.centroid, cell.py:1061-1147)."""
    return _point_udf(cfg, lambda f, d: KC.centroid(cfg, f, d, plane=plane))(cell_id)


def rhp_nucleus(cell_id: Column, cfg: DggsConfig = WGS84_003, plane: bool = False) -> Column:
    """suid -> struct(lon, lat) nucleus (cell.py:625-653)."""
    return _point_udf(cfg, lambda f, d: KC.nucleus(cfg, f, d, plane=plane))(cell_id)


_SHAPE_LABELS = np.array(["quad", "cap", "dart", "skew_quad"], dtype=object)


def rhp_shape(cell_id: Column, cfg: DggsConfig = WGS84_003) -> Column:
    """suid -> ellipsoidal shape label 'quad' | 'cap' | 'dart' |
    'skew_quad' (cell.ellipsoidal_shape, cell.py:1008-1059)."""

    def fn(face, digits):
        return _SHAPE_LABELS[KC.ellipsoidal_shape(cfg, face, digits)].tolist()

    return _decode_udf(cfg, fn, T.StringType())(cell_id)


def rhp_nw_vertex(cell_id: Column, cfg: DggsConfig = WGS84_003) -> Column:
    """suid -> struct(lon, lat) holding the PLANAR (x, y) of the
    ellipsoidal northwest vertex (cell.py:534-653: ul_vertex for
    quad/cap cells, triangle-dependent corner for skew quads and
    darts)."""

    def fn(face, digits):
        v = KC.vertices_planar(cfg, face, digits)
        i0 = KC.nw_vertex_index(cfg, face, digits)
        pts = v[np.arange(v.shape[0]), i0]
        return pts[:, 0], pts[:, 1]

    return _point_udf(cfg, fn)(cell_id)


def rhp_boundary(
    cell_id: Column, cfg: DggsConfig = WGS84_003, plane: bool = False,
    geo_json: bool = False,
) -> Column:
    """suid -> array<struct(lon, lat)> corner ring
    (rhp_to_geo_boundary, rhp_wrappers.py:218-265)."""

    def fn(face, digits):
        if plane:
            rows = KC.vertices_planar(cfg, face, digits)
        else:
            rows = KC.vertices(cfg, face, digits, plane=False)
        rings = [
            [{"lon": float(p[0]), "lat": float(p[1])} for p in row] for row in rows
        ]
        if geo_json:
            rings = [r + [r[0]] for r in rings]
        return rings

    return _decode_udf(cfg, fn, _RING_TYPE)(cell_id)


def rhp_intersects_parallel(
    cell_id: Column, phi: float, cfg: DggsConfig = WGS84_003
) -> Column:
    """suid -> does the ellipsoidal cell's boundary intersect parallel
    `phi` (cell.py:940-957): vertex-latitude extremes straddle the
    parallel; a cap cell intersects everything poleward of its rim."""

    def fn(face, digits):
        rows = KC.vertices(cfg, face, digits, plane=False)
        shape = KC.ellipsoidal_shape(cfg, face, digits)
        out = []
        for i, row in enumerate(rows):
            lat = np.asarray(row, dtype=np.float64)[:, 1]
            lat_min, lat_max = float(lat.min()), float(lat.max())
            if shape[i] == 1:  # cap
                out.append(phi >= lat_min if face[i] == 0 else phi <= lat_max)
            else:
                out.append(lat_min <= phi <= lat_max)
        return [bool(v) for v in out]

    return _decode_udf(cfg, fn, T.BooleanType())(cell_id)


def rhp_intersects_meridian(
    cell_id: Column, lam: float, cfg: DggsConfig = WGS84_003
) -> Column:
    """suid -> does the ellipsoidal cell's boundary intersect meridian
    `lam` (cell.py:908-938), including the antimeridian-straddling
    dart case; cap cells intersect every meridian."""

    def fn(face, digits):
        rows = KC.vertices(cfg, face, digits, plane=False)
        shape = KC.ellipsoidal_shape(cfg, face, digits)
        PI = np.pi if cfg.radians else 180.0
        out = []
        for i, row in enumerate(rows):
            if shape[i] == 1:  # cap
                out.append(True)
                continue
            lon = np.asarray(row, dtype=np.float64)[:, 0]
            lon_min, lon_max = float(lon.min()), float(lon.max())
            if abs(lon_min - lon_max) > PI:
                lon_min = -lon_max
                out.append(lon_max <= lam or lam <= lon_min)
            else:
                out.append(lon_min <= lam <= lon_max)
        return [bool(v) for v in out]

    return _decode_udf(cfg, fn, T.BooleanType())(cell_id)


def rhp_neighbors(cell_id: Column, cfg: DggsConfig = WGS84_003, plane: bool = True) -> Column:
    """suid -> map<direction, suid> (cell.neighbors, cell.py:1347-1446)."""

    def fn(face, digits):
        if plane:
            nbs = KN.neighbors_planar(cfg, face, digits)
            strs = {nm: KC.suid_strings(f, d) for nm, (f, d) in nbs.items()}
            return [
                {nm: str(strs[nm][i]) for nm in strs} for i in range(face.shape[0])
            ]
        return KN.neighbors_ellipsoidal(cfg, face, digits)

    return _decode_udf(cfg, fn, T.MapType(T.StringType(), T.StringType()))(cell_id)


def rhp_k_ring(cell_id: Column, k: int, cfg: DggsConfig = WGS84_003) -> Column:
    """suid -> array<suid> filled disk (k_ring, rhp_wrappers.py:471-507).
    The kNN expansion primitive."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def _kr(ids: pd.Series) -> pd.Series:
        return pd.Series(
            KN.k_ring_batch(cfg, ids.to_numpy(dtype=object), k),
            index=ids.index,
            dtype=object,
        )

    return _kr.asNondeterministic()(cell_id)


def rhp_level_order_index(cell_id: Column, cfg: DggsConfig = WGS84_003) -> Column:
    """suid -> int64 level-order index (cell.py:260-267): the packed
    sort/range-join key."""

    def fn(face, digits):
        return [int(v) for v in KC.level_order_index(cfg, face, digits)]

    return _decode_udf(cfg, fn, T.LongType())(cell_id)


# ---------------------------------------------------------------------------
# Pure column expressions (no Python) — hierarchy algebra
# ---------------------------------------------------------------------------


def rhp_parent(cell_id: Column, res: int) -> Column:
    """Truncate suid to resolution res (rhp_to_parent,
    rhp_wrappers.py:123-160): substring, codegen'd."""
    return F.substring(cell_id, 1, res + 1)


def rhp_resolution(cell_id: Column) -> Column:
    """length - 1 (rhp_get_resolution, rhp_wrappers.py:268-281)."""
    return (F.length(cell_id) - F.lit(1)).cast("int")


def rhp_base_cell(cell_id: Column) -> Column:
    """First character (rhp_get_base_cell, rhp_wrappers.py:284-296)."""
    return F.substring(cell_id, 1, 1)


def rhp_is_valid_col(cell_id: Column, cfg: DggsConfig = WGS84_003) -> Column:
    """Grammar check (rhp_is_valid, rhp_wrappers.py:299-332)."""
    hi = str(cfg.N_side**2 - 1)
    return cell_id.rlike(f"^[NOPQRS][0-{hi}]*$") & (
        F.length(cell_id) <= cfg.max_resolution + 1
    )


def rhp_center_child(cell_id: Column, res: Column | int | None = None,
                     cfg: DggsConfig = WGS84_003) -> Column:
    """Append center digits (rhp_to_center_child,
    rhp_wrappers.py:163-215); rpad with the center digit."""
    c = str((cfg.N_side**2 - 1) // 2)
    if res is None:
        return F.concat(cell_id, F.lit(c))
    target = F.lit(res) + 1 if isinstance(res, int) else res + 1
    return F.when(F.length(cell_id) >= target, cell_id).otherwise(
        F.rpad(cell_id, target, c)
    )


def cell_width_col(resolution: Column | int, cfg: DggsConfig = WGS84_003) -> Column:
    """Planar width R_A*(pi/2)*N^-res (dggs.py:671-687), pure math."""
    res = F.lit(resolution) if isinstance(resolution, int) else resolution
    return F.lit(cfg.R_A * (np.pi / 2)) * F.pow(F.lit(float(cfg.N_side)), -res)


def cell_area_col(
    resolution: Column | int, cfg: DggsConfig = WGS84_003, plane: bool = True
) -> Column:
    """Cell area (dggs.py:689-708), pure math."""
    w = cell_width_col(resolution, cfg)
    a = w * w
    return a if plane else F.lit(8 / (3 * np.pi)) * a


def point_in_polygon_col(
    lon: Column, lat: Column, exterior, holes=()
) -> Column:
    """Vectorized even-odd point-in-polygon (replaces the reference's
    matplotlib Path.contains_point, pj_rhealpix.py:449-470 /
    rhp_wrappers.py:590-593): the polygon (with holes) is captured in
    the closure; each Arrow batch is one NumPy ray-crossing pass."""
    from ..kernel.regions import points_in_polygon

    ext = [(float(x), float(y)) for x, y in exterior]
    hls = [[(float(x), float(y)) for x, y in h] for h in holes]

    @pandas_udf(T.BooleanType())
    def _pip(lo: pd.Series, la: pd.Series) -> pd.Series:
        inside = points_in_polygon(
            lo.to_numpy(dtype=np.float64), la.to_numpy(dtype=np.float64),
            ext, hls,
        )
        return pd.Series(inside, index=lo.index)

    # Nondeterministic marker prevents Catalyst from duplicating the
    # UDF into inferred filters (same guard as the geometry UDFs).
    return _pip.asNondeterministic()(lon, lat)


def rhp_xy_range(cell_id: Column, cfg: DggsConfig = WGS84_003) -> Column:
    """suid -> planar bbox struct (Cell.xy_range, cell.py:734-754) —
    the range-join key for mixed-resolution planar containment."""
    ret = T.StructType(
        [
            T.StructField("x_min", T.DoubleType()),
            T.StructField("x_max", T.DoubleType()),
            T.StructField("y_min", T.DoubleType()),
            T.StructField("y_max", T.DoubleType()),
        ]
    )

    @pandas_udf(ret)
    def _dec(ids: pd.Series) -> pd.DataFrame:
        cols = {
            k: pd.Series(np.nan, index=ids.index, dtype=np.float64)
            for k in ("x_min", "x_max", "y_min", "y_max")
        }
        for idx, arr in _group_by_length(ids):
            face, digits = KC.parse_suids(arr)
            x0, x1, y0, y1 = KC.xy_range(cfg, face, digits)
            for k, v in zip(cols, (x0, x1, y0, y1)):
                cols[k][idx] = np.asarray(v)
        return pd.DataFrame(cols)

    return _dec.asNondeterministic()(cell_id)
