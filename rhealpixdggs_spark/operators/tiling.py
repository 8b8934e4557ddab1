"""Tile-table construction: full grids, region covers, polygon
covers, zones.

Grid generation is the SURVEY section 2.4 plan: cells at resolution k
are exactly the level-order indices [ind(k), ind(k+1)), so
spark.range + the index->suid kernel generates any slice of the grid
embarrassingly parallel — no successor chain, no driver loop.

Region covers and polyfill are distributed by default
(region_cover_df / region_cover_ell_df / polyfill_df): candidates come
from closed-form row/column spans, geometry decode is one Arrow pass —
a continent-scale res-9 cover never touches the driver.
polyfill_tiles remains as the driver-side NumPy fast path for a
handful of small polygons whose result should land in a
broadcastable local DataFrame.

The polygon-fleet operators read one per-zone fleet table
(ZONE_TABLE_SCHEMA): one row per zone whose `parts` hold, per
dateline-resolved part, its exterior's longitude range, the HEALPix
planar y of its latitude extremes and its rings as vertex arrays.
resolve_fleet_vertices builds it from a vertex table in one Arrow
pass per (zone, part) and one groupBy(zone); the dict/list-input
adapters (zone_tiles_many, polyfill_many, joins.polygon_join and
polyfill_df's refine) build it on the driver with the same
_part_rows. Every consumer reads that table: fleet_candidate_idx
inlines its parts, even_odd_refine (a SQL fold over each zone's
rings, the one Spark-side even-odd) derives the zone's edges once per
zone row, and the zone rasterizer (_zone_tiles_core) rebuilds each
zone's geometry from it. The kernel's points_in_polygon stays as the
oracle the tests compare against."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel import cells as KC
from ..kernel import regions as KR
from ..kernel.constants import WGS84_003, DggsConfig


def _resolve_split_dateline(polys, split_dateline, cfg, opname: str):
    """Shared dateline policy for the polygon-list operators
    (VERDICT r3 item 4): `polys` is [(exterior, holes), ...].
    split_dateline=None (default) detects crossing rings and
    auto-splits them; True forces the split path; False asserts none
    cross and raises ValueError so a forgotten flag can never produce
    silently-partial covers. A part with a non-finite vertex (NaN or
    +-inf) covers nothing and is dropped first."""
    polys = [
        (ext, holes) for ext, holes in polys
        if all(
            np.isfinite(np.asarray(r, dtype=np.float64)).all()
            for r in (ext, *holes)
        )
    ]
    crossing = [
        i
        for i, (ext, _h) in enumerate(polys)
        if KR.ring_crosses_dateline(ext, radians=cfg.radians)
    ]
    if split_dateline is False and crossing:
        raise ValueError(
            f"{opname}(split_dateline=False): polygon(s) "
            f"{crossing[:5]} cross the antimeridian; the bbox cover "
            "would silently drop cells — pass split_dateline=True/None "
            "to auto-split at the seam"
        )
    if split_dateline or (split_dateline is None and crossing):
        return KR.split_antimeridian(polys, radians=cfg.radians)
    return polys


def grid_ids(spark: SparkSession, resolution: int, cfg: DggsConfig = WGS84_003,
             partitions: int | None = None) -> DataFrame:
    """The level-order indices of all cells at a resolution, as
    spark.range's `id` column over their interval (cell.py:93-98)."""
    lo = cfg.num_cells(0, resolution - 1) if resolution > 0 else 0
    hi = lo + 6 * cfg.N_side ** (2 * resolution)
    return spark.range(lo, hi, numPartitions=partitions)


def grid(spark: SparkSession, resolution: int, cfg: DggsConfig = WGS84_003,
         partitions: int | None = None) -> DataFrame:
    """All cells at a resolution as (cell_id string, cell_idx long).

    Distributed: grid_ids' spark.range over the level-order index
    interval, suid materialized by the index codec (rhp_index_to_suid:
    column math, cell.py:89-119)."""
    from ..functions.udfs import rhp_index_to_suid

    return grid_ids(spark, resolution, cfg, partitions).select(
        rhp_index_to_suid("id", resolution, cfg).alias("cell_id"),
        F.expr("id AS cell_idx"),
    )


def polyfill_tiles(
    spark: SparkSession,
    polygons: dict[str, list],
    res: int,
    cfg: DggsConfig = WGS84_003,
    plane: bool = False,
    compress: bool = False,
) -> DataFrame:
    """Rasterize named polygons to a tile table
    (tile_id, res, zone). `polygons` maps zone name ->
    [(exterior_ring, holes), ...]."""
    rows = []
    for name, polys in polygons.items():
        for cell in sorted(KR.polyfill(cfg, polys, res, plane=plane, compress=compress)):
            rows.append((cell, len(cell) - 1, name))
    schema = T.StructType(
        [
            T.StructField("tile_id", T.StringType()),
            T.StructField("res", T.IntegerType()),
            T.StructField("zone", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def tile_boundaries(tiles: DataFrame, cfg: DggsConfig = WGS84_003,
                    tile_col: str = "tile_id") -> DataFrame:
    """Attach densified ellipsoidal boundaries (FIXTURES.md tiles
    spec: n=5 per edge) for point-in-polygon fixtures."""
    from ..functions.udfs import _decode_udf  # local import, shares wrapper

    def fn(face, digits):
        b = KC.boundary(cfg, face, digits, n_per_edge=5, plane=False)
        return [
            [{"lon": float(p[0]), "lat": float(p[1])} for p in row] for row in b
        ]

    ring_t = T.ArrayType(
        T.StructType(
            [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
        )
    )
    return tiles.withColumn("boundary", _decode_udf(cfg, fn, ring_t)(F.col(tile_col)))


def compress_cells_df(cells: DataFrame, cell_col: str = "cell_id",
                      cfg: DggsConfig = WGS84_003,
                      checkpoint_every: int = 3,
                      reliable_checkpoint: bool = False) -> DataFrame:
    """Distributed compress_order_cells (conversion.py:114-135): replace
    any complete set of N_side^2 siblings by the parent, iteratively to
    fixpoint. Pure groupBy/union per level — no UDF.

    Each level chains a groupBy + left_anti + union onto the previous
    plan, so a res-15 input would otherwise carry a 14-deep nested-union
    lineage into every level's isEmpty() action — Catalyst re-analyzes
    the whole tree per level (planning, not execution, becomes the
    bottleneck). The working set is localCheckpoint'ed every
    `checkpoint_every` levels to keep plan depth O(checkpoint_every)
    regardless of input resolution; each checkpoint materializes only
    the (shrinking) compressed set. localCheckpoint truncates lineage
    to executor-local blocks; for long cluster jobs where an executor
    loss mid-compaction matters, set reliable_checkpoint=True after
    spark.sparkContext.setCheckpointDir(...) (same trade-off note as
    operators/joins.knn_join_rings_adaptive)."""
    n_child = cfg.N_side**2
    out = cells.select(F.col(cell_col).alias("cell_id")).distinct()
    # Longest suid bounds the number of iterations.
    max_len = out.agg(F.max(F.length("cell_id"))).collect()[0][0] or 1
    for level in range(int(max_len) - 1):
        parents = (
            out.where(F.length("cell_id") > 1)
            .groupBy(F.expr("substring(cell_id, 1, length(cell_id)-1)").alias("parent"))
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") == n_child)
            .select(F.col("parent"))
        )
        if parents.isEmpty():
            break
        merged = out.join(
            parents,
            F.expr("substring(cell_id, 1, length(cell_id)-1)") == F.col("parent"),
            "left_anti",
        )
        out = merged.unionByName(parents.select(F.col("parent").alias("cell_id")))
        if (level + 1) % checkpoint_every == 0:
            out = (
                out.checkpoint(eager=True)
                if reliable_checkpoint
                else out.localCheckpoint(eager=True)
            )
    return out


def linetrace_df(
    lines: DataFrame,
    res: int,
    cfg: DggsConfig = WGS84_003,
    line_col: str = "line",
    plane: bool = False,
    split_dateline: bool = False,
) -> DataFrame:
    """Distributed linetrace (dggs.py:1096-1179 walk, parallel across
    lines): `line_col` is array<struct<lon,lat>>; output appends
    (seq, cell_id) rows per input row. Each line's neighbor walk is
    inherently sequential, so parallelism comes from the row axis —
    the right decomposition for millions of small geometries.
    split_dateline=True splits seam-crossing segments (raw in-range
    coordinates with a >180-degree jump) and concatenates the walks,
    lifting the reference's documented limitation."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def _trace(col: pd.Series) -> pd.Series:
        out = []
        for coords in col:
            if coords is None or len(coords) < 2:
                out.append([])
                continue
            pts = [(float(p["lon"]), float(p["lat"])) for p in coords]
            out.append(
                [
                    str(c)
                    for c in KR.linetrace(
                        cfg, [pts], res, plane=plane,
                        split_dateline=split_dateline,
                    )
                ]
            )
        return pd.Series(out, index=col.index, dtype=object)

    traced = lines.withColumn("_cells", _trace.asNondeterministic()(F.col(line_col)))
    return traced.select(
        *[c for c in lines.columns if c != line_col],
        F.posexplode("_cells").alias("seq", "cell_id"),
    )


def region_cover_ell_df(
    spark: SparkSession,
    res: int,
    ul: tuple[float, float],
    dr: tuple[float, float],
    cfg: DggsConfig = WGS84_003,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed ellipsoidal cells_from_region (dggs.py:1298-1331):
    same (row_i, col_i, cell_id) matrix as the kernel, row-major
    north->south / west->east, built Spark-side.

    Plan (the SURVEY section 2.6 'per-parallel generation, union'):
    the nucleus-latitude rows of the cover form a uniform lattice in
    planar y, so the row table is one spark.range / small local table;
    every row whose nucleus lies in the equatorial band expands to a
    closed-form planar COLUMN range (east neighbor == next column,
    x == R*lambda there), materialized by the level-order index codec
    as column math — no neighbor walking, no driver-side cells.
    Polar-cap rows (the parallel's image is a square ring around the
    cap, dggs.py:1060-1094) fall back to the per-row walk kernel
    cells_from_parallel inside a pandas UDF, parallel across rows.
    """
    import math

    from ..functions.udfs import rhp_index_to_suid

    PI = np.pi if cfg.radians else 180.0
    mat_fallback = (
        ul[0] > dr[0]
        or ul[1] < dr[1]
        or res == 0
        or (tuple(ul) == (-PI, PI / 2) and dr[0] == -PI)
        or (tuple(dr) == (-PI, -PI / 2) and ul[0] == -PI)
    )
    schema = T.StructType(
        [
            T.StructField("row_i", T.LongType()),
            T.StructField("col_i", T.LongType()),
            T.StructField("cell_id", T.StringType()),
        ]
    )
    if mat_fallback:
        # degenerate / res-0 / whole-cap regions: the kernel matrix is
        # tiny (caps span single-digit rows at res 0).
        mat = KR.cells_from_region(cfg, res, ul, dr, plane=False)
        rows = [
            (ri, ci, c) for ri, row in enumerate(mat) for ci, c in enumerate(row)
        ]
        return spark.createDataFrame(rows, schema)

    R = cfg.R_A
    w = cfg.cell_width(res)
    n3 = cfg.N_side**res
    ring_len = 4 * n3
    phi_min, phi_max = dr[1], ul[1]
    lam_min, lam_max = ul[0], dr[0]

    def fwd(lam, phi):
        x, y = KR.healpix_forward_cfg(
            cfg, np.array([lam], dtype=np.float64), np.array([phi], dtype=np.float64)
        )
        return float(x[0]), float(y[0])

    _, y_min = fwd(0.0, phi_min)
    _, y_max = fwd(0.0, phi_max)
    # nucleus-y lattice, bit-identical to cell_latitudes(plane=True)
    ys = KR.cell_latitudes(cfg, res, y_min, y_max, nucleus_lats=True, plane=True)
    n_rows = len(ys)

    # column span of one parallel row in the equatorial band: contiguous
    # global columns between the corner cells' planar x (x = R*lambda).
    x_lo, _ = fwd(lam_min, 0.0)
    x_hi, _ = fwd(lam_max, 0.0)
    c0 = int(math.floor((x_lo + R * np.pi) / w))
    c1 = int(math.floor((x_hi + R * np.pi) / w))
    c0 = min(c0, ring_len - 1)
    c1 = min(c1, ring_len - 1)
    full_ring = c0 == c1 and (lam_max - lam_min) >= PI / 2
    # Wrap-aware span: a region whose east edge sits exactly at +180
    # has c1 wrapped to column 0 (the forward projection maps +180 to
    # -180). The kernel/reference walk then INCLUDES the first column
    # across the seam (encode(+180) lands there), so the closed-form
    # span must too — (c1 - c0) mod ring_len keeps the matrices
    # identical; the existing (col + c0) % ring_len emission already
    # wraps the column ids.
    ncols = ring_len if full_ring else (c1 - c0) % ring_len + 1

    # boundary rows (dggs.py:1319-1330): prepend/append a walked
    # parallel when the lattice misses the region's corner cells.
    ul_cell = KR.encode1(cfg, ul[0], ul[1], res)
    dl_cell = KR.encode1(cfg, ul[0], dr[1], res)
    first_nucleus = (
        KR.encode1(
            cfg,
            lam_min,
            float(KR.healpix_inverse_cfg(
                cfg, np.array([R * np.pi / 4]), np.array([ys[-1]]))[1][0]),
            res,
        )
        if n_rows
        else None
    )
    prepend = not n_rows or first_nucleus != ul_cell
    last_nucleus = (
        KR.encode1(
            cfg,
            lam_min,
            float(KR.healpix_inverse_cfg(
                cfg, np.array([R * np.pi / 4]), np.array([ys[0]]))[1][0]),
            res,
        )
        if n_rows
        else None
    )
    append = not n_rows or last_nucleus != dl_cell
    off = 1 if prepend else 0

    # split rows: equatorial band (closed-form columns) vs cap (walk).
    band = R * np.pi / 4
    eq_rows = [
        (off + (n_rows - 1 - k), y) for k, y in enumerate(ys) if abs(y) < band
    ]
    walk_rows = [
        (off + (n_rows - 1 - k), 0, y)
        for k, y in enumerate(ys)
        if abs(y) >= band
    ]
    if prepend:
        walk_rows.append((0, 1, phi_max))
    if append:
        walk_rows.append((off + n_rows, 1, phi_min))

    parts = []
    if eq_rows:
        rows_df = spark.createDataFrame(eq_rows, ["row_i", "y"])
        if partitions:
            rows_df = rows_df.repartition(partitions)
        cols_df = spark.range(0, ncols).select(F.col("id").alias("col_i"))
        g = rows_df.crossJoin(cols_df)
        gc = (F.col("col_i") + F.lit(c0)) % F.lit(ring_len)
        rib = F.floor((F.lit(band) - F.col("y")) / F.lit(w)).cast("long")
        face = F.lit(1) + F.floor(gc / F.lit(n3)).cast("long")
        parts.append(
            g.select(
                F.col("row_i").cast("long"), F.col("col_i").cast("long"),
                face.alias("_f"), rib.alias("_i"), (gc % F.lit(n3)).alias("_j"),
            ).select(
                "row_i", "col_i",
                rhp_index_to_suid(
                    _interleave_idx(cfg, res, "_f", "_i", "_j"), res, cfg
                ).alias("cell_id"),
            )
        )
    if walk_rows:
        wdf = spark.createDataFrame(walk_rows, ["row_i", "is_phi", "val"])

        @pandas_udf(T.ArrayType(T.StringType()))
        def walk(is_phi: pd.Series, val: pd.Series) -> pd.Series:
            out = []
            for flag, v in zip(is_phi, val):
                if flag:
                    phi = float(v)
                else:
                    phi = float(
                        KR.healpix_inverse_cfg(
                            cfg, np.array([R * np.pi / 4]), np.array([float(v)])
                        )[1][0]
                    )
                out.append(
                    [str(c) for c in KR.cells_from_parallel(
                        cfg, res, phi, lam_min, lam_max)]
                )
            return pd.Series(out, dtype=object)

        traced = wdf.withColumn(
            "_cells", walk.asNondeterministic()(F.col("is_phi"), F.col("val"))
        )
        parts.append(
            traced.select(
                F.col("row_i").cast("long"),
                F.posexplode("_cells").alias("col_i", "cell_id"),
            ).select("row_i", F.col("col_i").cast("long"), "cell_id")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def polyfill_df(
    spark: SparkSession,
    polygons: dict[str, list],
    res: int,
    cfg: DggsConfig = WGS84_003,
    plane: bool = False,
    compress: bool = False,
    split_dateline: bool | None = None,
) -> DataFrame:
    """Distributed polyfill (rhp_wrappers.py:510-599 semantics, same
    result set as kernel polyfill): per polygon part, candidates are
    its DISTRIBUTED bbox cover (region_cover_ell_df, or
    region_cover_df for plane=True), the centroid decode is one Arrow
    pass (rhp_centroid), and membership is even_odd_refine against
    the part's zone-table row (_zone_table); a zone is the union of
    its parts' cells — no driver-side cell list at any point. The
    refine reads any x/y frame, so plane=True tests planar centroids
    against planar rings. Output: (tile_id, res, zone).

    Dateline handling (the reference's own bbox assumption is its
    documented antimeridian TODO, rhp_wrappers.py:510-599): crossing
    rings (given unwrapped, or with raw >180-degree jumps) are
    detected and auto-split at the seam into west/east polygons of
    the same zone (kernel regions.split_antimeridian) before
    candidate generation when split_dateline is None (default);
    True forces the split path, False raises on a crossing ring."""
    from ..functions.udfs import rhp_centroid

    zones = []
    for name, polys in polygons.items():
        if not plane:
            polys = _resolve_split_dateline(
                polys, split_dateline, cfg, f"polyfill_df[{name}]"
            )
        # each part refines only its own bbox cover, as in the kernel:
        # the refine's zone key is the part's position in `polys`
        cells = None
        for k, (exterior, _holes) in enumerate(polys):
            ext = np.asarray(exterior, dtype=np.float64)
            nw = (float(ext[:, 0].min()), float(ext[:, 1].max()))
            se = (float(ext[:, 0].max()), float(ext[:, 1].min()))
            if plane:
                cover = region_cover_df(spark, res, nw, se, cfg)
            else:
                cover = region_cover_ell_df(spark, res, nw, se, cfg)
            cover = cover.select(F.lit(str(k)).alias("zone"), "cell_id")
            cells = cover if cells is None else cells.unionByName(cover)
        # explicit round-robin fan-out: the distinct() output is
        # small in BYTES, so AQE would coalesce it onto one task —
        # but the centroid decode downstream is Python COMPUTE (GL
        # integrals for dart/skew cells); see _polyfill_many_core's note
        cells = cells.distinct().repartition(
            spark.sparkContext.defaultParallelism
        )
        # centroid struct fields are (lon, lat); in plane mode they
        # carry (x, y) — either way the polygon is in the same frame.
        cand = cells.withColumn(
            "_c", rhp_centroid(F.col("cell_id"), cfg, plane=plane)
        ).select(
            "zone", "cell_id",
            F.col("_c")["lon"].alias("cx"), F.col("_c")["lat"].alias("cy"),
        )
        parts = _zone_table(
            spark, {str(k): [part] for k, part in enumerate(polys)}, cfg
        )
        keep = even_odd_refine(cand, parts, "cx", "cy")
        keep = keep.select("cell_id").distinct()
        if compress:
            keep = compress_cells_df(keep, cfg=cfg)
        zones.append(
            keep.select(
                F.col("cell_id").alias("tile_id"),
                (F.length("cell_id") - 1).cast("int").alias("res"),
                F.lit(name).alias("zone"),
            )
        )
    out = zones[0]
    for z in zones[1:]:
        out = out.unionByName(z)
    return out


def zone_from_poly_df(
    spark: SparkSession,
    polygons,
    res_limit: int,
    cfg: DggsConfig = WGS84_003,
    bounding_cell: str | None = None,
    checkpoint: bool = True,
    split_dateline: bool | None = None,
) -> DataFrame:
    """Distributed CellZoneFromPoly (reference conversion.py:40-111;
    the SURVEY section 2.6 'iterative DataFrame loop res 0->limit'):
    per level, explode the N_side^2 children of every
    still-overlapping cell (pure column concat), classify
    contains / overlaps / nucleus-in in ONE Arrow pass (kernel
    classify_batch — 4-vertex even-odd containment plus
    orientation-sign proper-crossing tests, vectorized across the
    batch), emit fully-contained children (and, at res_limit,
    nucleus-inside children), and carry only the overlapping cells
    forward.

    Scale shape: the frontier is the zone's PERIMETER at each level —
    O(3^level) boundary cells, not the O(9^level) interior, because
    contained cells are emitted coarse and never subdivided. Each
    level is localCheckpoint'ed (checkpoint=True) so plan depth stays
    O(1) across the <=15 levels and the classified batch is computed
    once for both the emit and frontier branches. A res-9+ zone of a
    continental polygon therefore runs entirely on executors; the
    driver only ever sees the <=6 root cells. The recursive NumPy
    kernel (kernel/zones.zone_from_poly) remains the small-N fast
    path for a handful of low-resolution zones.

    Output: (cell_id string, res int), one row per zone cell, same
    cell set as the kernel / reference recursion.

    Dateline-crossing polygons are detected and normalized through
    kernel regions.split_antimeridian by default (split_dateline=None;
    the classify kernel's even-odd test assumes rings within
    [-180, 180]); True forces the split, False raises on a crossing
    ring."""
    from ..kernel import zones as KZ
    from ..kernel.constants import CELLS0

    polygons = _resolve_split_dateline(
        polygons, split_dateline, cfg, "zone_from_poly_df"
    )
    geom = KZ._Geometry(polygons)
    if bounding_cell is None:
        bc = KZ.get_finest_containing_cell(cfg, polygons)
        roots = [bc] if bc is not None else list(CELLS0)
    else:
        roots = [bounding_cell]

    emitted_roots: list[str] = []
    frontier_cells: list[str] = []
    for root in roots:
        ring = KZ._cell_ring_ellipsoidal(cfg, root)
        if len(roots) > 1 and not (
            geom.overlaps_ring(ring) or geom.contains_ring(ring)
        ):
            continue
        if geom.contains_ring(ring):
            emitted_roots.append(root)
        elif len(root) <= res_limit:  # res(root) + 1 <= res_limit
            frontier_cells.append(root)

    parts: list[DataFrame] = []
    if emitted_roots:
        parts.append(
            spark.createDataFrame([(c,) for c in emitted_roots], "cell_id string")
        )

    @pandas_udf("contains boolean, overlaps boolean, nucleus_in boolean")
    def _classify(s: pd.Series) -> pd.DataFrame:
        c, o, nu = KZ.classify_batch(cfg, s.to_numpy(dtype=str), geom)
        return pd.DataFrame(
            {"contains": c, "overlaps": o, "nucleus_in": nu}, index=s.index
        )

    digits = [str(i) for i in range(cfg.N_side**2)]
    frontier = (
        spark.createDataFrame([(c,) for c in frontier_cells], "cell_id string")
        if frontier_cells
        else None
    )
    # no per-level fan-out here, by MEASUREMENT: this classify is one
    # vectorized kernel call per batch (~us/cell), so even a res-10
    # frontier's Python cost is ~1 s — a round-robin exchange per level
    # costs more than it saves (res-7 run: 5.0 s -> 16.4 s with it).
    # Contrast zone_tiles_many_df, where per-ZONE Python (geometry
    # rebuild + root search) is ms-per-row and the fan-out pays.
    res = len(roots[0]) - 1
    while frontier is not None and res < res_limit:
        children = frontier.select(
            F.explode(
                F.array(*[F.concat(F.col("cell_id"), F.lit(dg)) for dg in digits])
            ).alias("cell_id")
        )
        cls = children.withColumn(
            "_c", _classify.asNondeterministic()(F.col("cell_id"))
        )
        if checkpoint:
            cls = cls.localCheckpoint(eager=True)
        res += 1
        if res == res_limit:
            # at-limit membership: fully contained OR nucleus inside
            # (conversion.py child-at-limit branch)
            parts.append(
                cls.where(
                    F.col("_c.contains") | F.col("_c.nucleus_in")
                ).select("cell_id")
            )
            frontier = None
        else:
            parts.append(cls.where(F.col("_c.contains")).select("cell_id"))
            frontier = cls.where(
                ~F.col("_c.contains") & F.col("_c.overlaps")
            ).select("cell_id")
            if frontier.isEmpty():
                frontier = None
    out = (
        parts[0]
        if parts
        else spark.createDataFrame([], "cell_id string")
    )
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "cell_id", (F.length("cell_id") - 1).cast("int").alias("res")
    )


def zone_tiles(
    spark: SparkSession,
    polygons: dict[str, list],
    res_limit: int,
    cfg: DggsConfig = WGS84_003,
    split_dateline: bool | None = None,
) -> DataFrame:
    """Named multi-resolution zone table (tile_id, res, zone) — the
    CellZoneFromPoly twin of polyfill_df's output shape: one
    distributed zone loop (zone_from_poly_df) per named zone, unioned.
    The result is the compact tile side for containment_join /
    streaming_zone_assignment. `polygons` maps zone name ->
    [(exterior_ring, holes), ...]; dateline-crossing rings are
    detected and auto-split per zone by default (None); True forces
    the split, False raises on a crossing ring."""
    parts = [
        zone_from_poly_df(
            spark, polys, res_limit, cfg, split_dateline=split_dateline
        ).select(
            F.col("cell_id").alias("tile_id"),
            "res",
            F.lit(name).alias("zone"),
        )
        for name, polys in polygons.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def zone_tiles_many(
    spark: SparkSession,
    polygons: dict[str, list],
    res_limit: int,
    cfg: DggsConfig = WGS84_003,
    checkpoint: bool = True,
    split_dateline: bool | None = None,
) -> DataFrame:
    """Lock-step distributed CellZoneFromPoly for MANY named zones,
    from a polygon dict: an adapter over zone_tiles_many_df's plan.
    The parts are dateline-resolved on the driver (so
    split_dateline=False raises eagerly), built into the per-zone
    fleet table (_zone_table) and rasterized by the same lock-step
    frontier, so a fleet of 10k polygons takes <= res_limit+1 Spark
    jobs TOTAL (zone_tiles would launch a per-level job sequence per
    zone and union 10k plans). `polygons` maps zone name ->
    [(exterior_ring, holes), ...]; crossing rings are auto-split per
    zone by default (None), True forces the split. Output:
    (tile_id, res, zone), same cell sets as zone_from_poly_df per
    zone."""
    polygons = {
        name: _resolve_split_dateline(
            polys, split_dateline, cfg, f"zone_tiles_many[{name}]"
        )
        for name, polys in polygons.items()
    }
    return _zone_tiles_core(
        spark, _zone_table(spark, polygons, cfg), res_limit, cfg, checkpoint
    )


def zone_tiles_many_df(
    spark: SparkSession,
    polygons: DataFrame,
    res_limit: int,
    cfg: DggsConfig = WGS84_003,
    checkpoint: bool = True,
    split_dateline: bool | None = None,
) -> DataFrame:
    """DataFrame-NATIVE lock-step CellZoneFromPoly: one
    mixed-resolution frontier advances ALL zones together (<=
    res_limit+1 jobs total), and the fleet arrives as a VERTEX TABLE
    (zone, part, ring, vtx, lon, lat), so NOTHING about it ever lives
    on the driver: resolve_fleet_vertices turns it into the per-zone
    fleet table, whose rows reach the classify pass through an
    equi-join on zone instead of a pickled dict closure, and the
    per-zone root search (finest bounding cell + res-0 seeding) runs
    executor-side in one Arrow pass over those rows. A 10^6-zone
    fleet is just a bigger input table. zone_tiles_many is an adapter
    over the same plan from the zone table on.

    Per-level plan: frontier children (a column explode) equi-join
    the localCheckpoint'ed zone table on zone, and ONE pandas UDF
    classifies the batch — geometry is rebuilt once per DISTINCT zone
    per batch (the join hash-partitions by zone, so batches hold few
    zones and the rebuild amortizes). Each frontier row carries its
    zone's rings through the join (fine for parcel/admin-scale rings;
    a 10^6-vertex coastline duplicates per cell — shard such zones
    into parts first). Roots may sit at different depths (each zone's
    finest bounding cell), so the at-limit emit test is per-row
    column math. Output: (tile_id, res, zone), same cell sets as
    zone_from_poly_df per zone."""
    zones = resolve_fleet_vertices(
        polygons, cfg, split_dateline, "zone_tiles_many_df"
    )
    return _zone_tiles_core(spark, zones, res_limit, cfg, checkpoint)


def _zone_tiles_core(
    spark: SparkSession,
    zones: DataFrame,
    res_limit: int,
    cfg: DggsConfig,
    checkpoint: bool,
) -> DataFrame:
    """zone_tiles_many_df from the per-zone fleet table on: the root
    search and the lock-step frontier."""
    from ..kernel import zones as KZ
    from ..kernel.constants import CELLS0

    # The UDFs read each ring as a struct of coordinate arrays:
    # PySpark's Arrow-to-pandas conversion fails on ragged nested
    # arrays (a part's rings, array<array<...>>). Explicit round-robin
    # fan-out: the zone table is tiny in BYTES, so AQE's byte-based
    # coalescing would serialize the compute-dense _roots / _classify
    # Arrow passes onto one task (the polyfill GL-centroid lesson);
    # hash keys would be eliminated as redundant with the zone
    # aggregation's own Exchange, round-robin is not
    fanout = spark.sparkContext.defaultParallelism
    zgeom = zones.selectExpr(
        "zone",
        "transform(parts, p -> named_struct('rings', transform(p.rings, "
        "r -> named_struct('lon', transform(r, v -> v.lon), "
        "'lat', transform(r, v -> v.lat))))) AS g",
    ).repartition(fanout)
    if checkpoint:
        zgeom = zgeom.localCheckpoint(eager=True)

    def geometry(g) -> list:
        """A zone row's parts as [(exterior, holes), ...]."""
        out = []
        for p in g:
            rings = [np.column_stack([r["lon"], r["lat"]]) for r in p["rings"]]
            out.append((rings[0], rings[1:]))
        return out

    @pandas_udf("array<struct<cell_id:string,kind:string>>")
    def _roots(g_s: pd.Series) -> pd.Series:
        out_all = []
        for g in g_s:
            polys = geometry(g)
            geom = KZ._Geometry(polys)
            bc = KZ.get_finest_containing_cell(cfg, polys)
            roots = [bc] if bc is not None else list(CELLS0)
            seeds = []
            for root in roots:
                ring = KZ._cell_ring_ellipsoidal(cfg, root)
                if len(roots) > 1 and not (
                    geom.overlaps_ring(ring) or geom.contains_ring(ring)
                ):
                    continue
                if geom.contains_ring(ring):
                    seeds.append({"cell_id": root, "kind": "emit"})
                elif len(root) <= res_limit:
                    seeds.append({"cell_id": root, "kind": "frontier"})
            out_all.append(seeds)
        return pd.Series(out_all, index=g_s.index)

    seeds = zgeom.select(
        "zone", F.explode(_roots.asNondeterministic()(F.col("g"))).alias("r")
    ).select("zone", F.col("r.cell_id").alias("cell_id"), F.col("r.kind"))
    if checkpoint:
        seeds = seeds.localCheckpoint(eager=True)

    parts: list[DataFrame] = [
        seeds.where(F.col("kind") == "emit").select("zone", "cell_id")
    ]

    @pandas_udf("contains boolean, overlaps boolean, nucleus_in boolean")
    def _classify(zone: pd.Series, cell: pd.Series,
                  g: pd.Series) -> pd.DataFrame:
        n = len(cell)
        c = np.zeros(n, dtype=bool)
        o = np.zeros(n, dtype=bool)
        nu = np.zeros(n, dtype=bool)
        z = zone.to_numpy(dtype=object)
        s = cell.to_numpy(dtype=object)
        lens = np.array([len(x) for x in s])
        for zname in pd.unique(zone):
            zm = z == zname
            first = int(np.flatnonzero(zm)[0])
            geom = KZ._Geometry(geometry(g.iloc[first]))
            for L in np.unique(lens[zm]):
                m = zm & (lens == L)
                cc, oo, nn = KZ.classify_batch(cfg, s[m].astype(str), geom)
                c[m], o[m], nu[m] = cc, oo, nn
        return pd.DataFrame(
            {"contains": c, "overlaps": o, "nucleus_in": nu},
            index=cell.index,
        )

    digits = [str(i) for i in range(cfg.N_side**2)]
    frontier = seeds.where(F.col("kind") == "frontier").select(
        "zone", "cell_id"
    )
    for _level in range(res_limit):
        if frontier is None:
            break
        children = frontier.select(
            "zone",
            F.explode(
                F.array(*[F.concat(F.col("cell_id"), F.lit(d)) for d in digits])
            ).alias("cell_id"),
        )
        # same fan-out before the classify pass: the joined frontier is
        # small in bytes but ~Python-milliseconds per row to classify
        cls = children.join(zgeom, "zone").repartition(fanout).withColumn(
            "_c",
            _classify.asNondeterministic()(
                F.col("zone"), F.col("cell_id"), F.col("g")
            ),
        ).select("zone", "cell_id", "_c")
        if checkpoint:
            cls = cls.localCheckpoint(eager=True)
        at_limit = (F.length("cell_id") - 1) == res_limit
        parts.append(
            cls.where(
                F.col("_c.contains") | (at_limit & F.col("_c.nucleus_in"))
            ).select("zone", "cell_id")
        )
        frontier = cls.where(
            ~F.col("_c.contains") & ~at_limit & F.col("_c.overlaps")
        ).select("zone", "cell_id")
        if frontier.isEmpty():
            frontier = None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("cell_id").alias("tile_id"),
        (F.length("cell_id") - 1).cast("int").alias("res"),
        "zone",
    )


def _dbl(x: float) -> str:
    """A Python float as an exact SQL DOUBLE literal (a bare decimal
    literal would parse as DECIMAL)."""
    return f"{float(x)!r}D"


def _interleave_idx(cfg: DggsConfig, res: int, face: str, i: str, j: str) -> str:
    """SQL expression for the level-order index of the res-`res` cell
    at (row i, col j) of planar face `face` (SQL expressions over
    integer columns) — the digit-interleave closed form shared by the
    band and cap candidate generators and region_cover_ell_df
    (cell.py:93-119 index semantics): idx = ind(res) + face*9^res +
    3*spread(i) + spread(j), where spread reads i's base-3 digits as
    base-9 digits, i.e. conv(conv(i, 10, 3), 9, 10). N_side=3 only."""
    def spread(c: str) -> str:
        return f"CAST(conv(conv(CAST({c} AS STRING), 10, 3), 9, 10) AS BIGINT)"

    base = cfg.num_cells(0, res - 1) if res > 0 else 0
    return f"{base}L + ({face}) * {9**res}L + 3 * {spread(i)} + {spread(j)}"


def _part_candidate_idx(
    parts: DataFrame, cfg: DggsConfig, res: int
) -> DataFrame:
    """Candidate res-`res` cells (zone, _idx) of polygon parts, as
    packed int64 level-order indices. `parts` has one row per part:
    (zone, lon_lo, lon_hi, y_lo, y_hi) — the exterior's longitude
    range in cfg units and the HEALPix planar y of its latitude
    extremes. The output is a SUPERSET of the cells that hold a point
    of some part (so it prefilters both centroid membership and point
    containment); it may contain duplicates across parts.

    Each part emits LINES — equatorial-band rows and polar-cap rings —
    and each line one contiguous RUN of cell positions; lines and runs
    are sequence-exploded in one pipeline of column math (no union,
    no join, no Python), so the cost follows the candidate count.
      * band: rows [row0, row1] of the band, each with the global
        column run [gc0, gc1] (+/-1 cell padded bbox cover);
      * caps: in the assembled polar face a parallel's image is the
        square ring of cells at Chebyshev radius k around the face
        centre (dggs.py:1060-1094), and along that ring a cell
        nucleus's longitude is linear in its perimeter position
        p in [0, 8k): lon = start + p * 2*HALF / 8k, counted from the
        ring corner at start = lon_0 - HALF + square * HALF/2 (the
        north ring runs anticlockwise from its lower-left corner, the
        south ring clockwise from its upper-left one). The part's
        planar y range gives the rings [k0, k1] (its cap portion's
        distance from the pole, +/-1 cell); its longitude range padded
        by HALF / max(k - 1/2, 1/2) gives the run of p, taken mod 8k,
        so a wedge across the +/-HALF seam is still one run and one
        wider than the ring (the pole-holding part) is the full ring.

    Superset: a ring-k cell spans Chebyshev radii [k - 1/2, k + 1/2],
    and a ring side of 2r cells at radius r maps to a quarter turn,
    so any point of the cell is within HALF/4 / (k - 1/2) longitude of
    the cell's nucleus; the pad is 4x that bound. HALF is the
    cfg-unit half-turn (pi for radians configs), the unit of the
    polygon longitudes.

    The expressions are SQL strings: built as Column objects they cost
    hundreds of driver->JVM calls per plan (~1 s of driver time per
    polygon_join_df call at res 7), as strings a handful."""
    R = cfg.R_A
    w = _dbl(cfg.cell_width(res))
    n3 = cfg.N_side**res
    c0 = (n3 - 1) // 2
    band, y_pole = R * np.pi / 4, R * np.pi / 2
    HALF = np.pi if cfg.radians else 180.0

    def lam(c: str) -> str:
        return c if cfg.radians else f"radians({c})"

    def col_of(lon: str) -> str:
        return f"floor(({_dbl(R)} * {lam(lon)} + {_dbl(R * np.pi)}) / {w})"

    def line(face: int, l0: str, l1: str) -> str:
        return (
            f"named_struct('face', {face}L, 'l0', CAST({l0} AS BIGINT), "
            f"'l1', CAST({l1} AS BIGINT))"
        )

    def cap_line(face: int, reach: str, u_near: str, u_far: str) -> str:
        # rings whose radius span [k - 1/2, k + 1/2] meets the cap
        # portion's distance range [u_near/w - 1, u_far/w + 1]; an
        # unreached cap gets the empty line [0, -1]
        return line(
            face,
            f"greatest(0, ceil(({u_near}) / {w} - 1.5D))",
            f"IF({reach}, least({c0}, floor(({u_far}) / {w} + 1.5D)), -1)",
        )

    band_line = line(
        -1,
        f"greatest(0, floor(({_dbl(band)} - y_hi) / {w}) - 1)",
        f"least({n3 - 1}, floor(({_dbl(band)} - y_lo) / {w}) + 1)",
    )
    north = cap_line(
        0, f"y_hi >= {_dbl(band)}",
        f"{_dbl(y_pole)} - least(y_hi, {_dbl(y_pole)})",
        f"{_dbl(y_pole)} - greatest(y_lo, {_dbl(band)})",
    )
    south = cap_line(
        5, f"y_lo <= {_dbl(-band)}",
        f"greatest(y_lo, {_dbl(-y_pole)}) + {_dbl(y_pole)}",
        f"least(y_hi, {_dbl(-band)}) + {_dbl(y_pole)}",
    )
    # longitudes clamped to +/-2*HALF: no cell lies beyond, and a
    # finite longitude of any size (1e300) cannot overflow the BIGINT
    # column and ring-position arithmetic
    lo, hi = (
        f"greatest({_dbl(-2 * HALF)}, least({_dbl(2 * HALF)}, {c}))"
        for c in ("lon_lo", "lon_hi")
    )
    lines = parts.selectExpr(
        "zone", f"{lo} AS lon_lo", f"{hi} AS lon_hi",
        f"greatest(0, {col_of(lo)} - 1) AS gc0",
        f"least({4 * n3 - 1}, {col_of(hi)} + 1) AS gc1",
        f"explode(array({band_line}, {north}, {south})) AS s",
    ).where("s.l0 <= s.l1").selectExpr(
        "zone", "lon_lo", "lon_hi", "gc0", "gc1", "s.face AS face",
        "explode(sequence(s.l0, s.l1)) AS line",
    )

    # ring k = line: 8k positions, a step of 2*HALF/8k longitude each
    nper = "greatest(8 * line, 1)"
    step = f"({_dbl(2 * HALF)} / {nper})"
    pad = f"({_dbl(HALF)} / greatest(line - 0.5D, 0.5D))"
    start = (
        f"IF(face = 0, {_dbl(cfg.lon_0 - HALF + cfg.north_square * HALF / 2)},"
        f" {_dbl(cfg.lon_0 - HALF + cfg.south_square * HALF / 2)})"
    )
    p0 = f"ceil((lon_lo - {pad} - {start}) / {step})"
    p1 = f"floor((lon_hi + {pad} - {start}) / {step})"
    full = f"{p1} - {p0} + 1 >= {nper}"
    runs = lines.selectExpr(
        "zone", "face", "line AS k", f"{nper} AS nper",
        f"explode(sequence("
        f"CASE WHEN face < 0 THEN gc0 WHEN {full} THEN 0 ELSE {p0} END, "
        f"CASE WHEN face < 0 THEN gc1 WHEN {full} THEN {nper} - 1 "
        f"ELSE {p1} END)) AS v",
    )

    # ring position p = v mod 8k -> side (0-3) and offset r along it ->
    # face cell (c0 + dx, c0 -/+ dy); the north ring goes anticlockwise
    # in the plane, the south one clockwise, so only dy's sign differs.
    # Band lines map v to (face, column) of the band row k.
    sides = runs.selectExpr(
        "zone", "face", "k", "v",
        "pmod(v, nper) div greatest(2 * k, 1) AS side",
        "pmod(v, nper) % greatest(2 * k, 1) AS r",
    )
    dx = "CASE side WHEN 0 THEN r - k WHEN 1 THEN k WHEN 2 THEN k - r ELSE -k END"
    dy = "CASE side WHEN 0 THEN -k WHEN 1 THEN r - k WHEN 2 THEN k ELSE k - r END"
    cells = sides.selectExpr(
        "zone",
        f"IF(face < 0, 1 + v div {n3}, face) AS f",
        f"IF(face < 0, k, {c0} + IF(face = 0, -1, 1) * ({dy})) AS i",
        f"IF(face < 0, v % {n3}, {c0} + {dx}) AS j",
    )
    return cells.selectExpr(
        "zone", f"{_interleave_idx(cfg, res, 'f', 'i', 'j')} AS _idx"
    )


def polyfill_many(
    spark: SparkSession,
    polygons: dict[str, list],
    res: int,
    cfg: DggsConfig = WGS84_003,
    partitions: int | None = None,
    split_dateline: bool | None = None,
) -> DataFrame:
    """Lock-step polyfill for MANY polygons in ONE plan, from a
    polygon dict: an adapter over polyfill_many_df's plan. The parts
    are dateline-resolved on the driver (so split_dateline=False
    raises eagerly), built into the per-zone fleet table (_zone_table)
    and rasterized by the same candidate generator, shared
    packed-int64 dedupe, one index->suid pass, one centroid decode
    pass and even_odd_refine — no per-polygon union, so a mixed
    10k-polygon fleet rasterizes with one plan. Correctness needs no
    lattice parity: candidates are a PADDED SUPERSET of the cells
    holding a point of each polygon and the centroid-in-polygon filter
    (rhp_wrappers.py:510-599 semantics, same as polyfill_df) decides
    membership. `partitions` repartitions the zone table.

    Dateline: crossing rings are detected (same unwrap-seam scan as
    split_antimeridian) and auto-split into same-zone parts when
    split_dateline is None (the default); True forces the split path,
    False raises if any ring crosses. Output: (tile_id, res, zone)."""
    polygons = {
        zone: _resolve_split_dateline(
            polys, split_dateline, cfg, f"polyfill_many[{zone}]"
        )
        for zone, polys in polygons.items()
    }
    zones = _zone_table(spark, polygons, cfg)
    if partitions:
        zones = zones.repartition(partitions)
    pairs = fleet_candidate_idx(zones, cfg, res).distinct()
    return _polyfill_many_core(pairs, zones, res, cfg)


POLYGON_TABLE_SCHEMA = (
    "zone string, part int, ring int, vtx int, lon double, lat double"
)

# one row per zone; per part its exterior's longitude range, the
# HEALPix planar y of its latitude extremes and its rings (exterior
# first) as vertex arrays, parts sorted by id
PART_TYPE = (
    "struct<part:bigint, lon_lo:double, lon_hi:double, y_lo:double, "
    "y_hi:double, rings:array<array<struct<lon:double, lat:double>>>>"
)
ZONE_TABLE_SCHEMA = f"zone string, parts array<{PART_TYPE}>"


def polygons_to_df(spark: SparkSession, polygons: dict[str, list]) -> DataFrame:
    """Flatten a polygon dict (zone -> [(exterior, holes), ...]) into
    the vertex table the *_df fleet operators take as input: one row
    per vertex, ring 0 the exterior, rings >= 1 the holes, vertices
    ordered by vtx. The operators turn it into the per-zone fleet
    table (resolve_fleet_vertices); the dict-input operators build
    that table directly on the driver (_zone_table). Fleets too big
    for the driver should build the vertex table distributedly
    (parquet scan, spark.range generator, ...)."""
    rows = []
    for zone, polys in polygons.items():
        for pi, (ext, holes) in enumerate(polys):
            for ri, ring in enumerate([ext, *holes]):
                for vi, (x, y) in enumerate(ring):
                    rows.append((zone, pi, ri, vi, float(x), float(y)))
    return spark.createDataFrame(rows, POLYGON_TABLE_SCHEMA)


def _part_rows(pieces: list, cfg: DggsConfig) -> list[dict]:
    """The zone-table part rows (PART_TYPE) of dateline-RESOLVED
    pieces [(part, exterior, holes), ...]: the exterior's longitude
    range, the HEALPix planar y of its latitude extremes (one kernel
    call for all pieces) and the rings as vertex arrays."""
    if not pieces:
        return []
    exts = [np.asarray(ext, dtype=np.float64).reshape(-1, 2) for _, ext, _ in pieces]
    lat = np.array([e[:, 1].min() for e in exts] + [e[:, 1].max() for e in exts])
    _, y = KR.healpix_forward_cfg(cfg, np.zeros(lat.size), lat)
    n = len(pieces)
    return [
        {
            "part": int(part),
            "lon_lo": float(e[:, 0].min()), "lon_hi": float(e[:, 0].max()),
            "y_lo": float(y[k]), "y_hi": float(y[n + k]),
            "rings": [
                [{"lon": float(x), "lat": float(v)} for x, v in ring]
                for ring in (ext, *holes)
            ],
        }
        for k, ((part, ext, holes), e) in enumerate(zip(pieces, exts))
    ]


def _zone_table(
    spark: SparkSession, polygons: dict[str, list], cfg: DggsConfig
) -> DataFrame:
    """The per-zone fleet table of an already dateline-RESOLVED polygon
    dict, as a local relation: the dict adapters' stand-in for
    resolve_fleet_vertices (no shuffle, no Python stage)."""
    pieces = [
        (zone, (k, ext, holes))
        for zone, polys in polygons.items()
        for k, (ext, holes) in enumerate(polys)
    ]
    parts: dict = {zone: [] for zone in polygons}
    for (zone, _), row in zip(pieces, _part_rows([p for _, p in pieces], cfg)):
        parts[zone].append(row)
    return spark.createDataFrame(list(parts.items()), ZONE_TABLE_SCHEMA)


def resolve_fleet_vertices(
    polygons: DataFrame,
    cfg: DggsConfig,
    split_dateline: bool | None,
    caller: str,
) -> DataFrame:
    """The per-zone fleet table (ZONE_TABLE_SCHEMA) of a polygon-fleet
    VERTEX TABLE (zone, part, ring, vtx, lon, lat) — ring 0 the
    exterior, rings >= 1 holes — built entirely executor-side:
    vertices collect_list into one array per (zone, part) (a JVM
    partial-aggregation shuffle), ONE Arrow-batched pandas_udf applies
    the exact kernel split_antimeridian per polygon and emits each
    piece's part row (_part_rows; split pieces keyed part*64 + j), and
    one groupBy(zone) collects a zone's part rows. A part without a
    ring 0 has no exterior, and a part with a non-finite vertex
    (NaN, +-inf) covers nothing: both are dropped, and a zone left
    without parts has no row. Every polygon-fleet consumer reads this
    table, so an action that uses it twice (candidates and refine)
    reuses the zone aggregation's exchange and runs the Python pass
    once. split_dateline semantics are the fleet-wide defaults (None
    detects, True forces, False raises inside the distributed
    stage)."""
    # round-robin fan-out before _pieces: the grouped vertex table is
    # tiny in bytes, so AQE's byte-based coalescing would run the
    # per-polygon Python split loop on few tasks (measured: 3.85 s ->
    # 2.69 s at a 100k fleet, and the serial share grows with fleet
    # size); the zone aggregation re-shuffles anyway, so the
    # partitioning is free to be round-robin
    fanout = polygons.sparkSession.sparkContext.defaultParallelism
    grouped = polygons.groupBy("zone", "part").agg(
        F.sort_array(
            F.collect_list(F.struct("ring", "vtx", "lon", "lat"))
        ).alias("verts")
    ).repartition(fanout)

    @pandas_udf(f"array<{PART_TYPE}>")
    def _pieces(part_s: pd.Series, verts_s: pd.Series) -> pd.Series:
        owner, pieces = [], []
        for k, (part, verts) in enumerate(zip(part_s, verts_s)):
            if verts[0]["ring"] != 0:  # no exterior: the part is empty
                continue
            rings: list[list] = []
            cur_ring = None
            for v in verts:  # sorted by (ring, vtx) via sort_array
                if v["ring"] != cur_ring:
                    rings.append([])
                    cur_ring = v["ring"]
                rings[-1].append((float(v["lon"]), float(v["lat"])))
            polys = _resolve_split_dateline(
                [(rings[0], rings[1:])], split_dateline, cfg, caller,
            )
            for j, (ext, holes) in enumerate(polys):
                owner.append(k)
                pieces.append((int(part) * 64 + j, ext, holes))
        out: list[list] = [[] for _ in range(len(verts_s))]
        for k, row in zip(owner, _part_rows(pieces, cfg)):
            out[k].append(row)
        return pd.Series(out, index=verts_s.index)

    return (
        grouped.select(
            "zone",
            F.explode(
                _pieces.asNondeterministic()(F.col("part"), F.col("verts"))
            ).alias("p"),
        )
        .groupBy("zone")
        .agg(F.sort_array(F.collect_list("p")).alias("parts"))
    )


def fleet_candidate_idx(
    zones: DataFrame, cfg: DggsConfig, res: int
) -> DataFrame:
    """Candidate res-`res` cells per zone of a per-zone fleet table
    (resolve_fleet_vertices / _zone_table), as packed int64
    level-order indices (zone, _idx): the parts are inlined, and band
    spans plus polar-cap ring runs are column math over their
    longitude ranges and HEALPix y extremes (_part_candidate_idx; each
    part's own longitude wedge, padded by 4x the cell-to-nucleus
    longitude bound, drives its cap runs). No aggregation, no Python.
    The output is a SUPERSET of the cells holding a point of each
    part, so it prefilters both centroid membership (polyfill_many_df)
    and point containment (polygon_join_df). May contain duplicates —
    callers dedupe on the 8-byte key."""
    return _part_candidate_idx(
        zones.selectExpr("zone", "inline(parts)"), cfg, res
    )


def even_odd_refine(
    pts: DataFrame, zones: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """The (point x zone) candidate rows of `pts` whose point
    (x_col, y_col) lies inside their zone of the per-zone fleet table
    `zones`, columns unchanged.

    Each zone row derives its ring list once (the zone table is tiny;
    AQE broadcasts it): its parts' rings in order, each a list of
    edges (v[k], v[(k+1) % n]), closing edge included, minus the
    y1 == y2 edges, which never cross the test ray. `pts` equi-joins
    it on zone, and one SQL fold over the zone's rings tests each edge
    with the kernel's crossing predicate
    ((y1 > y) != (y2 > y)) AND x < (x2-x1)*(y-y1)/(y2-y1)+x1
    (kernel/regions.py points_in_ring, same arithmetic; the division
    only runs for a crossing edge). An exterior (ring 0) opens its
    part with its parity, a hole can only clear the open part of its
    own id, and a zone holds the point once any part does: ext-odd
    AND NOT hole-odd per part, OR over parts."""
    rings = zones.selectExpr(
        "zone",
        "flatten(transform(parts, p -> transform(p.rings, (v, i) -> "
        "named_struct('part', p.part, 'ring', i, 'edges', filter("
        "zip_with(v, concat(slice(v, 2, size(v)), slice(v, 1, 1)), "
        "(a, b) -> named_struct("
        "'x1', a.lon, 'y1', a.lat, 'x2', b.lon, 'y2', b.lat)), "
        "e -> e.y1 != e.y2))))) AS _rings",
    )
    x, y = f"`{x_col}`", f"`{y_col}`"
    odd = (
        "aggregate(r.edges, false, (o, e) -> o != ("
        f"((e.y1 > {y}) != (e.y2 > {y})) AND "
        f"{x} < (e.x2 - e.x1) * ({y} - e.y1) / (e.y2 - e.y1) + e.x1))"
    )
    inside = (
        "aggregate(_rings, named_struct('part', CAST(NULL AS BIGINT), "
        "'inside', false, 'found', false), (a, r) -> CASE "
        "WHEN a.found THEN a "
        "WHEN r.ring = 0 THEN named_struct('part', r.part, "
        f"'inside', {odd}, 'found', a.inside) "
        f"WHEN a.inside AND a.part = r.part AND {odd} THEN "
        "named_struct('part', a.part, 'inside', false, 'found', false) "
        "ELSE a END, a -> a.found OR a.inside)"
    )
    return pts.join(rings, "zone").where(inside).select(*pts.columns)


def polyfill_many_df(
    spark: SparkSession,
    polygons: DataFrame,
    res: int,
    cfg: DggsConfig = WGS84_003,
    partitions: int | None = None,
    split_dateline: bool | None = None,
) -> DataFrame:
    """DataFrame-NATIVE polygon-fleet polyfill: centroid-in-polygon
    membership (rhp_wrappers.py:510-599; band spans + closed-form
    polar-cap ring runs) with the polygons as a VERTEX TABLE
    (zone, part, ring, vtx, lon, lat) — ring 0 the exterior, rings
    >= 1 holes — so NOTHING about the fleet ever lives on the driver:
    no span loop, no vertex-list closure pickled into tasks. A
    10^6-polygon continental parcel fleet is just a bigger input
    table; driver memory stays flat. polyfill_many is an adapter over
    the same plan from the zone table on.

    Plan shape (all equi-joins and aggregations, no nested-loop):
      1. resolve_fleet_vertices builds the per-zone fleet table:
         vertices collect_list into one array per (zone, part) — a
         JVM partial-aggregation shuffle — ONE Arrow-batched
         pandas_udf applies the exact kernel split_antimeridian per
         polygon and emits each piece's bbox, HEALPix y extremes and
         rings (split parts get ids part*64 + i), and one
         groupBy(zone) collects them. No per-group pandas overhead: a
         100k-polygon fleet resolves in one pass.
      2. fleet_candidate_idx inlines the parts: band row/column spans
         and cap ring runs are pure column math, sequence-exploded by
         _part_candidate_idx; the distinct (zone, _idx) pairs are
         persisted, since they feed both the cell decode and the
         re-attach join.
      3. membership is even_odd_refine on the candidate centroids: an
         equi-join to the zone table's rings and one SQL fold over
         them (the kernel's exact crossing predicate per edge). It
         stays JVM-side; the only Python is the resolve and the
         geometry decode kernels.

    split_dateline=None auto-splits crossing rings; True forces the
    split; False raises (inside the distributed resolve stage) if any
    ring crosses. Output: (tile_id, res, zone), distinct."""
    from pyspark import StorageLevel

    if partitions:
        polygons = polygons.repartition(partitions, "zone", "part")
    zones = resolve_fleet_vertices(
        polygons, cfg, split_dateline, "polyfill_many_df"
    )
    # The pair table feeds BOTH branches of the core (distinct cells
    # for the decode, pairs for the re-attach join); persist() it —
    # lazily — so the resolve + candidate-generation lineage runs ONCE
    # per action instead of twice (bench.py polyfill_fleet_df measured
    # 13.3 and 16.6 s without it, 8.3 and 8.5 s with it). The cached
    # table is (zone, int64) pairs, bounded by the operator's own
    # output size, and MEMORY_AND_DISK spills rather than OOMs on huge
    # fleets.
    pairs = fleet_candidate_idx(zones, cfg, res).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _polyfill_many_core(pairs, zones, res, cfg)


def _polyfill_many_core(
    pairs: DataFrame, zones: DataFrame, res: int, cfg: DggsConfig
) -> DataFrame:
    """polyfill_many_df from the distinct candidate pairs (zone, _idx)
    and the zone table on: one centroid decode per distinct cell and
    the even-odd refine."""
    from ..functions.udfs import rhp_centroid, rhp_index_to_suid

    # Decode each DISTINCT cell once, not once per (zone, cell) pair:
    # overlapping fleets share cells, so the candidate pair table is
    # usually many times larger than the distinct-cell set (100k
    # bench triangles: 1.5M pairs, 486 res-2 cells), and cap-reaching
    # zones share the expensive polar dart/skew cells. The Arrow GL
    # centroid pass (~1.75 ms/row) runs on the distinct cells only;
    # pairs re-attach by the 8-byte _idx equi-join (AQE broadcasts the
    # cell table when it is small). Explicit round-robin fan-out: the
    # distinct() output is only a few MB, so AQE's BYTE-based
    # coalescing would fold the compute-heavy GL pass into one task
    # (the r4 bench's 6.4 s IQR; BENCH/fleet_mixed_attribution.json),
    # and hash keys would dedupe against the distinct's Exchange.
    fanout = pairs.sparkSession.sparkContext.defaultParallelism
    cells = (
        pairs.select("_idx").distinct()
        .repartition(fanout)
        .select("_idx", rhp_index_to_suid("_idx", res, cfg).alias("tile_id"))
        .withColumn("_c", rhp_centroid(F.col("tile_id"), cfg, plane=False))
        .select(
            "_idx", "tile_id",
            F.col("_c")["lon"].alias("cx"), F.col("_c")["lat"].alias("cy"),
        )
    )
    cand = pairs.join(cells, "_idx").select("zone", "tile_id", "cx", "cy")

    # `pairs` is distinct and each _idx decodes to one tile, so the
    # refined rows are distinct too
    inside = even_odd_refine(cand, zones, "cx", "cy")
    return inside.select(
        "tile_id",
        (F.length("tile_id") - 1).cast("int").alias("res"),
        "zone",
    )


def region_cover_df(
    spark: SparkSession,
    res: int,
    nw: tuple[float, float],
    se: tuple[float, float],
    cfg: DggsConfig = WGS84_003,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed closed-form planar region cover (the SURVEY section
    2.6 plan): planar res-k cells form a regular lattice over the
    rHEALPix image, so the cover of a planar rect is a 2D spark.range
    cross of the corner cells' row/col spans — no neighbor walking, no
    driver loop. Cell centers outside the image (beyond the polar
    squares) encode to null and are filtered.

    Matches the kernel/reference cells_from_region planar matrix
    (dggs.py:1181-1297 semantics) row-major as (row_i, col_i, cell_id);
    scales to covers of any size (e.g. a whole-planet res-9 cover is
    2.3e9 rows of pure column math + one encode pass)."""
    import math

    from ..functions.udfs import rhp_encode

    w = cfg.cell_width(res)
    x_min, y_max = cfg.R_A * -np.pi, cfg.R_A * (3 * np.pi / 4)
    col0 = math.floor((nw[0] - x_min) / w)
    col1 = math.floor((se[0] - x_min) / w)
    row0 = math.floor((y_max - nw[1]) / w)
    row1 = math.floor((y_max - se[1]) / w)
    ncols = col1 - col0 + 1
    nrows = row1 - row0 + 1
    grid = spark.range(0, nrows * ncols, numPartitions=partitions).select(
        (F.col("id") / ncols).cast("long").alias("row_i"),
        (F.col("id") % ncols).alias("col_i"),
    )
    x = F.lit(x_min) + (F.col("col_i") + col0 + F.lit(0.5)) * F.lit(w)
    y = F.lit(y_max) - (F.col("row_i") + row0 + F.lit(0.5)) * F.lit(w)
    return grid.select(
        "row_i",
        "col_i",
        rhp_encode(x, y, res, cfg, plane=True).alias("cell_id"),
    ).where(F.col("cell_id").isNotNull())
