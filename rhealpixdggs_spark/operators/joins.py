"""Spatial join and aggregation planners.

All "custom" logic lives here as DataFrame rewrites — no Catalyst
rules, no JVM code (SURVEY.md section 4.2). Each helper emits a plan
Catalyst already knows how to optimize:

- containment_join: hierarchy containment (tile at res r contains
  point at res >= r) rewritten to an equi-join on
  substring(point_cell, 1, r+1) — sort-merge or broadcast-hash, never
  a LIKE-prefix theta join.
- cell_agg: per-cell aggregation with optional two-phase salting for
  hot cells (dense urban cells at res 9; SURVEY.md section 2.7).
- knn_join: exact brute-force top-k (correctness baseline, broadcast
  queries) and ring-expansion candidate pruning (the scale path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.udfs import rhp_k_ring
from ..kernel.constants import WGS84_003, DggsConfig


def containment_join(
    points: DataFrame,
    tiles: DataFrame,
    point_cell: str = "cell_id",
    tile_cell: str = "tile_id",
    how: str = "inner",
    broadcast_tiles: bool = True,
    tile_resolutions: list[int] | None = None,
) -> DataFrame:
    """Join points to the tiles that contain them in the cell hierarchy.

    Containment == suid prefix (cell.py:437-454). Tiles may mix
    resolutions; Catalyst always sees plain equi-joins (broadcastable /
    sort-merge-able) instead of an un-plannable startswith() theta
    join, via one of two plans:

    - single resolution (or non-inner join): equi-join on the
      materialized prefix column, one join per resolution unioned;
    - MIXED resolutions, inner join: the big side is scanned ONCE —
      each point explodes to its prefixes at the tile resolutions
      present (a x|R| row fan-out of the key column only), then one
      equi-join on (prefix == tile_cell). The union-of-joins plan
      would re-scan and re-encode the big side once per resolution,
      which at 100 TB is |R| full passes; the explode plan is one
      pass + one join.

    Pass tile_resolutions when known to skip the discovery job.
    """
    res_rows = sorted(set(
        tile_resolutions if tile_resolutions is not None else [
            r[0]
            for r in tiles.select(
                (F.length(tile_cell) - 1).alias("r")
            ).distinct().collect()
        ]
    ))
    if not res_rows:
        # No tiles: inner join result is empty with the joined schema.
        empty = tiles.limit(0)
        return points.join(empty, F.lit(False), how)
    if len(res_rows) > 1 and how == "inner":
        # prefix at res r only exists when the point is at res >= r
        # (otherwise substring returns the whole shorter suid, which
        # would duplicate the point's own-res prefix); null it out and
        # compact so each point explodes to exactly its valid prefixes
        prefixes = F.array_compact(F.array(*[
            F.when(
                F.length(F.col(point_cell)) >= r + 1,
                F.substring(F.col(point_cell), 1, r + 1),
            )
            for r in res_rows
        ]))
        p = points.withColumn("_rhp_pref", F.explode(prefixes))
        t = F.broadcast(tiles) if broadcast_tiles else tiles
        return p.join(t, F.col("_rhp_pref") == F.col(tile_cell), how).drop("_rhp_pref")
    parts = []
    for r in res_rows:
        t = tiles.where(F.length(tile_cell) == r + 1)
        if broadcast_tiles:
            t = F.broadcast(t)
        key = F.substring(F.col(point_cell), 1, r + 1)
        parts.append(points.join(t, key == F.col(tile_cell), how))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def prefix_agg(
    points: DataFrame,
    res: int,
    aggs: list[Column],
    point_cell: str = "cell_id",
    out_col: str = "tile_id",
) -> DataFrame:
    """Roll points up to resolution `res` and aggregate — the
    hierarchy rollup (rhp_to_parent as substring + groupBy). Partial
    aggregation is map-side automatically."""
    return (
        points.withColumn(out_col, F.substring(F.col(point_cell), 1, res + 1))
        .groupBy(out_col)
        .agg(*aggs)
    )


def cell_agg(
    df: DataFrame,
    cell_col: str,
    aggs: dict[str, Column],
    n_salt: int = 0,
) -> DataFrame:
    """Per-cell aggregation with optional explicit salting.

    With n_salt > 0, aggregates in two phases: first on
    (cell, hash(row) % n_salt) so a hot cell's rows spread over n_salt
    reducers, then re-aggregate the partials. Only algebraic aggregates
    (count / sum / min / max) are supported in salted mode — which is
    what the per-cell rollups use. AQE skew-join handles the join side;
    this handles the groupBy side, which AQE does not split.
    """
    if n_salt <= 0:
        return df.groupBy(cell_col).agg(*[c.alias(n) for n, c in aggs.items()])

    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    )
    partial = salted.groupBy(cell_col, "_salt").agg(
        *[c.alias(f"_p_{n}") for n, c in aggs.items()]
    )
    # Merge partials: counts/sums re-sum, min/max re-apply. Anything
    # non-algebraic (avg, stddev, count_distinct, ...) would be merged
    # WRONG by re-summing, so it is rejected outright.
    merged = []
    for n, c in aggs.items():
        fn_name = c._jc.toString().lower() if hasattr(c, "_jc") else ""
        col = F.col(f"_p_{n}")
        if fn_name.startswith("count(") or fn_name.startswith("sum("):
            merged.append(F.sum(col).alias(n))
        elif fn_name.startswith("min("):
            merged.append(F.min(col).alias(n))
        elif fn_name.startswith("max("):
            merged.append(F.max(col).alias(n))
        else:
            raise ValueError(
                f"cell_agg(n_salt>0) merges only algebraic aggregates "
                f"(count/sum/min/max); got {n!r} = "
                f"{fn_name or type(c).__name__!r}. Decompose it (avg = "
                f"sum+count) or aggregate without salting."
            )
    return partial.groupBy(cell_col).agg(*merged)


def top_k_cells(
    df: DataFrame, cell_col: str = "cell_id", k: int = 10, count_col: str = "n"
) -> DataFrame:
    """Densest cells: groupBy + orderBy + limit compiles to partial agg
    + TakeOrderedAndProject (no full sort)."""
    return (
        df.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias(count_col))
        .orderBy(F.desc(count_col), cell_col)
        .limit(k)
    )


def k_disk_graph(
    seeds: DataFrame,
    k: int,
    cfg: DggsConfig = WGS84_003,
    cell_col: str = "cell_id",
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Graph-distance-k disk over the EXACT ellipsoidal 4-neighbor
    relation: every cell reachable from a seed in <= k neighbor steps
    (Cell.neighbors(plane=False), which is reference-gated per cell).

    This is the multi-face-correct disk the reference cannot compute:
    its `cell_ring` square-ring walk is documented incomplete when the
    ring spans more than two cube faces (rhp_wrappers.py:37, TODO at
    :799) — this engine's `k_ring` faithfully carries that limitation
    for parity, while k_disk_graph defines the disk by graph distance
    (the von Neumann ball of the adjacency graph), which is
    well-defined across any number of faces including cube corners.

    Plan: k rounds of explode(neighbors) + anti-join against the
    visited set, per seed — BFS layers, so work is proportional to the
    disk boundary per round; visited is checkpointed each round to
    bound lineage. Output: (seed, cell_id, dist) with dist = graph
    distance (0 for the seed itself)."""
    from ..functions.udfs import rhp_neighbors

    visited = seeds.select(
        F.col(cell_col).alias("seed"),
        F.col(cell_col).alias("cell_id"),
        F.lit(0).alias("dist"),
    ).distinct()
    frontier = visited
    for d in range(1, k + 1):
        nbrs = frontier.select(
            "seed",
            F.explode(
                F.map_values(rhp_neighbors(F.col("cell_id"), cfg, plane=False))
            ).alias("cell_id"),
        ).distinct()
        fresh = nbrs.join(
            visited.select("seed", "cell_id"), ["seed", "cell_id"], "left_anti"
        ).withColumn("dist", F.lit(d))
        visited = visited.unionByName(fresh)
        if reliable_checkpoint:
            visited = visited.checkpoint(eager=True)
            fresh = fresh.checkpoint(eager=True)
        else:
            visited = visited.localCheckpoint(eager=True)
            fresh = fresh.localCheckpoint(eager=True)
        frontier = fresh
    return visited


def hex7_k_disk(
    seeds: DataFrame,
    k: int,
    cell_col: str = "cell_id",
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Graph-distance-k disk over the hex7 CROSS-FACE neighbor
    relation (VERDICT r4 item 5 — the hex7 twin of
    :func:`k_disk_graph`, closing the kernel k_ring's documented
    face-local limitation, kernel/hex7.py): every cell reachable from
    a seed in <= k forward neighbor steps, where a step is one of the
    six lattice directions re-encoded through the global encoder
    (kernel hex7.neighbors — exact lattice move on the same face,
    adjacent-face lattice cell across an icosahedron edge).

    The relation is DIRECTED near edges (adjacent faces' lattices are
    not aligned), so the disk is defined by forward reachability —
    deterministic and oracle-checkable (the contract twin BFSes a
    recursive CTE over the exported edge list).

    Plan: identical BFS shape to k_disk_graph — k rounds of
    explode(neighbors) + left-anti against the visited set, lineage
    checkpointed per round. Output: (seed, cell_id, dist), dist =
    forward graph distance (0 for the seed itself)."""
    from ..functions.hex7_udfs import hex7_neighbors

    visited = seeds.select(
        F.col(cell_col).alias("seed"),
        F.col(cell_col).alias("cell_id"),
        F.lit(0).alias("dist"),
    ).distinct()
    frontier = visited
    for d in range(1, k + 1):
        nbrs = frontier.select(
            "seed",
            F.explode(hex7_neighbors(F.col("cell_id"))).alias("cell_id"),
        ).distinct()
        fresh = nbrs.join(
            visited.select("seed", "cell_id"), ["seed", "cell_id"], "left_anti"
        ).withColumn("dist", F.lit(d))
        visited = visited.unionByName(fresh)
        if reliable_checkpoint:
            visited = visited.checkpoint(eager=True)
            fresh = fresh.checkpoint(eager=True)
        else:
            visited = visited.localCheckpoint(eager=True)
            fresh = fresh.localCheckpoint(eager=True)
        frontier = fresh
    return visited


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _chord_dist2(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                 cfg: DggsConfig) -> Column:
    """Squared 3D chord distance on the ellipsoid (Ellipsoid.xyz,
    ellipsoids.py:328-350) as pure column math — monotone in geodesic
    distance, so valid for top-k ranking."""
    a, e2 = cfg.a, cfg.e**2

    def xyz(lon, lat):
        lam = F.radians(lon)
        phi = F.radians(lat)
        N = F.lit(a) / F.sqrt(1 - F.lit(e2) * F.pow(F.sin(phi), 2))
        return (
            N * F.cos(lam) * F.cos(phi),
            N * F.sin(lam) * F.cos(phi),
            N * (1 - F.lit(e2)) * F.sin(phi),
        )

    x1, y1, z1 = xyz(lon1, lat1)
    x2, y2, z2 = xyz(lon2, lat2)
    return (x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2


def knn_join_brute(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_cols=("lon", "lat"),
    query_cols=("q_lon", "q_lat"),
    query_id: str = "query_id",
    point_id: str | None = None,
    cfg: DggsConfig = WGS84_003,
) -> DataFrame:
    """Exact kNN: broadcast the (small) query set against every point,
    rank by chord distance per query. O(|P|x|Q|) compute but a single
    scan of P, no shuffle of P beyond the window — the correctness
    baseline for the ring-expansion variant. Pass point_id for a
    deterministic tie-break."""
    joined = points.crossJoin(F.broadcast(queries))
    d2 = _chord_dist2(
        F.col(point_cols[0]), F.col(point_cols[1]),
        F.col(query_cols[0]), F.col(query_cols[1]), cfg,
    )
    tiebreak = [F.asc(point_id)] if point_id else []
    w = Window.partitionBy(query_id).orderBy(F.asc("dist2"), *tiebreak)
    return (
        joined.withColumn("dist2", d2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_join_rings(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    ring_k: int,
    res: int,
    point_cell: str = "cell_id",
    point_cols=("lon", "lat"),
    query_cell: str = "q_cell_id",
    query_cols=("q_lon", "q_lat"),
    query_id: str = "query_id",
    cfg: DggsConfig = WGS84_003,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Scale-path kNN: expand each query's cell to its k_ring at the
    index resolution (k_ring, rhp_wrappers.py:471-507), equi-join the
    candidate cells against the spatially-indexed points, then exact
    chord-distance top-k within candidates.

    At 100 TB the equi-join on cell_id prunes the pages table to the
    ring neighborhoods (shuffle keyed on cell_id, AQE-skew-splittable)
    instead of a full cross product. ring_k must be sized so each ring
    holds >= k points; callers can re-run stragglers with a larger
    ring (the returned 'n_cand' column exposes candidate counts).
    """
    # array_distinct: the ring walk can revisit a cell where it
    # crosses cube faces; duplicate candidate cells would double-join
    # a point and corrupt the rank sequence. Map-side, no shuffle.
    cand_cells = (
        queries.withColumn(
            "_ring",
            F.array_distinct(rhp_k_ring(F.col(query_cell), ring_k, cfg)),
        )
        .withColumn(point_cell, F.explode("_ring"))
        .drop("_ring")
    )
    # Large query tables: pass broadcast_queries=False so the
    # candidate join shuffles on cell_id instead of broadcasting.
    cand = F.broadcast(cand_cells) if broadcast_queries else cand_cells
    joined = points.join(cand, point_cell)
    d2 = _chord_dist2(
        F.col(point_cols[0]), F.col(point_cols[1]),
        F.col(query_cols[0]), F.col(query_cols[1]), cfg,
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("dist2"))
    wc = Window.partitionBy(query_id)
    return (
        joined.withColumn("dist2", d2)
        .withColumn("n_cand", F.count(F.lit(1)).over(wc))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_join_rings_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    ring_k: int = 1,
    max_ring_k: int = 8,
    query_id: str = "query_id",
    reliable_checkpoint: bool = False,
    **kwargs,
) -> DataFrame:
    """Ring-expansion kNN with straggler re-expansion: queries whose
    ring held fewer than k candidates are re-run with a doubled ring
    until satisfied or max_ring_k. Satisfied queries never recompute —
    the expansion loop only carries the under-covered tail.

    Fully distributed: the under-covered tail is derived with a
    left_anti join on the satisfied query ids (queries with zero
    candidates never appear in the ring output at all, so anti-joining
    on SATISFIED ids captures both the short and the absent). Each
    round's satisfied rows and the shrinking query table are
    localCheckpoint'ed so the per-round cache can be released
    immediately — no driver-side id list, no unbounded lineage, no
    cache leak at millions of queries.

    Fault-tolerance trade-off: localCheckpoint truncates lineage to
    executor-local blocks, so on a real cluster an executor loss
    mid-loop loses prior rounds' satisfied rows and fails the job
    (retry from scratch). For long-running cluster jobs where that
    risk matters, set `reliable_checkpoint=True` after
    `spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)` — same
    lineage truncation, blocks persisted to the shared filesystem and
    recoverable after executor loss, at the cost of a write per
    round."""
    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable_checkpoint else (
            df.localCheckpoint(eager=True)
        )

    remaining = queries
    parts = []
    rk = ring_k
    while rk <= max_ring_k:
        out = knn_join_rings(
            points, remaining, k, ring_k=rk, res=res, query_id=query_id, **kwargs
        ).cache()
        satisfied = _ckpt(out.where(F.col("n_cand") >= k))
        parts.append(satisfied)
        remaining = _ckpt(remaining.join(
            satisfied.select(query_id).distinct(), query_id, "left_anti"
        ))
        out.unpersist()
        if remaining.isEmpty():
            break
        rk *= 2
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result


def ring_k_for_radius(
    radius_m: float,
    res: int,
    cfg: DggsConfig = WGS84_003,
    safety: float = 3.0,
) -> int:
    """Ring depth guaranteeing the k_ring of a point's cell covers the
    geodesic cap of `radius_m` around it, from the planar cell width
    (cell_width, dggs.py:671-687) divided by a `safety` bound on the
    projection's worst-case linear compression. rHEALPix is equal-area,
    so local scale factors J_max * J_min = 1; the default safety=3
    over-covers the measured worst case (the polar-cap corner
    directions) with margin — verified superset-vs-brute on the polar
    fixture points in tests/test_spark_operators.py. Over-covering
    only widens the candidate set; correctness comes from the exact
    chord refine in range_join_rings."""
    import math

    w = cfg.cell_width(res)
    return max(1, math.ceil(radius_m * safety / w))


def range_join_rings(
    points: DataFrame,
    queries: DataFrame,
    radius_m: float,
    res: int,
    ring_k: int | None = None,
    point_cell: str = "cell_id",
    point_cols=("lon", "lat"),
    query_cell: str = "q_cell_id",
    query_cols=("q_lon", "q_lat"),
    query_id: str = "query_id",
    cfg: DggsConfig = WGS84_003,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Geodesic radius search ("all points within R meters of each
    query"): expand each query's cell to its k_ring at the index
    resolution (k_ring, rhp_wrappers.py:471-507), equi-join the
    candidate cells against the spatially-indexed points, then keep
    candidates whose exact ellipsoidal chord distance is <= R. The
    distance is the 3D chord on the WGS84 ellipsoid (Ellipsoid.xyz,
    ellipsoids.py:328-350) — strictly monotone in geodesic distance,
    so the R threshold defines the same point set.

    Same 100-TB shape as knn_join_rings: the equi-join on cell_id
    prunes the pages table to the ring neighborhoods (shuffle keyed on
    cell_id, AQE-skew-splittable) instead of a cross product, and —
    unlike kNN — needs no window: the refine is a stateless filter, so
    the whole operator is scan -> equi-join -> filter, zero windows,
    one exchange when broadcast_queries=True. ring_k defaults to
    ring_k_for_radius(radius_m, res) (conservative over-cover; the
    exact refine discards the excess)."""
    if ring_k is None:
        ring_k = ring_k_for_radius(radius_m, res, cfg)
    # array_distinct: the ring walk can visit a cell twice where it
    # crosses cube faces (reference parity keeps the duplicates in
    # k_ring's output); candidates must be unique per query or the
    # join emits duplicate pairs. Map-side, no extra shuffle.
    cand_cells = (
        queries.withColumn(
            "_ring",
            F.array_distinct(rhp_k_ring(F.col(query_cell), ring_k, cfg)),
        )
        .withColumn(point_cell, F.explode("_ring"))
        .drop("_ring")
    )
    cand = F.broadcast(cand_cells) if broadcast_queries else cand_cells
    joined = points.join(cand, point_cell)
    d2 = _chord_dist2(
        F.col(point_cols[0]), F.col(point_cols[1]),
        F.col(query_cols[0]), F.col(query_cols[1]), cfg,
    )
    return joined.withColumn("dist2", d2).where(
        F.col("dist2") <= F.lit(float(radius_m) ** 2)
    )


def polygon_join(
    points: DataFrame,
    polygons: list,
    res: int = 3,
    cfg: DggsConfig = WGS84_003,
    lon_col: str = "lon",
    lat_col: str = "lat",
    split_dateline: bool | None = None,
) -> DataFrame:
    """Point-in-polygon spatial join against a polygon LIST — the
    north-star "point-in-polygon tests against tile boundaries". An
    adapter over polygon_join_df's plan: the parts are
    dateline-resolved on the driver, built into the per-zone fleet
    table (tiling._zone_table) and joined by the same packed-int64
    candidate prefilter and even_odd_refine fold, so there is one
    point-in-polygon plan whatever the fleet's input form.

    `polygons` is a list of (zone, exterior_ring, holes) with rings as
    [(lon, lat), ...]; a zone may appear in several entries
    (multipolygon zones), and the refine ORs over all its parts.
    Returns the matching points, their columns in input order plus
    `zone`; points in several zones appear once per zone. A `points`
    column named `zone`, `_px`, `_py`, `_idx` or `_rings` raises
    ValueError.

    Dateline handling: by default (split_dateline=None) a zone with a
    crossing ring (any consecutive raw lon jump > 180°, closing edge
    included) has its parts cut at the seam into same-zone parts
    (kernel regions.split_antimeridian), so a user who forgets the
    flag gets right answers, not silent partial ones (VERDICT r3 item
    4). split_dateline=True forces the split path for every polygon;
    split_dateline=False raises ValueError, eagerly, if a ring
    crosses."""
    from .tiling import _resolve_split_dateline, _zone_table

    _check_points_columns(points, "polygon_join")
    zones: dict = {}
    for zone, ext, holes in polygons:
        zones.setdefault(zone, []).append((ext, holes))
    zones = {
        zone: _resolve_split_dateline(
            polys, split_dateline, cfg, f"polygon_join[{zone}]"
        )
        for zone, polys in zones.items()
    }
    return _polygon_join_core(
        points, _zone_table(points.sparkSession, zones, cfg), res, cfg,
        lon_col, lat_col, points.columns[0],
    )


def _check_points_columns(points: DataFrame, caller: str) -> None:
    own = {"zone", "_px", "_py", "_idx", "_rings"}
    clash = [c for c in points.columns if c.lower() in own]
    if clash:
        raise ValueError(f"{caller}: rename points column(s) {clash}")


def _polygon_join_core(
    points: DataFrame,
    zones: DataFrame,
    res: int,
    cfg: DggsConfig,
    lon_col: str,
    lat_col: str,
    point_id: str,
) -> DataFrame:
    """polygon_join_df from the per-zone fleet table on: candidate
    cells, one encode of the points, the even-odd refine."""
    from ..functions.udfs import rhp_encode_index
    from .tiling import even_odd_refine, fleet_candidate_idx

    cand = fleet_candidate_idx(zones, cfg, res).distinct()
    enc = points.select(
        "*",
        F.when(F.col(lon_col) == 180.0, F.lit(-180.0))
        .otherwise(F.col(lon_col)).alias("_px"),
        F.col(lat_col).alias("_py"),
        rhp_encode_index(F.col(lon_col), F.col(lat_col), res, cfg)
        .alias("_idx"),
    )
    matches = even_odd_refine(enc.join(cand, "_idx"), zones, "_px", "_py")
    return matches.select(
        point_id, *[c for c in points.columns if c != point_id], "zone"
    )


def polygon_join_df(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 3,
    cfg: DggsConfig = WGS84_003,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "pid",
    split_dateline: bool | None = None,
) -> DataFrame:
    """DataFrame-NATIVE point-in-polygon spatial join: bbox cell-cover
    prefilter + exact even-odd refine, holes subtracted per part, OR
    over multipolygon parts of a zone, auto dateline split — with the
    polygons as a VERTEX TABLE (zone, part, ring, vtx, lon, lat) —
    ring 0 the exterior, rings >= 1 holes — so NOTHING about the
    fleet ever lives on the driver: no per-polygon bbox loop, no
    ring-list closure pickled into tasks. A 10^6-polygon continental
    parcel/admin fleet is just a bigger input table. polygon_join is
    an adapter over the same plan from step 2 on.

    Plan shape (all equi-joins and aggregations, no nested-loop, no
    driver collect, no persist):
      1. tiling.resolve_fleet_vertices builds the per-zone fleet
         table: one Arrow pass per (zone, part) dateline-splits it
         (split parts re-keyed part*64+i) and emits each piece's
         bbox, HEALPix y extremes and rings, and one groupBy(zone)
         collects them. Steps 2 and 4 both read this table; the
         refine's broadcast reuses the zone aggregation's exchange
         (ReusedExchange), so the Python pass runs once per action;
      2. tiling.fleet_candidate_idx inlines the zone table's parts
         and generates each part's candidate cells as packed int64
         level-order indices — padded band
         spans of its bbox plus, in the polar caps, one run of cells
         per square ring along its longitude wedge (padded by 4x the
         cell-to-nucleus longitude bound) — a SUPERSET of the cells
         holding its points, so every point inside a polygon is
         guaranteed a candidate row;
      3. points encode ONCE to the same packed index
         (rhp_encode_index), keeping all their columns, and equi-join
         the candidate table on the 8-byte key — at 100 TB the big
         side shuffles on int64 (or AQE broadcasts a small fleet's
         cover), never on strings;
      4. tiling.even_odd_refine derives each zone row's edges once,
         joins the candidates to it on zone and keeps the rows one
         SQL fold over the zone's rings puts inside — the kernel's
         exact crossing predicate per edge, ext-odd AND NOT hole-odd
         per part, OR over parts. The rows
         carry every input column, so nothing joins back: the output
         is [point_id, the other input columns in order, zone], one
         row per matching zone.

    `point_id` need not be unique. A `points` column named `zone`,
    `_px`, `_py`, `_idx` or `_rings` raises ValueError. Skew note: a
    zone table too big to broadcast makes step 4 shuffle on `zone`,
    where a zone whose bbox dominates the point table is a hot key;
    split such polygons into parts (the OR over parts makes this
    semantically free) or pre-filter with a finer `res`.

    Dateline handling: split_dateline=None auto-splits crossing
    rings, True forces, False raises inside the distributed resolve
    stage (kernel regions.split_antimeridian; +180 normalizes to -180
    in the refine exactly like the encode prefilter, so seam points
    cannot silently drop)."""
    from .tiling import resolve_fleet_vertices

    _check_points_columns(points, "polygon_join_df")
    zones = resolve_fleet_vertices(
        polygons, cfg, split_dateline, "polygon_join_df"
    )
    return _polygon_join_core(
        points, zones, res, cfg, lon_col, lat_col, point_id
    )


def containment_join_idx(
    points: DataFrame,
    tiles: DataFrame,
    point_res: int,
    tile_res: int,
    point_idx: str = "cell_idx",
    tile_idx: str = "tile_idx",
    how: str = "inner",
    broadcast_tiles: bool = True,
    cfg: DggsConfig = WGS84_003,
) -> DataFrame:
    """Hierarchy containment on packed int64 level-order keys (the
    scale path): a res-r tile contains a res-p point iff the integer
    parent of the point's index equals the tile's index — pure integer
    div column math (rhp_index_parent), an 8-byte join key instead of
    a suid string. Equivalent range form: point_idx BETWEEN
    first_child(tile) AND last_child(tile) on the same keys."""
    from ..functions.udfs import rhp_index_parent

    key = rhp_index_parent(f"`{point_idx}`", point_res, tile_res, cfg)
    t = F.broadcast(tiles) if broadcast_tiles else tiles
    return points.join(t, key == F.col(tile_idx), how)
