"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship pages-per-tile pipeline on sf0.001-derived
                 points (encode res 9 -> res-2 rollup).
queries()      — one entry per implemented operator family
                 (SURVEY.md section 2), each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB ANSI-SQL twins. The rHEALPix encode oracle is
                 GENERATED pure SQL (rhealpixdggs_spark/oracle_sql.py)
                 sharing no code with the engine; it matches the kernel
                 bit-for-bit on the synthetic point sets.

Spatial queries derive deterministic (lon, lat) from TPC-H keys with
integer-exact arithmetic so Spark and DuckDB see identical doubles:
    lon = ((key*9973) % 360000)/1000 - 180
    lat = ((key*7919) % 178000)/1000 - 89
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from rhealpixdggs_spark.functions.text import (
    STOPWORDS_DE,
    STOPWORDS_EN,
    STOPWORDS_ES,
    STOPWORDS_FR,
    fingerprint,
    lang_id,
    ngram_repetition,
    quality_score,
    token_count,
    word_ngrams,
)
from rhealpixdggs_spark.functions.udfs import (
    cell_area_col,
    cell_width_col,
    rhp_boundary,
    rhp_centroid,
    rhp_encode,
    rhp_k_ring,
)
from rhealpixdggs_spark.operators.dedup import (
    _MINHASH_P as MINHASH_P,
    minhash_signatures,
    simhash,
)
from rhealpixdggs_spark.operators.joins import (
    containment_join,
    knn_join_brute,
    knn_join_rings,
    top_k_cells,
)
from rhealpixdggs_spark.operators.similarity import cosine_expr, norm_expr
from rhealpixdggs_spark.oracle_sql import (
    CUSTOMER_POINTS_SQL,
    ORDERS_POINTS_SQL,
    rhp_encode_sql,
    rhp_nucleus_sql,
    rhp_vertices_pivot_sql,
    rhp_xy_range_sql,
)

from rhealpixdggs_spark.kernel.constants import WGS84_003  # noqa: E402

KNN_QUERIES = [(0, 10.0, 20.0), (1, -100.0, -40.0), (2, 139.7, 35.7)]

# Radius-search query set: the three kNN sites plus a polar-cap point
# (cap k_ring crosses the N face) and a dateline-adjacent point (ring
# wraps the 180 meridian) so the cover path is exercised where the
# projection distorts most.
RANGE_QUERIES = KNN_QUERIES + [(3, 40.0, 87.5), (4, 179.5, -30.0)]
RANGE_RADIUS_M = 500_000.0

# Constants folded for the cell_metrics oracle (same op order as
# DggsConfig.cell_width / cell_area).
import math as _math  # noqa: E402

WGS84_003_RA = repr(WGS84_003.R_A)
PI_HALF = repr(_math.pi / 2)
EIGHT_3PI = repr(8 / (3 * _math.pi))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark: SparkSession, sf_dir: str, table: str = "orders") -> DataFrame:
    key = {
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "supplier": "s_suppkey",
    }[table]
    df = _t(spark, sf_dir, table)
    return df.select(
        F.col(key).alias("pid"),
        (((F.col(key) * 9973) % 360000) / 1000.0 - 180.0).alias("lon"),
        (((F.col(key) * 7919) % 178000) / 1000.0 - 89.0).alias("lat"),
    )


def _doubled(col):
    return F.transform(col, lambda x: x.cast("double"))


def _pz(col):
    """Normalize IEEE negative zero to +0.0 (col + 0.0). The driver's
    correctness hash distinguishes the byte patterns of -0.0 and 0.0;
    DuckDB round() can emit -0.0 where Spark emits 0.0 — both sides of
    every decode oracle apply the same +0.0 so representations agree."""
    return col + F.lit(0.0)


# ---------------------------------------------------------------------------
# entry: flagship pipeline
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Encode sf0.001 orders-derived points at res 9, roll up to res-2
    tiles, count pages (rows) and distinct customers per tile."""
    sf_dir = "/root/testdata/sf0.001"
    orders = _t(spark, sf_dir, "orders")
    pts = _points(spark, sf_dir, "orders").join(
        orders.select(F.col("o_orderkey").alias("pid"), "o_custkey"), "pid"
    )
    enc = pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 9))
    return (
        enc.where(F.col("cell_id").isNotNull())
        .groupBy(F.substring("cell_id", 1, 3).alias("tile_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_encode_cells(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return (
        pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 5))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_encode_res9(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return pts.select(
        "pid", rhp_encode(F.col("lon"), F.col("lat"), 9).alias("cell_id")
    )


def _q_parent_rollup(spark, sf_dir):
    pts = _points(spark, sf_dir)
    enc = pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 5))
    return (
        enc.withColumn("tile_id", F.substring("cell_id", 1, 3))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_cell_metrics(spark, sf_dir):
    res = spark.range(0, 16).select(F.col("id").cast("int").alias("res"))
    return res.select(
        "res",
        F.round(cell_width_col(F.col("res")), 6).alias("width_m"),
        F.round(cell_area_col(F.col("res"), plane=True), 4).alias("area_plane_m2"),
        F.round(cell_area_col(F.col("res"), plane=False), 4).alias("area_ell_m2"),
    )


def _q_containment_join(spark, sf_dir):
    pts = _points(spark, sf_dir, "orders")
    enc = pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 5))
    tiles = (
        _points(spark, sf_dir, "customer")
        .withColumn("tile_id", rhp_encode(F.col("lon"), F.col("lat"), 2))
        .select("tile_id")
        .distinct()
    )
    return containment_join(enc, tiles, tile_resolutions=[2]).groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_points")
    )


def _q_containment_packed(spark, sf_dir):
    """Containment join on packed int64 level-order keys
    (operators/joins.containment_join_idx): res-5 points roll up to
    res-2 tiles by integer division — no strings in the shuffle. The
    SQL twin re-derives the level-order index arithmetically from the
    suid (cell.py:262-267)."""
    from rhealpixdggs_spark.functions.udfs import rhp_encode_index
    from rhealpixdggs_spark.operators.joins import containment_join_idx

    pts = _points(spark, sf_dir).withColumn(
        "cell_idx", rhp_encode_index(F.col("lon"), F.col("lat"), 5)
    )
    tiles = (
        _points(spark, sf_dir, "customer")
        .select(
            rhp_encode_index(F.col("lon"), F.col("lat"), 2).alias("tile_idx")
        )
        .distinct()
    )
    return (
        containment_join_idx(pts, tiles, point_res=5, tile_res=2)
        .groupBy("tile_idx")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def _q_topk_cells(spark, sf_dir):
    pts = _points(spark, sf_dir)
    enc = pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 3))
    return top_k_cells(enc, k=10)


def _knn_queries_df(spark):
    return spark.createDataFrame(KNN_QUERIES, ["query_id", "q_lon", "q_lat"])


def _q_knn_brute(spark, sf_dir):
    pts = _points(spark, sf_dir)
    out = knn_join_brute(pts, _knn_queries_df(spark), 5, point_id="pid")
    return out.select("query_id", "pid", F.col("rank").alias("rnk"))


def _q_knn_rings(spark, sf_dir):
    res = 3
    pts = _points(spark, sf_dir).withColumn(
        "cell_id", rhp_encode(F.col("lon"), F.col("lat"), res)
    )
    queries = _knn_queries_df(spark).withColumn(
        "q_cell_id", rhp_encode(F.col("q_lon"), F.col("q_lat"), res)
    )
    out = knn_join_rings(pts, queries, 5, ring_k=2, res=res)
    return out.select("query_id", "pid", F.col("rank").alias("rnk"))


def _q_range_join(spark, sf_dir):
    """Geodesic radius search: all points within 500 km (ellipsoidal
    chord) of each of 5 query sites, including a polar-cap and a
    dateline-adjacent site. Spark side is the scale path — k_ring
    candidate cover at res 2, equi-join on cell_id, exact chord
    filter, zero windows (operators/joins.py:range_join_rings); the
    oracle is the brute-force distance filter over all pairs, so the
    gate proves the cover NEVER drops a true match (the over-cover is
    discarded by the identical IEEE chord expression on both
    engines)."""
    from rhealpixdggs_spark.operators.joins import range_join_rings

    res = 2
    pts = _points(spark, sf_dir).withColumn(
        "cell_id", rhp_encode(F.col("lon"), F.col("lat"), res)
    )
    queries = spark.createDataFrame(
        RANGE_QUERIES, ["query_id", "q_lon", "q_lat"]
    ).withColumn("q_cell_id", rhp_encode(F.col("q_lon"), F.col("q_lat"), res))
    out = range_join_rings(pts, queries, RANGE_RADIUS_M, res=res)
    return out.select("query_id", "pid")


def _q_quadkey_cross_index(spark, sf_dir):
    """Cross-index: rHEALPix + Bing/Web-Mercator quadkey per point,
    rolled up per (rhp res-2 tile, 4-char quadkey prefix) with
    min(qk12) gating the full level-12 key — the FOURTH cross-index
    family next to S2, hex7 and geohash (functions/quadkey.py:
    closed-form mercator tile indices + shift/mask digit extraction,
    pure column math; quadkey prefixes are parent tiles, so the
    4-char prefix IS the level-4 tile). The oracle re-derives the
    identical arithmetic through staged CTEs."""
    from rhealpixdggs_spark.functions.quadkey import quadkey_encode

    pts = _points(spark, sf_dir)
    enc = pts.select(
        "pid",
        rhp_encode(F.col("lon"), F.col("lat"), 9).alias("cell_id"),
        quadkey_encode(F.col("lon"), F.col("lat"), 12).alias("qk12"),
    )
    return enc.groupBy(
        F.substring("cell_id", 1, 3).alias("tile_id"),
        F.substring("qk12", 1, 4).alias("qk4"),
    ).agg(F.count(F.lit(1)).alias("n"), F.min("qk12").alias("qk_min"))


def _q_pagerank(spark, sf_dir):
    """Link-graph PageRank over the documents table: a deterministic
    synthetic out-link graph (outdeg 2-4, md5-keyed targets, no
    dangling nodes) + 6 integer power-method iterations at damping
    17/20 (operators/graph.py). Ranks are int64 fixed-point with
    ORDER-INDEPENDENT integer sums, so Spark and the DuckDB twin
    (pagerank_sql: same graph CTEs + the same unrolled iterations)
    agree bit-for-bit — the determinism float PageRank cannot give.
    Output: every doc's rank in mass units (1e12 == 1.0)."""
    from rhealpixdggs_spark.operators.graph import (
        pagerank,
        synthetic_link_graph,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    edges = synthetic_link_graph(docs, n, hash_fn="md5")
    nodes = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return pagerank(nodes, edges, iters=6, id_col="doc_id")


def _q_interval_join(spark, sf_dir):
    """Interval-overlap join (maintenance-window / campaign
    attribution): every event inside any of the ~1%-sampled
    [ts, ts + 1..7 min] windows. Spark side is the bucketed rewrite
    (operators/temporal.py:interval_overlap_join — explode intervals
    to <= 2 time buckets, equi-join on the bucket id, exact BETWEEN
    refine; no nested loop); the oracle is the brute non-equi theta
    join, so the gate proves the bucket cover loses no pair."""
    from rhealpixdggs_spark.operators.temporal import interval_overlap_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = ev.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (
            F.col("ts")
            + F.expr("make_interval(0,0,0,0,0,cast(1 + event_id % 7 as int),0)")
        ).alias("end_ts"),
    )
    return interval_overlap_join(ev, iv).select(
        "interval_id", "event_id", "event_type"
    )


def _q_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequency estimation (operators/sketches.py):
    build a 4 x 1024 counter grid over every token of the corpus (one
    explode + one partially-aggregating groupBy — the exchange carries
    the CONSTANT-size grid, not the tokens), then estimate the count
    of each distinct token of doc 0 as the min across grid rows.
    Exact integer counters + keyed md5 bucket hashes, so the DuckDB
    twin rebuilds the identical grid and identical estimates."""
    from rhealpixdggs_spark.operators.sketches import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    sketch = cms_build(toks, "token", depth=4, width=1024, hash_fn="md5")
    probes = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .distinct()
    )
    return cms_estimate(sketch, probes, "token", depth=4, width=1024,
                        hash_fn="md5")


def _heavy_hitters_oracle_sql(depth: int = 4, width: int = 1024) -> str:
    """DuckDB twin of _q_heavy_hitters: same tokenization, same keyed
    md5 bucket hashes (operators/sketches.py:cms_sql_parts), same
    grid, same min-across-rows estimates."""
    from rhealpixdggs_spark.operators.sketches import cms_sql_parts

    bucket = cms_sql_parts(depth, width)["bucket"]
    rows = ", ".join(f"({r})" for r in range(depth))
    return f"""
        WITH toks AS (
            SELECT unnest({_TOKENIZE}) AS token
            FROM documents WHERE len(trim(text)) > 0),
        rws(r) AS (VALUES {rows}),
        grid AS (
            SELECT r AS row, {bucket('token', 'r')} AS bucket,
                   COUNT(*) AS cnt
            FROM toks, rws GROUP BY 1, 2),
        p0 AS (
            SELECT DISTINCT unnest({_TOKENIZE}) AS token
            FROM documents WHERE doc_id = 0),
        pr AS (SELECT token, r AS row, {bucket('token', 'r')} AS bucket
               FROM p0, rws)
        SELECT pr.token, MIN(COALESCE(g.cnt, 0)) AS est
        FROM pr LEFT JOIN grid g USING (row, bucket)
        GROUP BY pr.token
    """


def _q_streaming_interval_join(spark, sf_dir):
    """Structured Streaming x interval-overlap join: events replayed
    through a file-source stream, stream-static joined against the
    static interval windows via the SAME bucket-explode equi-join
    rewrite (operators/temporal.py:interval_overlap_join runs
    unchanged under streaming — the bucket ids are map-side column
    math and the join is a plain stream-static equi-join), append
    mode under Trigger.AvailableNow. Output must equal the batch
    plan, i.e. the interval_join brute theta-join oracle."""
    import tempfile
    import uuid

    from rhealpixdggs_spark.operators.temporal import interval_overlap_join

    src = tempfile.mkdtemp(prefix="rhp_stream_iv_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(static.schema).parquet(src)
    iv = static.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (
            F.col("ts")
            + F.expr("make_interval(0,0,0,0,0,cast(1 + event_id % 7 as int),0)")
        ).alias("end_ts"),
    )
    out = interval_overlap_join(stream, iv).select(
        "interval_id", "event_id", "event_type"
    )
    name = "rhp_stream_iv_" + uuid.uuid4().hex[:10]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rhp_siv_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _q_decode_all(spark, sf_dir):
    """Full ellipsoidal decode of EVERY res-2 cell: nucleus + the
    4-vertex boundary ring, including the cap/dart/skew vertex
    geometry the quad-only SQL oracles (cell_nucleus,
    cell_boundary_quads) cannot reach. The oracle is the REFERENCE
    EXECUTED per cell (Cell.nucleus / Cell.vertices, plane=False),
    vendored by tools/gen_reference_goldens.py; both sides round
    HALF_UP to 9 decimals and normalize -0.0."""
    from rhealpixdggs_spark.functions.udfs import rhp_boundary, rhp_nucleus
    from rhealpixdggs_spark.operators.tiling import grid

    nuc = rhp_nucleus(F.col("cell_id"))
    b = rhp_boundary(F.col("cell_id"))
    pts = F.array(
        F.struct(
            F.lit("nucleus").alias("kind"),
            nuc["lon"].alias("lon"),
            nuc["lat"].alias("lat"),
        ),
        *[
            F.struct(
                F.lit(f"v{i}").alias("kind"),
                b[i]["lon"].alias("lon"),
                b[i]["lat"].alias("lat"),
            )
            for i in range(4)
        ],
    )
    return (
        grid(spark, 2)
        .select("cell_id", F.explode(pts).alias("p"))
        .select(
            "cell_id",
            F.col("p.kind").alias("kind"),
            _pz(F.round(F.col("p.lon"), 9)).alias("lon"),
            _pz(F.round(F.col("p.lat"), 9)).alias("lat"),
        )
    )


def _q_shape_all(spark, sf_dir):
    """Ellipsoidal shape classification (quad/cap/dart/skew_quad,
    cell.py:1008-1059) of EVERY res-1 and res-2 cell — the branch
    selector behind vertex ordering, centroid formulas and neighbor
    relabels. The oracle is the REFERENCE EXECUTED per cell
    (Cell.ellipsoidal_shape), vendored by
    tools/gen_reference_goldens.py."""
    from rhealpixdggs_spark.functions.udfs import rhp_shape
    from rhealpixdggs_spark.operators.tiling import grid

    cells = grid(spark, 1).select("cell_id").unionByName(
        grid(spark, 2).select("cell_id")
    )
    return cells.select("cell_id", rhp_shape(F.col("cell_id")).alias("shape"))


def _q_neighbors_all(spark, sf_dir):
    """Full ellipsoidal neighbor relabel of EVERY res-2 cell — all
    486, including the cap (longitude-sorted), dart and skew-quad
    relabel branches the SQL-rederivation `neighbors` query cannot
    reach (cell.py:1347-1446). The oracle is the REFERENCE EXECUTED
    per cell (Cell.neighbors(plane=False)), vendored by
    tools/gen_reference_goldens.py."""
    from rhealpixdggs_spark.functions.udfs import rhp_neighbors
    from rhealpixdggs_spark.operators.tiling import grid

    nbs = rhp_neighbors(F.col("cell_id"), plane=False)
    return grid(spark, 2).select(
        "cell_id", F.explode(nbs).alias("direction", "neighbor_id")
    )


def _q_kring_sizes(spark, sf_dir):
    """k=2 disk of EVERY res-2 cell — all 486, covering every
    cube-edge and cube-corner crossing configuration of the general
    ring walk (rhp_wrappers.py:371-507). The oracle is the REFERENCE
    EXECUTED per cell (rhp_wrappers.k_ring), vendored as
    (cell_id, n_disk, md5-of-sorted-members) by
    tools/gen_reference_goldens.py; md5 exists in both engines, so
    full disk MEMBERSHIP is hash-pinned, not just sizes."""
    from rhealpixdggs_spark.operators.tiling import grid

    disk = rhp_k_ring(F.col("cell_id"), 2)
    members = F.array_sort(F.array_distinct(disk))
    return grid(spark, 2).select(
        "cell_id",
        F.size(members).alias("n_disk"),
        F.md5(F.array_join(members, ",")).alias("disk_md5"),
    )


def _q_kring_interior(spark, sf_dir):
    """k_ring walk under the SQL gate: for res-3 cells at least k=2
    rows/cols from every face edge, the filled disk has exactly
    1 + 8 + 16 = 25 DISTINCT members and never crosses a face; the
    oracle re-derives the same interior set from independent digit
    arithmetic with the closed-form size."""
    res, k = 3, 2
    side = 3**res
    cells = (
        _points(spark, sf_dir, "customer")
        .select(rhp_encode(F.col("lon"), F.col("lat"), res).alias("cell_id"))
        .distinct()
    )
    row, col = _row_col_cols(res)
    interior = cells.where(
        row.between(k, side - 1 - k) & col.between(k, side - 1 - k)
    )
    return interior.select(
        "cell_id",
        F.size(F.array_distinct(rhp_k_ring(F.col("cell_id"), k))).alias(
            "ring_size"
        ),
    )


def _q_cell_geometry(spark, sf_dir):
    """Polar vertex decode against the reference's PUBLISHED doctest
    values (cell.py:548-585 ul_vertex/nw_vertex table for quad, cap,
    skew-quad and dart cells; cell.py:680-706 ellipsoidal vertices of
    the N0 dart and S0 dart): planar ul/nw vertices for the six
    nw_vertex doctest cells plus the 4 ellipsoidal vertices of N0/S0.
    Long format (cell_id, kind, seq, vx, vy); the oracle is the
    doctest table as a VALUES literal."""
    from rhealpixdggs_spark.functions.udfs import rhp_nw_vertex

    plane_cells = spark.createDataFrame(
        [("P57",), ("S4",), ("N43",), ("S43",), ("N62",), ("S62",)],
        "cell_id string",
    )
    b = rhp_boundary(F.col("cell_id"), plane=True)
    nw = rhp_nw_vertex(F.col("cell_id"))
    ul_rows = plane_cells.select(
        "cell_id",
        F.lit("ul_plane").alias("kind"),
        F.lit(0).cast("int").alias("seq"),
        (F.round(b[0]["lon"], 2) + F.lit(0.0)).alias("vx"),
        (F.round(b[0]["lat"], 2) + F.lit(0.0)).alias("vy"),
    )
    nw_rows = plane_cells.select(
        "cell_id",
        F.lit("nw_plane").alias("kind"),
        F.lit(0).cast("int").alias("seq"),
        (F.round(nw["lon"], 2) + F.lit(0.0)).alias("vx"),
        (F.round(nw["lat"], 2) + F.lit(0.0)).alias("vy"),
    )
    ell_cells = spark.createDataFrame([("N0",), ("S0",)], "cell_id string")
    ell_rows = ell_cells.select(
        "cell_id", F.posexplode(rhp_boundary(F.col("cell_id"), plane=False))
    ).select(
        "cell_id",
        F.lit("vert_ell").alias("kind"),
        F.col("pos").cast("int").alias("seq"),
        (F.round(F.col("col")["lon"], 6) + F.lit(0.0)).alias("vx"),
        (F.round(F.col("col")["lat"], 6) + F.lit(0.0)).alias("vy"),
    )
    return ul_rows.unionByName(nw_rows).unionByName(ell_rows).orderBy(
        "cell_id", "kind", "seq"
    )


def _q_cell_nucleus(spark, sf_dir):
    """Decode path with a full SQL oracle: distinct res-2 cells of the
    customer points, ellipsoidal nucleus via the inverse projection."""
    from rhealpixdggs_spark.functions.udfs import rhp_nucleus

    tiles = (
        _points(spark, sf_dir, "customer")
        .withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 2))
        .select("cell_id")
        .distinct()
    )
    nuc = rhp_nucleus(F.col("cell_id"))
    return tiles.select(
        "cell_id",
        _pz(F.round(nuc["lon"], 9)).alias("n_lon"),
        _pz(F.round(nuc["lat"], 9)).alias("n_lat"),
    )


def _q_cell_boundary_quads(spark, sf_dir):
    """Full 4-corner ellipsoidal boundary decode for equatorial (quad)
    cells, where rhp_to_geo_boundary's NW-first ring is exactly
    ul,ur,dr,dl (cell.py:590-592): every corner checked against an
    independently generated inverse-projection SQL pipeline."""
    from rhealpixdggs_spark.functions.udfs import rhp_boundary

    cells = (
        _points(spark, sf_dir)
        .select(rhp_encode(F.col("lon"), F.col("lat"), 2).alias("cell_id"))
        .where(F.substring("cell_id", 1, 1).isin("O", "P", "Q", "R"))
        .distinct()
    )
    b = rhp_boundary(F.col("cell_id"))
    cols = ["cell_id"]
    sel = [F.col("cell_id")]
    for i, nm in enumerate(["ul", "ur", "dr", "dl"]):
        sel.append(_pz(F.round(b[i]["lon"], 9)).alias(f"{nm}_lon"))
        sel.append(_pz(F.round(b[i]["lat"], 9)).alias(f"{nm}_lat"))
        cols += [f"{nm}_lon", f"{nm}_lat"]
    return cells.select(*sel)


def _q_cell_centroid_quads(spark, sf_dir):
    """Ellipsoidal centroid for quad cells (cell.py:1087-1090: nucleus
    lon, mean of the 4 vertex lats) — the polyfill filter's geometry —
    under the SQL gate via nucleus + pivot-vertices oracles."""
    tiles = (
        _points(spark, sf_dir)
        .select(rhp_encode(F.col("lon"), F.col("lat"), 2).alias("cell_id"))
        .where(F.substring("cell_id", 1, 1).isin("O", "P", "Q", "R"))
        .distinct()
    )
    c = rhp_centroid(F.col("cell_id"))
    return tiles.select(
        "cell_id",
        _pz(F.round(c["lon"], 9)).alias("c_lon"),
        _pz(F.round(c["lat"], 9)).alias("c_lat"),
    )


def _q_cell_xy_range(spark, sf_dir):
    """Planar bbox decode (Cell.xy_range, cell.py:734-754) — the
    range-join key for mixed-resolution planar containment; SQL twin
    re-derives the ul-vertex digit sums independently."""
    from rhealpixdggs_spark.functions.udfs import rhp_xy_range

    tiles = (
        _points(spark, sf_dir, "customer")
        .select(rhp_encode(F.col("lon"), F.col("lat"), 2).alias("cell_id"))
        .distinct()
    )
    xr = rhp_xy_range(F.col("cell_id"))
    return tiles.select(
        "cell_id",
        _pz(F.round(xr["x_min"], 4)).alias("x_min"),
        _pz(F.round(xr["x_max"], 4)).alias("x_max"),
        _pz(F.round(xr["y_min"], 4)).alias("y_min"),
        _pz(F.round(xr["y_max"], 4)).alias("y_max"),
    )


def _q_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique_texts"),
        )
    )


def _q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_char"),
    )


def _q_lang_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).alias("quality"),
    )


def _q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition-quality filter over the documents
    table: top/duplicate n-gram character fractions for n=2,3 plus the
    resulting keep flag (thresholds after Rae et al. 2021 table A1,
    adapted to this corpus). All higher-order JVM expressions — at
    1e12 pages this is a pure map stage, no shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    r2 = ngram_repetition(F.col("text"), 2)
    r3 = ngram_repetition(F.col("text"), 3)
    out = docs.select(
        "doc_id",
        r2["top_frac"].alias("top2_frac"),
        r2["dup_frac"].alias("dup2_frac"),
        r3["top_frac"].alias("top3_frac"),
        r3["dup_frac"].alias("dup3_frac"),
    )
    keep = (F.col("top2_frac") <= 0.08) & (F.col("dup2_frac") <= 0.12)
    return out.withColumn("keep", keep.cast("int"))


def _q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    grams = docs.select(
        "doc_id", F.array_distinct(word_ngrams(F.col("text"), 3)).alias("g")
    )
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("g_a"))
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("g_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return pairs.select(
        "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
    ).where(F.col("jaccard") > 0)


def _q_ann_quantized(spark, sf_dir):
    """int8-quantized brute cosine top-k
    (operators/similarity.quantize_embeddings + cosine_topk_quantized):
    per-vector symmetric quantization, EXACT integer dot products, one
    double division per pair — the 4x scan-reduction scale path.
    Oracle re-derives quantization + integer cosine in DuckDB list
    functions (round-half-away matches Spark ROUND)."""
    from rhealpixdggs_spark.operators.similarity import cosine_topk_quantized

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return cosine_topk_quantized(emb, queries, 5).orderBy(
        "query_id", "rank"
    )


def _ann_quantized_oracle_sql() -> str:
    return """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        z AS (
          SELECT vec_id,
            list_transform(v, x -> CASE WHEN mx = 0 THEN 0
              ELSE CAST(round(x / (mx / 127.0)) AS INT) END) AS q
          FROM (SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS mx
                FROM e)),
        qs AS (SELECT vec_id AS query_id, q AS qq FROM z WHERE vec_id < 3),
        d AS (
          SELECT qs.query_id, z.vec_id,
            round(CASE WHEN sqrt(list_dot_product(z.q, z.q))
                            * sqrt(list_dot_product(qs.qq, qs.qq)) = 0
                       THEN 0.0
                       ELSE list_dot_product(z.q, qs.qq)
                          / (sqrt(list_dot_product(z.q, z.q))
                             * sqrt(list_dot_product(qs.qq, qs.qq)))
                  END, 6) AS cos
          FROM z, qs)
        SELECT query_id, vec_id, cos, rnk AS rank FROM (
          SELECT query_id, vec_id, cos,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id) AS rnk
          FROM d) WHERE rnk <= 5
        ORDER BY query_id, rank
    """


_ORACLE_COSINE_TOPK = """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
            d AS (
              SELECT q.query_id, e.vec_id,
                round(list_dot_product(e.v, q.qv)
                  / (sqrt(list_dot_product(e.v, e.v))
                     * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos
              FROM e, q)
            SELECT query_id, vec_id, cos, rnk FROM (
              SELECT query_id, vec_id, cos,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rnk
              FROM d) WHERE rnk <= 5
        """


def _q_ann_recall(spark, sf_dir):
    """Recall@5 of every ANN path vs the brute-force cosine top-k
    (VERDICT r4 item 3): RP-LSH (4 planes), IVF at nprobe=1 and
    nprobe=2, and int8 quantized — one row per method, recall =
    |method top-5 ∩ brute top-5| / |brute top-5| over the 3 fixture
    queries. brute-vs-brute is included as a 1.0 self-check. The
    oracle re-derives every method AND the recall aggregation in
    DuckDB (each method twin is already bit-exact standalone), so the
    recall numbers users pick paths by are themselves gated."""
    from functools import reduce

    from rhealpixdggs_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_codebook,
    )

    brute = _q_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _doubled(F.col("embedding")).alias("embedding")
    )
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = ivf_codebook(dim=64, k=4, seed=7)
    methods = {
        "brute": brute,
        "ivf_p1": cosine_topk_ivf(emb, queries_df, k=5, centroids=cents, nprobe=1),
        "ivf_p2": cosine_topk_ivf(emb, queries_df, k=5, centroids=cents, nprobe=2),
        "lsh": _q_lsh_cosine_topk(spark, sf_dir),
        "quantized": _q_ann_quantized(spark, sf_dir),
    }
    total = brute.agg(F.count(F.lit(1)).alias("t"))
    parts = []
    for name, df in methods.items():
        hits = (
            df.select("query_id", "vec_id")
            .join(brute, ["query_id", "vec_id"])
            .agg(F.count(F.lit(1)).alias("h"))
        )
        parts.append(
            hits.crossJoin(total).select(
                F.lit(name).alias("method"),
                F.lit(5).alias("k"),
                F.round(F.col("h") / F.col("t"), 4).alias("recall"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("method")


def _ann_recall_oracle_sql() -> str:
    """Each method's existing DuckDB twin nested as a CTE, then the
    same hits/total aggregation per method."""
    brute = _ORACLE_COSINE_TOPK
    methods = {
        "brute": brute,
        "ivf_p1": _ivf_topk_oracle_sql(k=5, dim=64, n_cent=4, nprobe=1),
        "ivf_p2": _ivf_topk_oracle_sql(k=5, dim=64, n_cent=4, nprobe=2),
        "lsh": _lsh_cosine_topk_oracle_sql(k=5, dim=64, n_planes=4),
        "quantized": _ann_quantized_oracle_sql(),
    }
    arms = "\n          UNION ALL ".join(
        f"""SELECT '{name}' AS method, 5 AS k,
              round(count(*) * 1.0
                    / (SELECT count(*) FROM sel), 4) AS recall
            FROM (SELECT query_id, vec_id FROM m_{name}) m
            JOIN sel USING (query_id, vec_id)"""
        for name in methods
    )
    ctes = ",\n        ".join(
        f"m_{name} AS ({sql})" for name, sql in methods.items()
    )
    return f"""
        WITH {ctes},
        sel AS (SELECT query_id, vec_id FROM m_brute)
        SELECT method, k, recall FROM (
          {arms}
        ) ORDER BY method
    """


def _q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _doubled(F.col("embedding")).alias("embedding")
    )
    queries = (
        emb.where(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
    )
    joined = emb.crossJoin(F.broadcast(queries))
    cos = F.round(cosine_expr(F.col("embedding"), F.col("q_embedding")), 5)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "vec_id", "cos", "rnk")
    )


def _q_embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(norm_expr(_doubled(F.col("embedding"))), 5).alias("nrm"),
    )


def _q_tpch_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q_events_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # window_start as a formatted string: timestamp values hash
    # differently across engines (tz-awareness), strings don't.
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def _q_grid_res3(spark, sf_dir):
    """Distributed grid generation: all 4374 res-3 cells via
    spark.range + the level-order codec (SURVEY.md section 2.4)."""
    from rhealpixdggs_spark.operators.tiling import grid

    return grid(spark, 3)


def _q_interval(spark, sf_dir):
    """Post-order interval scan as WHERE BETWEEN on the packed
    level-order key (dggs.py:710-735 analogue)."""
    from rhealpixdggs_spark.kernel.cells import interval_indices
    from rhealpixdggs_spark.operators.tiling import grid

    lo, hi, res = interval_indices(WGS84_003, "P012", "Q45")
    g = grid(spark, res)
    return g.where(F.col("cell_idx").between(lo, hi))


def _grid_codec_sql(res: int, lo: str, hi: str) -> str:
    """DuckDB twin of the level-order index -> suid codec."""
    b = 9**res
    base = WGS84_003.num_cells(0, res - 1) if res > 0 else 0
    digits = " || ".join(
        f"CAST((v // {9 ** (res - 1 - i)}) % 9 AS VARCHAR)" for i in range(res)
    )
    face = (
        "CASE (v // {b}) WHEN 0 THEN 'N' WHEN 1 THEN 'O' WHEN 2 THEN 'P' "
        "WHEN 3 THEN 'Q' WHEN 4 THEN 'R' ELSE 'S' END"
    ).format(b=b)
    expr = f"{face} || {digits}" if res > 0 else face
    return f"""
        SELECT {expr} AS cell_id, v + {base} AS cell_idx
        FROM (SELECT idx - {base} AS v
              FROM range({lo}, {hi}) t(idx))
    """


def _q_s2_cross_index(spark, sf_dir):
    """Cross-index: rHEALPix + S2 ids per point, rolled up per
    (rhp res-2 tile, s2 level-2 parent) — validates co-partitioning of
    the two index spaces. SQL-oracled since r4: the DuckDB twin
    re-derives the S2 ids with a 30-step recursive single-bit Hilbert
    CTE (oracle_sql.s2_tokens_sql) joined against the pure-SQL rhp
    encoder."""
    from rhealpixdggs_spark.functions.s2_udfs import s2_cell_id, s2_parent, s2_token

    pts = _points(spark, sf_dir)
    enc = pts.select(
        "pid",
        rhp_encode(F.col("lon"), F.col("lat"), 9).alias("cell_id"),
        s2_cell_id(F.col("lon"), F.col("lat"), 12).alias("s2_id"),
    )
    return enc.groupBy(
        F.substring("cell_id", 1, 3).alias("tile_id"),
        s2_token(s2_parent(F.col("s2_id"), 2)).alias("s2_l2"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _q_s2_encode(spark, sf_dir):
    """Per-point S2 encode: canonical hex tokens of the level-12 cell
    and its level-2 ancestor for a deterministic pid subset — the
    full-precision gate for kernel/s2.py (face/uv/st/ij + Hilbert),
    bit-exact against the pure-SQL recursive-CTE twin."""
    from rhealpixdggs_spark.functions.s2_udfs import s2_cell_id, s2_parent, s2_token

    pts = _points(spark, sf_dir).where(F.col("pid") % 37 == 0)
    leaf12 = s2_cell_id(F.col("lon"), F.col("lat"), 12)
    return pts.select(
        "pid",
        s2_token(leaf12).alias("s2_l12"),
        s2_token(s2_parent(leaf12, 2)).alias("s2_l2"),
    ).orderBy("pid")


def _q_geohash_cross_index(spark, sf_dir):
    """Cross-index: rHEALPix + geohash ids per point, rolled up per
    (rhp res-2 tile, 3-char geohash) with min(gh7) gating the full
    7-char precision — the third cross-index family next to S2 and
    hex7 (functions/geohash.py: closed-form axis indices + shift/mask
    interleave, pure column math). The oracle re-derives the identical
    arithmetic through staged CTEs."""
    from rhealpixdggs_spark.functions.geohash import geohash_encode

    pts = _points(spark, sf_dir)
    enc = pts.select(
        "pid",
        rhp_encode(F.col("lon"), F.col("lat"), 9).alias("cell_id"),
        geohash_encode(F.col("lon"), F.col("lat"), 7).alias("gh7"),
    )
    return enc.groupBy(
        F.substring("cell_id", 1, 3).alias("tile_id"),
        F.substring("gh7", 1, 3).alias("gh3"),
    ).agg(F.count(F.lit(1)).alias("n"), F.min("gh7").alias("gh_min"))


def _geohash_cross_index_oracle_sql(precision=7) -> str:
    """DuckDB twin: the geohash_sql_parts fragments chained through
    CTEs (ix/iy -> interleave -> base32) joined against the pure-SQL
    rhp encoder, grouped exactly as the Spark query."""
    from rhealpixdggs_spark.functions.geohash import geohash_sql_parts

    p = geohash_sql_parts(precision)
    enc9 = rhp_encode_sql(ORDERS_POINTS_SQL, 9)
    return f"""
        WITH pts AS ({ORDERS_POINTS_SQL}),
        i AS (SELECT pid, {p['ix']} AS ix, {p['iy']} AS iy FROM pts),
        gg AS (SELECT pid, {p['g']} AS g FROM i),
        gh AS MATERIALIZED (SELECT pid, {p['gh']} AS gh7 FROM gg),
        rhp AS MATERIALIZED ({enc9})
        SELECT substr(r.cell_id, 1, 3) AS tile_id,
               substr(gh.gh7, 1, 3) AS gh3,
               COUNT(*) AS n, min(gh.gh7) AS gh_min
        FROM rhp r JOIN gh USING (pid)
        GROUP BY 1, 2
    """


def _quadkey_cross_index_oracle_sql(level=12) -> str:
    """DuckDB twin: the quadkey_sql_parts fragments chained through
    CTEs (mercator tile indices -> base-4 digit decode) joined against
    the pure-SQL rhp encoder, grouped exactly as the Spark query."""
    from rhealpixdggs_spark.functions.quadkey import quadkey_sql_parts

    p = quadkey_sql_parts(level)
    enc9 = rhp_encode_sql(ORDERS_POINTS_SQL, 9)
    return f"""
        WITH pts AS ({ORDERS_POINTS_SQL}),
        t AS (SELECT pid, {p['tx']} AS tx, {p['ty']} AS ty FROM pts),
        qk AS MATERIALIZED (SELECT pid, {p['qk']} AS qk12 FROM t),
        rhp AS MATERIALIZED ({enc9})
        SELECT substr(r.cell_id, 1, 3) AS tile_id,
               substr(qk.qk12, 1, 4) AS qk4,
               COUNT(*) AS n, min(qk.qk12) AS qk_min
        FROM rhp r JOIN qk USING (pid)
        GROUP BY 1, 2
    """


def _pagerank_oracle_sql() -> str:
    """DuckDB twin of _q_pagerank: the same md5-keyed synthetic link
    graph and the same 6 unrolled integer power-method iterations
    (operators/graph.py:pagerank_sql). The node count is a scalar
    subquery, so the oracle tracks the documents table at any sf."""
    from rhealpixdggs_spark.operators.graph import pagerank_sql

    return pagerank_sql("SELECT doc_id FROM documents", None, iters=6)


def _q_vocab_estimate(spark, sf_dir):
    """Deterministic approximate-distinct gate (corpus.
    sampled_distinct): per-lang vocabulary estimate via threshold
    hashing (hash(token) % 16 == 0 samples the token everywhere it
    occurs — no RNG, mergeable, and the pre-shuffle filter is the
    100-TB win), joined against the exact distinct count so the
    estimate quality is visible in the gated result itself. Spark's
    approx_count_distinct (HLL++) cannot be oracle-gated across
    engines; this estimator can, bit-for-bit."""
    from rhealpixdggs_spark.functions.text import tokens
    from rhealpixdggs_spark.operators.corpus import sampled_distinct

    tk = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    est = sampled_distinct(tk, ["lang"], "tok", log2_rate=4, hash_fn="md5")
    exact = tk.groupBy("lang").agg(
        F.countDistinct("tok").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "lang").select(
        "lang", "est_distinct", "n_sampled", "exact_distinct"
    )


def _vocab_estimate_oracle_sql(log2_rate=4) -> str:
    r = 1 << log2_rate
    return f"""
        WITH tk AS MATERIALIZED (
          SELECT lang,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents),
        s AS (
          SELECT lang,
                 CAST(count(DISTINCT tok) * {r} AS BIGINT) AS est_distinct,
                 CAST(count(DISTINCT tok) AS BIGINT) AS n_sampled
          FROM tk
          WHERE CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {r} = 0
          GROUP BY lang),
        x AS (
          SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
          FROM tk GROUP BY lang)
        SELECT s.lang, s.est_distinct, s.n_sampled, x.exact_distinct
        FROM s JOIN x USING (lang)
    """


def _q_quality_score(spark, sf_dir):
    """Model-serving gate: a linear bag-of-hashed-ngrams classifier
    (the fastText architecture behind CCNet/RefinedWeb quality and
    language filters) scored as pure column expressions
    (text.hashed_linear_score) — lowercase unigrams + bigrams,
    portable md5 bucket hash, literal weight array, mean-of-weights
    score. Raw score (not sigmoid) keeps it bit-reproducible; keep =
    score > 0. The oracle re-derives tokenize/bigram/hash/lookup/mean
    with the same weight literals."""
    from rhealpixdggs_spark.functions.text import (
        classifier_weights,
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents")
    score = hashed_linear_score(
        F.col("text"), classifier_weights(256, 13), hash_fn="md5"
    )
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("score"),
        (score > 0).cast("int").alias("keep"),
    )


def _quality_score_ctes(dim=256, seed=13) -> str:
    """The shared tokenize -> bigram -> hash -> weight-lookup -> mean
    CTE chain (t, f, s with s = (doc_id, score)); quality_score and
    streaming_curation both build on it."""
    from rhealpixdggs_spark.functions.text import classifier_weights
    from rhealpixdggs_spark.oracle_sql import _r

    wl = "[" + ", ".join(_r(x) for x in classifier_weights(dim, seed)) + "]"
    return f"""t AS (
          SELECT doc_id, trim(text) AS tt,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        f AS (
          SELECT doc_id, tt,
                 list_concat(toks,
                   CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1])
                   END) AS feats
          FROM t),
        s AS (
          SELECT doc_id,
                 CASE WHEN length(tt) = 0 THEN 0.0
                      ELSE list_sum(list_transform(feats, x ->
                             ({wl})[CAST(CAST('0x' || substr(md5(x), 1, 15)
                                              AS BIGINT) % {dim} AS INT) + 1]))
                           / len(feats)
                 END AS score
          FROM f)"""


def _quality_score_oracle_sql(dim=256, seed=13) -> str:
    return f"""
        WITH {_quality_score_ctes(dim, seed)}
        SELECT doc_id, round(score, 6) AS score,
               CAST(score > 0 AS INT) AS keep
        FROM s
    """


def _q_streaming_curation(spark, sf_dir):
    """Structured Streaming x curation: documents replayed through a
    file-source stream, the hashed linear classifier scored INSIDE
    each micro-batch (pure column expressions run unchanged under
    streaming), quality-filtered, per-lang doc/token rollup in
    complete mode under Trigger.AvailableNow — output must equal the
    batch/DuckDB plan on the same rows."""
    import tempfile
    import uuid

    from rhealpixdggs_spark.functions.text import (
        classifier_weights,
        hashed_linear_score,
    )

    src = tempfile.mkdtemp(prefix="rhp_stream_cur_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        os.path.join(src, "documents.parquet"),
    )
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = spark.readStream.schema(static.schema).parquet(src)
    score = hashed_linear_score(
        F.col("text"), classifier_weights(256, 13), hash_fn="md5"
    )
    kept = stream.where(score > 0)
    agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )
    name = "rhp_stream_cur_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rhp_scur_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _streaming_curation_oracle_sql() -> str:
    ntok = "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE " \
        r"len(string_split_regex(trim(text), '\s+')) END"
    return f"""
        WITH {_quality_score_ctes()}
        SELECT d.lang, count(*) AS n_docs,
               CAST(sum({ntok}) AS BIGINT) AS total_tokens
        FROM documents d JOIN s USING (doc_id)
        WHERE s.score > 0
        GROUP BY d.lang
    """


def _q_minhash_sig(spark, sf_dir):
    """MinHash signatures under the SQL gate: hash_fn='md5' picks the
    portable 60-bit shingle hash the DuckDB oracle recomputes
    bit-identically (the scale path defaults to xxhash64)."""
    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, num_hashes=8, hash_fn="md5")
    return sig.select("doc_id", *[f"mh_{i}" for i in range(8)])


def _q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, bits=32, hash_fn="md5")


# ---------------------------------------------------------------------------
# hierarchy / region / raster / dedup / streaming / multimodal queries
# ---------------------------------------------------------------------------

SUPPLIER_POINTS_SQL = (
    "SELECT s_suppkey AS pid, "
    "((s_suppkey * 9973) % 360000) / 1000.0 - 180.0 AS lon, "
    "((s_suppkey * 7919) % 178000) / 1000.0 - 89.0 AS lat "
    "FROM supplier"
)

RASTER720_SQL = (
    "SELECT id AS pid, "
    "-180.0e0 + ((id % 720) * 2 + 1) * 0.25e0 AS lon, "
    "90.0e0 - ((id // 720) * 2 + 1) * 0.25e0 AS lat, "
    "((id * 9973) % 1000) / 10.0e0 AS value "
    "FROM range(259200) t(id)"
)

RASTER144_SQL = (
    "SELECT id AS pid, "
    "-180.0e0 + ((id % 144) * 2 + 1) * 1.25e0 AS lon, "
    "90.0e0 - ((id // 144) * 2 + 1) * 1.25e0 AS lat "
    "FROM range(10368) t(id)"
)

# Point-in-polygon fixture: convex outer ring with a convex hole;
# vertices chosen off the 1e-3 point lattice so no test point sits on
# an edge (kernel even-odd vs oracle half-plane would be ambiguous).
PIP_OUTER = [(-30.137, -20.211), (40.149, -25.313), (45.151, 30.017), (-25.139, 35.021)]
PIP_HOLE = [(0.0005, 0.0007), (10.0005, 1.0007), (9.0005, 10.0007), (-0.9995, 9.0007)]

# Second convex zone for the polygon spatial join (off-lattice verts).
PIP_ZONE2 = [(60.123, -10.317), (110.149, -5.211), (105.151, 35.017), (55.139, 30.021)]

# Ellipsoidal polygon for polyfill / zone / cover demos (lon/lat ring).
EURO_RING = [(-10.0, 36.0), (25.0, 34.0), (30.0, 58.0), (-8.0, 60.0)]


def _convex_inside_sql(poly, px: str = "lon", py: str = "lat") -> str:
    """Half-plane AND-chain for a convex ring — the oracle's
    independent point-in-polygon (the engine uses even-odd ray
    crossing in NumPy)."""
    ring = list(poly) + [poly[0]]
    area2 = sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(ring, ring[1:]))
    op = ">" if area2 > 0 else "<"
    conds = [
        f"((({x2!r}e0) - ({x1!r}e0)) * ({py} - ({y1!r}e0)) "
        f"- (({y2!r}e0) - ({y1!r}e0)) * ({px} - ({x1!r}e0))) {op} 0"
        for (x1, y1), (x2, y2) in zip(ring, ring[1:])
    ]
    return "(" + " AND ".join(conds) + ")"


def _q_hierarchy_ops(spark, sf_dir):
    """Native-column hierarchy algebra (SURVEY.md section 2.3): parent,
    center child, validity, resolution, base cell — no UDF."""
    from rhealpixdggs_spark.functions.udfs import (
        rhp_base_cell,
        rhp_center_child,
        rhp_is_valid_col,
        rhp_parent,
        rhp_resolution,
    )

    cells = (
        _points(spark, sf_dir)
        .select(rhp_encode(F.col("lon"), F.col("lat"), 5).alias("cell_id"))
        .distinct()
    )
    return cells.select(
        "cell_id",
        rhp_parent(F.col("cell_id"), 2).alias("parent2"),
        rhp_center_child(F.col("cell_id"), 7).alias("center7"),
        rhp_is_valid_col(F.col("cell_id")).cast("int").alias("valid"),
        rhp_resolution(F.col("cell_id")).alias("res"),
        rhp_base_cell(F.col("cell_id")).alias("base_cell"),
    )


def _q_subcells(spark, sf_dir):
    """Descendant generation (Cell.subcells, cell.py:456-481) as a
    native explode of generated digit pairs — res 2 -> res 4."""
    tiles = (
        _points(spark, sf_dir, "customer")
        .select(rhp_encode(F.col("lon"), F.col("lat"), 2).alias("parent_id"))
        .distinct()
    )
    children = F.expr(
        "transform(sequence(0, 80), i -> concat(parent_id, "
        "cast(i div 9 as string), cast(i % 9 as string)))"
    )
    return tiles.select("parent_id", F.explode(children).alias("child_id"))


def _q_compress_cells(spark, sf_dir):
    from rhealpixdggs_spark.operators.tiling import compress_cells_df

    enc = _points(spark, sf_dir).select(
        rhp_encode(F.col("lon"), F.col("lat"), 3).alias("cell_id")
    )
    return compress_cells_df(enc)


def _q_cell_from_region(spark, sf_dir):
    """Smallest cell containing each supplier's bbox (dggs.py:833-907):
    encode both corners, longest common suid prefix — pure column ops
    after the two encodes."""
    pts = _points(spark, sf_dir, "supplier")
    clon = F.col("lon") * 0.99
    clat = F.col("lat") * 0.99
    df = pts.select(
        "pid",
        rhp_encode(clon - 1.8, clat + 0.9, 5).alias("nw"),
        rhp_encode(clon + 1.8, clat - 0.9, 5).alias("se"),
    )
    expr = None
    for L in range(6, 0, -1):
        cond = F.substring("nw", 1, L) == F.substring("se", 1, L)
        val = F.substring("nw", 1, L)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return df.select("pid", expr.otherwise(F.lit(None)).alias("region_cell"))


def _q_minimal_cover(spark, sf_dir):
    """minimal_cover (dggs.py:1372-1410): distinct cells of a point set."""
    pts = _points(spark, sf_dir)
    return (
        pts.select(rhp_encode(F.col("lon"), F.col("lat"), 4).alias("cell_id"))
        .where(F.col("cell_id").isNotNull())
        .distinct()
    )


def _q_salted_cell_agg(spark, sf_dir):
    """Explicit two-phase salted per-cell aggregation (north_rule skew
    handling) — result identical to the unsalted plan, verified by the
    plain GROUP BY oracle."""
    from rhealpixdggs_spark.operators.joins import cell_agg

    enc = _points(spark, sf_dir).withColumn(
        "cell_id", rhp_encode(F.col("lon"), F.col("lat"), 3)
    )
    return cell_agg(
        enc,
        "cell_id",
        {"n": F.count(F.lit(1)), "sum_pid": F.sum("pid")},
        n_salt=8,
    )


def _q_knn_adaptive(spark, sf_dir):
    from rhealpixdggs_spark.operators.joins import knn_join_rings_adaptive

    res = 3
    pts = _points(spark, sf_dir).withColumn(
        "cell_id", rhp_encode(F.col("lon"), F.col("lat"), res)
    )
    queries_df = _knn_queries_df(spark).withColumn(
        "q_cell_id", rhp_encode(F.col("q_lon"), F.col("q_lat"), res)
    )
    out = knn_join_rings_adaptive(pts, queries_df, 5, res=res, ring_k=2)
    return out.select("query_id", "pid", F.col("rank").alias("rnk"))


def _q_pip_polygon(spark, sf_dir):
    """Point-in-polygon against an arbitrary ring with a hole: the
    vectorized even-odd kernel (replaces matplotlib Path,
    pj_rhealpix.py:449-470) vs the oracle's half-plane algebra."""
    from rhealpixdggs_spark.functions.udfs import point_in_polygon_col

    pts = _points(spark, sf_dir)
    return pts.where(
        point_in_polygon_col(F.col("lon"), F.col("lat"), PIP_OUTER, [PIP_HOLE])
    ).select("pid", "lon", "lat")


def _q_polygon_join(spark, sf_dir):
    """Point-in-polygon spatial join against a polygon list
    (operators/joins.polygon_join): an adapter that builds the
    per-zone fleet table on the driver and runs polygon_join_df's plan
    from it — packed-int64 candidate cells, then the even_odd_refine
    fold over each zone's rings. Oracle: independent half-plane
    algebra per convex zone."""
    from rhealpixdggs_spark.operators.joins import polygon_join

    pts = _points(spark, sf_dir)
    out = polygon_join(
        pts,
        [("z1", PIP_OUTER, [PIP_HOLE]), ("z2", PIP_ZONE2, [])],
        res=3,
    )
    return out.select("pid", "lon", "lat", "zone")


def _q_polygon_join_df(spark, sf_dir):
    """DataFrame-NATIVE point-in-polygon join: the fleet arrives as a
    vertex TABLE (zone, part, ring, vtx, lon, lat), one Arrow pass and
    one groupBy(zone) turn it into the per-zone fleet table, whose
    inlined parts give the packed-int64 bbox cover (shared
    fleet_candidate_idx) and whose rings the refine folds inline per
    candidate zone (even_odd_refine), with no join back to the points
    and no cache — nothing about the fleet on the driver
    (operators/joins.polygon_join_df, r5). Oracle: the same
    independent half-plane algebra as polygon_join."""
    from rhealpixdggs_spark.operators.joins import polygon_join_df
    from rhealpixdggs_spark.operators.tiling import polygons_to_df

    pts = _points(spark, sf_dir)
    fleet = polygons_to_df(
        spark, {"z1": [(PIP_OUTER, [PIP_HOLE])], "z2": [(PIP_ZONE2, [])]}
    )
    out = polygon_join_df(pts, fleet, res=3)
    return out.select("pid", "lon", "lat", "zone")


def _q_raster_to_vector(spark, sf_dir):
    """Raster -> vector tile assignment (north_star): global 0.5-degree
    pixel grid -> res-3 zonal statistics, generated distributed from
    spark.range."""
    from rhealpixdggs_spark.operators.raster import raster_grid, raster_to_cells

    return raster_to_cells(raster_grid(spark, 720, 360), res=3)


def _q_vector_to_raster(spark, sf_dir):
    """Vector -> raster: paint the customer res-2 tiles onto a
    2.5-degree pixel grid (broadcast join on the pixel's encode)."""
    from rhealpixdggs_spark.operators.raster import cells_to_raster, raster_grid

    tiles = (
        _points(spark, sf_dir, "customer")
        .select(rhp_encode(F.col("lon"), F.col("lat"), 2).alias("cell_id"))
        .distinct()
    )
    grid144 = raster_grid(spark, 144, 72)
    return cells_to_raster(grid144, tiles, res=2).select(
        F.col("pixel_id"), F.col("cell_id")
    )


def _docs_with_dups(spark, sf_dir):
    """documents plus planted byte-identical copies (doc_id+100000 for
    every 5th doc) so dedup operators have positives to find."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    extra = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(extra)


def _q_dedup_groups(spark, sf_dir):
    from rhealpixdggs_spark.operators.dedup import exact_dup_groups

    g = exact_dup_groups(_docs_with_dups(spark, sf_dir))
    return g.select(
        "fp",
        "dup_count",
        F.array_join(
            F.transform("members", lambda x: x.cast("string")), ","
        ).alias("members"),
    )


def _q_span_dedup(spark, sf_dir):
    """Cross-document duplicated 8-token spans (exact-substring dedup
    catalog) over documents + planted byte-identical copies."""
    from rhealpixdggs_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_docs_with_dups(spark, sf_dir), width=8, min_docs=2)


def _q_source_rollup(spark, sf_dir):
    """Per-source corpus quality/size rollup (single hash-agg with
    map-side partials; every measure integer-exact or min/max)."""
    from rhealpixdggs_spark.operators.corpus import source_rollup

    return source_rollup(_t(spark, sf_dir, "documents"))


def _q_corpus_sample(spark, sf_dir):
    """Deterministic data-mixing sample: per-lang keep rates applied
    as a pure map-side hash filter (no shuffle; md5-portable hash so
    the oracle re-computes identical survivors)."""
    from rhealpixdggs_spark.operators.corpus import stratified_sample

    rates = {"en": 0.8, "de": 0.5, "fr": 0.25, "es": 0.1}
    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates,
        default_rate=0.05,
        hash_fn="md5",
    ).select("doc_id", "lang")


def _q_curation_pipeline(spark, sf_dir):
    """Flagship training-data curation composite — ONE Spark plan
    chaining quality filter -> repetition filter -> exact dedup ->
    stratified sample -> per-lang rollup over the dup-planted corpus.
    Scale shape: both filters and the sample are map-side (they fuse
    into the scan before any exchange); the only shuffles are the
    dedup hash-partition on md5(text) and the final tiny lang
    aggregation. Every stage is individually oracle-backed; this query
    value-checks their composition."""
    from rhealpixdggs_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    extra = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang"
    )
    inp = docs.unionByName(extra)
    r2 = ngram_repetition(F.col("text"), 2)
    filtered = (
        inp.withColumn("top2", r2["top_frac"])
        .withColumn("dup2", r2["dup_frac"])
        .where((F.col("top2") <= 0.08) & (F.col("dup2") <= 0.12))
        .where(quality_score(F.col("text")) >= 0.5)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    sampled = stratified_sample(
        deduped,
        {"en": 0.8, "de": 0.5, "fr": 0.25, "es": 0.1},
        default_rate=0.05,
        hash_fn="md5",
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )


def _q_pii_redaction(spark, sf_dir):
    """C4-style PII scrub with planted synthetic PII (the corpus
    itself is PII-free): per-doc email/phone/IPv4 planted from doc_id,
    then counted and redacted. Output = redacted-text fingerprint +
    per-type counts, so the oracle verifies both the rewrite and the
    audit metric. Pure JVM regexp chain — map-only at any scale."""
    from rhealpixdggs_spark.functions.text import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1 555 00"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" from 192.168.0.1")).otherwise(
            F.lit("")
        ),
    )
    c = pii_counts(planted)
    return docs.select(
        "doc_id",
        F.md5(redact_pii(planted)).alias("redacted_fp"),
        c["n_email"].alias("n_email"),
        c["n_phone"].alias("n_phone"),
        c["n_ipv4"].alias("n_ipv4"),
    )


def _q_decontamination(spark, sf_dir):
    """Benchmark-leakage audit: eval set = every 7th document
    truncated to its first 12 tokens — verbatim prefixes (doc_id%14=0,
    contaminated by construction) alternating with token-reversed
    prefixes (doc_id%14=7, clean unless reversal collides). Reports
    per-eval-doc span-overlap fraction against the full train
    corpus."""
    from rhealpixdggs_spark.operators.dedup import contamination_report

    docs = _t(spark, sf_dir, "documents")
    toks12 = F.slice(F.split(F.trim(F.col("text")), "\\s+"), 1, 12)
    etext = F.when(
        F.col("doc_id") % 14 == 0, F.concat_ws(" ", toks12)
    ).otherwise(F.concat_ws(" ", F.reverse(toks12)))
    evals = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), etext.alias("text")
    )
    return contamination_report(docs, evals, width=8)


def _q_doc_chunks(spark, sf_dir):
    """Training-sample sharding: width-32/stride-24 token chunks per
    document (pure map-side explode, no shuffle). Chunk text is
    fingerprinted so the oracle verifies exact content without bulky
    result rows."""
    from rhealpixdggs_spark.operators.corpus import chunk_documents

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), width=32, stride=24
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_fp"),
    )


def _emb_with_near_dups(spark, sf_dir):
    """embeddings plus planted scaled copies (x2, same direction ->
    cosine 1.0) for near-dup recall."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _doubled(F.col("embedding")).alias("embedding")
    )
    extra = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    return emb.unionByName(extra)


def _q_near_dup_embeddings(spark, sf_dir):
    from rhealpixdggs_spark.operators.dedup import embedding_near_pairs

    return embedding_near_pairs(_emb_with_near_dups(spark, sf_dir), threshold=0.999)


def _q_near_dup_lsh(spark, sf_dir):
    """Bucketed embedding near-PAIR enumeration (VERDICT r4 item 1):
    banded random-projection keys -> equi-join candidates -> exact
    cosine re-rank (dedup.embedding_near_pairs_lsh) on the planted
    near-dup fixture. Every join is an equi-join — the plan test pins
    no BroadcastNestedLoopJoin/CartesianProduct. The oracle re-derives
    the seed-42 hyperplane band keys as SQL literals (same pattern as
    lsh_cosine_topk) and the same candidate self-join."""
    from rhealpixdggs_spark.operators.dedup import embedding_near_pairs_lsh

    return embedding_near_pairs_lsh(
        _emb_with_near_dups(spark, sf_dir),
        dim=64,
        threshold=0.999,
        n_bits=16,
        bands=4,
    )


def _near_dup_lsh_oracle_sql(dim=64, n_bits=16, bands=4, seed=42):
    """DuckDB twin of embedding_near_pairs_lsh: regenerate the seed-42
    hyperplanes as literal lists, compute each band's sign-bit key,
    self-join on (band, key), then exact-cosine re-rank of the
    distinct candidate pairs."""
    from rhealpixdggs_spark.operators.similarity import _hyperplanes
    from rhealpixdggs_spark.oracle_sql import _r

    planes = _hyperplanes(dim, n_bits, seed)
    r = n_bits // bands

    def lst(p):
        return "[" + ", ".join(_r(x) for x in p) + "]"

    def band_key(b):
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {lst(planes[b * r + j])}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        )

    band_selects = "\n          UNION ALL ".join(
        f"SELECT vec_id, v, {b} AS band, ({band_key(b)}) AS key FROM u"
        for b in range(bands)
    )
    return f"""
        WITH u AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding::DOUBLE[], x -> x * 2.0e0) AS v
          FROM embeddings WHERE vec_id % 10 = 0),
        k AS MATERIALIZED (
          {band_selects}),
        c AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM k a JOIN k b ON a.band = b.band AND a.key = b.key
                           AND a.vec_id < b.vec_id),
        d AS (
          SELECT c.id_a, c.id_b,
            round(list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
          FROM c JOIN u x ON x.vec_id = c.id_a
                 JOIN u y ON y.vec_id = c.id_b)
        SELECT id_a, id_b, cos FROM d WHERE cos >= 0.999e0
    """


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (dedup.semantic_dedup) on the
    planted near-dup fixture: the seed-7 4-centroid codebook (the
    same coarse quantizer ivf_topk uses) clusters the vectors, and
    inside each cluster every vector whose cosine to a higher-ranked
    member (rank = centroid-cosine ASC, id ASC) reaches 0.999 is
    pruned — the planted x2-scaled copies tie their originals on
    centroid cosine exactly (power-of-2 scaling is exact in IEEE
    doubles), rank after them, see prior cosine 1.0, and drop. The
    oracle re-derives codebook literals, assignment, rank window and
    the within-cluster prior-max in SQL."""
    from rhealpixdggs_spark.operators.dedup import semantic_dedup
    from rhealpixdggs_spark.operators.similarity import ivf_codebook

    cents = ivf_codebook(dim=64, k=4, seed=7)
    out = semantic_dedup(
        _emb_with_near_dups(spark, sf_dir), centroids=cents, threshold=0.999
    )
    return out.select(
        "id",
        "cluster",
        "ccos",
        "c_rank",
        "max_prior_cos",
        F.col("keep").cast("int").alias("keep"),
    )


def _semantic_dedup_oracle_sql(dim=64, n_cent=4, seed=7, threshold="0.999e0"):
    """DuckDB twin of dedup.semantic_dedup on the near-dup fixture:
    same seed-7 codebook literals, first-occurrence argmax assignment
    (list_position + list_max, as _ivf_topk_oracle_sql), centroid
    cosine picked out of the literal cosine list, rank window, then a
    cluster equi-join restricted to lower-ranked partners for the
    prior-max cosine. keep compares the UNROUNDED max (round is
    display-only), matching the Spark side."""
    from rhealpixdggs_spark.operators.similarity import ivf_codebook
    from rhealpixdggs_spark.oracle_sql import _r

    cents = ivf_codebook(dim=dim, k=n_cent, seed=seed)

    def lst(p):
        return "[" + ", ".join(_r(x) for x in p) + "]"

    dots = "[" + ", ".join(f"list_dot_product(v, {lst(c)})" for c in cents) + "]"
    ccos_list = (
        "["
        + ", ".join(
            f"list_dot_product(v, {lst(c)})"
            f" / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product({lst(c)}, {lst(c)})))"
            for c in cents
        )
        + "]"
    )
    return f"""
        WITH u AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding::DOUBLE[], x -> x * 2.0e0) AS v
          FROM embeddings WHERE vec_id % 10 = 0),
        a AS MATERIALIZED (
          SELECT vec_id AS id, v,
                 list_position(dl, list_max(dl)) - 1 AS cluster,
                 cl[list_position(dl, list_max(dl))] AS ccos
          FROM (SELECT vec_id, v, {dots} AS dl, {ccos_list} AS cl FROM u)),
        r AS MATERIALIZED (
          SELECT id, v, cluster, ccos,
                 row_number() OVER (PARTITION BY cluster
                                    ORDER BY ccos ASC, id ASC) AS c_rank
          FROM a),
        p AS (
          SELECT x.id,
                 max(list_dot_product(x.v, y.v)
                     / (sqrt(list_dot_product(x.v, x.v))
                        * sqrt(list_dot_product(y.v, y.v)))) AS mpc
          FROM r x JOIN r y ON x.cluster = y.cluster
                           AND y.c_rank < x.c_rank
          GROUP BY x.id)
        SELECT r.id, r.cluster, round(r.ccos, 6) AS ccos, r.c_rank,
               round(p.mpc, 6) AS max_prior_cos,
               CAST(p.mpc IS NULL OR p.mpc < {threshold} AS INT) AS keep
        FROM r LEFT JOIN p ON r.id = p.id
    """


def _q_ivf_train_assign(spark, sf_dir):
    """Bit-reproducible Lloyd TRAINING gate (similarity.
    ivf_train_exact): two k-means iterations from the seed-7 codebook
    over int64-quantized embeddings — integer per-(cluster, dim) sums
    are exact and order-independent, so the trained centroids and the
    final assignment are bit-identical across engines, unlike float
    avg. Returns each vector's final cluster and its dot product with
    the trained centroid; the oracle unrolls the same two iterations
    in SQL (quantize -> literal-codebook assign -> integer sums ->
    one double division -> reassign)."""
    from rhealpixdggs_spark.operators.similarity import (
        ivf_dots_expr,
        ivf_train_exact,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, out = ivf_train_exact(emb, dim=64, k=4, iters=2)
    s = float(1 << 20)
    v = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * s).cast("long").cast("double") / s,
    )
    dots = ivf_dots_expr(v, cents)
    return out.select(
        "vec_id",
        "cluster",
        F.round(F.element_at(dots, F.col("cluster") + 1), 6).alias("cdot"),
    )


def _ivf_train_assign_oracle_sql(dim=64, k=4, iters=2, seed=7, scale_bits=20):
    """DuckDB twin of ivf_train_exact: the same seed-7 codebook
    literals start the loop; each unrolled iteration assigns by
    first-occurrence argmax over the dot list (list_position +
    list_max, ordered by cluster id — identical tie-break to Spark's
    array_position), accumulates per-(cluster, dim) BIGINT sums of
    the quantized coordinates (exact, order-independent), and forms
    means with the single division sum / (n * 2^scale_bits); empty
    clusters COALESCE to the previous iteration's centroid."""
    from rhealpixdggs_spark.operators.similarity import ivf_codebook
    from rhealpixdggs_spark.oracle_sql import _r

    s = float(1 << scale_bits)
    cents = ivf_codebook(dim=dim, k=k, seed=seed)

    def lst(p):
        return "[" + ", ".join(_r(x) for x in p) + "]"

    lit_dots = "[" + ", ".join(f"list_dot_product(v, {lst(c)})" for c in cents) + "]"
    cents_rows = " UNION ALL ".join(
        f"SELECT {c} AS c, {lst(cent)}::DOUBLE[] AS cent"
        for c, cent in enumerate(cents)
    )
    ctes = [
        f"""q AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(round(x * {s!r}) AS BIGINT)) AS qv
          FROM embeddings),
        v AS MATERIALIZED (
          SELECT vec_id, qv,
                 list_transform(qv, x -> CAST(x AS DOUBLE) / {s!r}) AS v
          FROM q),
        c0f AS ({cents_rows}),
        a0 AS MATERIALIZED (
          SELECT vec_id, list_position(dl, list_max(dl)) - 1 AS c
          FROM (SELECT vec_id, {lit_dots} AS dl FROM v))"""
    ]
    for i in range(1, iters + 1):
        prev_a, prev_c = f"a{i - 1}", f"c{i - 1}f"
        ctes.append(
            f"""m{i} AS (
          SELECT {prev_a}.c, t.i, sum(v.qv[t.i]) AS sl, count(*) AS n
          FROM {prev_a} JOIN v USING (vec_id)
               CROSS JOIN range(1, {dim + 1}) t(i)
          GROUP BY {prev_a}.c, t.i),
        c{i} AS (
          SELECT c, list(CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * {s!r})
                         ORDER BY i) AS cent
          FROM m{i} GROUP BY c),
        c{i}f AS (
          SELECT p.c, COALESCE(c{i}.cent, p.cent) AS cent
          FROM {prev_c} p LEFT JOIN c{i} ON c{i}.c = p.c),
        d{i} AS (
          SELECT v.vec_id,
                 list(list_dot_product(v.v, f.cent) ORDER BY f.c) AS dl
          FROM v CROSS JOIN c{i}f f GROUP BY v.vec_id),
        a{i} AS MATERIALIZED (
          SELECT vec_id, list_position(dl, list_max(dl)) - 1 AS c,
                 dl[list_position(dl, list_max(dl))] AS best
          FROM d{i})"""
        )
    return f"""
        WITH {', '.join(ctes)}
        SELECT vec_id, c AS cluster, round(best, 6) AS cdot
        FROM a{iters}
    """


def _q_minhash_lsh_pairs(spark, sf_dir):
    from rhealpixdggs_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _docs_with_dups(spark, sf_dir), num_hashes=16, bands=8, hash_fn="md5"
    )


def _q_dedup_components(spark, sf_dir):
    """Connected components over the dedup candidate graph: LSH pairs
    on the dup-planted corpus plus a deterministic 10-vertex chain
    (doc 0-10-...-90) so label propagation is exercised beyond
    diameter-1 dup pairs. Oracle = DuckDB recursive-CTE reachability
    closure with min-id per component."""
    from rhealpixdggs_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
    )

    pairs = minhash_lsh_candidates(
        _docs_with_dups(spark, sf_dir), num_hashes=16, bands=8, hash_fn="md5"
    ).select("id_a", "id_b")
    chain = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 90))
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 10).alias("id_b"),
        )
    )
    cc = connected_components(pairs.unionByName(chain))
    return cc.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    )


def _q_near_dedup_keep(spark, sf_dir):
    """End-to-end near-dup REMOVAL: LSH pairs -> connected components
    -> drop non-canonical members -> per-lang survivor counts. The
    step that actually shrinks the corpus; composes the component
    labeling with a single left_anti pass."""
    from rhealpixdggs_spark.operators.dedup import (
        minhash_lsh_candidates,
        near_dedup_filter,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    extra = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang"
    )
    inp = docs.unionByName(extra)
    pairs = minhash_lsh_candidates(
        inp.select("doc_id", "text"), num_hashes=16, bands=8, hash_fn="md5"
    ).select("id_a", "id_b")
    kept = near_dedup_filter(inp, pairs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )


def _q_simhash_pairs(spark, sf_dir):
    from rhealpixdggs_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(
        _docs_with_dups(spark, sf_dir), max_hamming=3, hash_fn="md5"
    )


def _q_lsh_cosine_topk(spark, sf_dir):
    from rhealpixdggs_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _doubled(F.col("embedding")).alias("embedding")
    )
    dim = len(emb.select("embedding").first()[0])
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return cosine_topk_lsh(emb, queries_df, k=5, dim=dim, n_planes=4)


def _q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: 4-centroid coarse quantizer (fixed
    seeded codebook — the zero-training variant), nprobe=2, exact
    cosine re-rank inside probed cells. The oracle embeds the same
    codebook literals and re-derives assignment/probing in SQL."""
    from rhealpixdggs_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _doubled(F.col("embedding")).alias("embedding")
    )
    queries_df = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cents = ivf_codebook(dim=64, k=4, seed=7)
    return cosine_topk_ivf(emb, queries_df, k=5, centroids=cents, nprobe=2)


def _q_asof_attribution(spark, sf_dir):
    """Purchase->latest-prior-click attribution per user via the
    distributed as-of join (operators/temporal.py). Timestamps go out
    as microsecond-precision strings (identical format both engines,
    NULL-safe for unmatched left rows); value columns are parquet
    pass-throughs (no arithmetic), so no rounding is needed."""
    from rhealpixdggs_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    right = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max("value").alias("click_value"),
        )
    )
    out = asof_join(left, right, on="ts", by="user_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "event_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        "user_id",
        "value",
        F.date_format("ts_r", fmt).alias("click_ts"),
        "click_id",
        "click_value",
    )


def _q_asof_bucketed_auto(spark, sf_dir):
    """Same attribution as asof_attribution but through the bounded
    window-partition scale path with the SKETCH-DERIVED bucket width
    (asof_join_bucketed(bucket_width='auto'), VERDICT r3 item 6) —
    rows_per_bucket forced low so the heaviest user really spans
    several buckets at sf0.01. Same DuckDB ASOF oracle."""
    from rhealpixdggs_spark.operators.temporal import asof_join_bucketed

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    right = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max("value").alias("click_value"),
        )
    )
    out = asof_join_bucketed(
        left, right, on="ts", by="user_id", rows_per_bucket=8
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "event_id",
        F.date_format("ts", fmt).alias("purchase_ts"),
        "user_id",
        "value",
        F.date_format("ts_r", fmt).alias("click_ts"),
        "click_id",
        "click_value",
    )


# equatorial test polygon (with a hole) for the oracled polyfill —
# all candidate cells are quads, so the SQL centroid twin applies.
EQ_POLY_EXT = [(-20.0, -10.0), (25.0, -15.0), (30.0, 20.0), (0.0, 30.0), (-20.0, -10.0)]
EQ_POLY_HOLE = [(0.0, 0.0), (10.0, 0.0), (5.0, 10.0), (0.0, 0.0)]


def _q_polyfill(spark, sf_dir):
    """Distributed polyfill (operators/tiling.polyfill_df): candidates
    from the distributed bbox cover, centroid decode in one Arrow pass,
    even-odd filter as column math. The euro ring reaches dart cells,
    so the oracle is the REFERENCE EXECUTED on the same ring
    (rhp_wrappers.polyfill, rhp_wrappers.py:510-599; dart/skew
    centroids via Gauss-Legendre dblquad), vendored by
    tools/gen_reference_goldens.py; kernel-equality additionally
    pinned in tests/test_tiling_distributed.py. The SQL-rederivation
    variant is polyfill_eq."""
    from rhealpixdggs_spark.operators.tiling import polyfill_df

    return polyfill_df(spark, {"euro": [(EURO_RING, [])]}, res=3, plane=False)


# Cap-reaching triangle (equatorial band into the north polar cap) —
# must match tools/gen_reference_goldens.py CAP_RING.
CAP_RING = [(-10.0, 30.0), (10.0, 30.0), (0.0, 70.0)]


def _q_polyfill_cap(spark, sf_dir):
    """polyfill_many on a CAP-REACHING ring (round 4, VERDICT item 5:
    the equatorial-band restriction lifted): band candidates from the
    lock-step row/column span generator, cap candidates from the
    per-parallel walk generator, one packed-int64 dedupe + centroid
    filter. Oracle: the reference's polyfill EXECUTED verbatim on the
    same ring (tools/gen_reference_goldens.py gen_polyfill_cap,
    kernel-cross-checked)."""
    from rhealpixdggs_spark.operators.tiling import polyfill_many

    return polyfill_many(spark, {"cap": [(CAP_RING, [])]}, res=3)


# Fixed literal zones for the zone-algebra contract queries: exercise
# equal cells, ancestor/descendant pairs, partial sibling coverage
# (8 of 9 Q33 children) and disjoint cells.
_ZONE_A = ["N0", "P1", "Q33", "R2"]
_ZONE_B = [
    "N00", "N01", "P",
    "Q330", "Q331", "Q332", "Q333", "Q334", "Q335", "Q336", "Q337",
    "S1",
]


def _zone_lit(spark, cells):
    return spark.createDataFrame([(c,) for c in cells], "cell_id string")


def _q_zone_union(spark, sf_dir):
    """Zone set algebra (operators/zone_algebra): Leaves(A) ∪ Leaves(B)
    re-compressed to the canonical antichain, all prefix equi-joins.
    The oracle re-derives the semantics independently in SQL: a
    recursive CTE expands both zones to res-3 leaves, plain set ops
    apply, and three unrolled sibling-merge steps re-compress."""
    from rhealpixdggs_spark.operators.zone_algebra import zone_union

    return zone_union(
        _zone_lit(spark, _ZONE_A), _zone_lit(spark, _ZONE_B)
    ).orderBy("cell_id")


def _q_zone_intersect(spark, sf_dir):
    """Leaves(A) ∩ Leaves(B) — see _q_zone_union."""
    from rhealpixdggs_spark.operators.zone_algebra import zone_intersect

    return zone_intersect(
        _zone_lit(spark, _ZONE_A), _zone_lit(spark, _ZONE_B)
    ).orderBy("cell_id")


def _q_zone_subtract(spark, sf_dir):
    """Leaves(A) − Leaves(B) via the boundary-proportional iterative
    expansion — see _q_zone_union."""
    from rhealpixdggs_spark.operators.zone_algebra import zone_subtract

    return zone_subtract(
        _zone_lit(spark, _ZONE_A), _zone_lit(spark, _ZONE_B)
    ).orderBy("cell_id")


def _q_zone_xor(spark, sf_dir):
    """Leaves(A) XOR Leaves(B) — the fused two-frontier symmetric
    difference (operators/zone_algebra.zone_xor, new r4); oracle is
    the same recursive-CTE leaf expansion with
    (A EXCEPT B) UNION (B EXCEPT A)."""
    from rhealpixdggs_spark.operators.zone_algebra import zone_xor

    return zone_xor(
        _zone_lit(spark, _ZONE_A), _zone_lit(spark, _ZONE_B)
    ).orderBy("cell_id")


def _q_linetrace_dateline(spark, sf_dir):
    """Dateline-crossing linetrace (split_dateline=True splits the
    segment at the seam and concatenates the walks). The oracle is the
    REFERENCE EXECUTED on the two nudged sub-segments — the reference
    itself cannot cross the seam (dggs.py:1107-1114) — vendored by
    tools/gen_reference_goldens.py."""
    from rhealpixdggs_spark.operators.tiling import linetrace_df

    lines = spark.createDataFrame(
        [(0, [{"lon": 175.0, "lat": 5.0}, {"lon": -175.0, "lat": 6.0}])],
        "line_id int, line array<struct<lon: double, lat: double>>",
    )
    return linetrace_df(lines, 3, split_dateline=True).select(
        F.col("seq").cast("int").alias("seq"), "cell_id"
    ).orderBy("seq")


def _q_zone_dateline(spark, sf_dir):
    """Dateline-crossing CellZoneFromPoly — the seam-column cell rings
    that invert at +/-180 are unwrapped with 360-shifted predicate
    variants (kernel/zones.py), split_dateline=True splits the
    geometry. The oracle is an INDEPENDENT interval-arithmetic model
    (the region and every recursed cell are lon/lat rectangles, so the
    recursion reduces to half-open interval comparisons over
    reference-gated cell decodes) vendored by
    tools/gen_reference_goldens.py, which also proves the reference
    ITSELF mis-classifies the seam column (its documented antimeridian
    TODO)."""
    from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

    ring = [(170.0, 10.0), (-170.0, 10.0), (-170.0, 25.0), (170.0, 25.0)]
    return zone_from_poly_df(
        spark, [(ring, [])], res_limit=3, split_dateline=True
    ).select("cell_id", F.col("res").cast("long").alias("res")).orderBy("cell_id")


def _q_polyfill_dateline(spark, sf_dir):
    """Dateline-crossing polyfill — the antimeridian limitation the
    reference leaves open (rhp_wrappers.py:546) lifted via
    kernel regions.split_antimeridian + polyfill_df(split_dateline=
    True). The oracle is the REFERENCE EXECUTED on the two manually
    split halves of the same ring (union), vendored by
    tools/gen_reference_goldens.py."""
    from rhealpixdggs_spark.operators.tiling import polyfill_df

    ring = [(170.0, 10.0), (-170.0, 10.0), (-170.0, 25.0), (170.0, 25.0)]
    return polyfill_df(
        spark, {"fiji": [(ring, [])]}, res=3, plane=False, split_dateline=True
    )


def _q_polyfill_eq(spark, sf_dir):
    """Distributed polyfill of an equatorial polygon-with-hole under
    the full SQL gate: candidate lattice, quad centroid decode and
    even-odd containment are all re-derived independently in DuckDB."""
    from rhealpixdggs_spark.operators.tiling import polyfill_df

    return polyfill_df(
        spark, {"eq": [(EQ_POLY_EXT, [EQ_POLY_HOLE])]}, res=3, plane=False
    )


def _q_polyfill_eq_df(spark, sf_dir):
    """DataFrame-NATIVE polygon-fleet polyfill (round 5, VERDICT item
    2): the same equatorial polygon-with-hole as polyfill_eq, but the
    polygon arrives as a VERTEX TABLE (zone, part, ring, vtx, lon,
    lat) and membership is the shared even-odd refine — candidates
    equi-join the per-zone ring table on zone and one SQL fold over
    its rings applies the kernel-identical crossing predicate — so a
    10^6-polygon fleet never touches the driver. Oracle: the
    identical independent DuckDB re-derivation as polyfill_eq
    (candidate lattice + quad centroid + even-odd SQL)."""
    from rhealpixdggs_spark.operators.tiling import (
        polyfill_many_df,
        polygons_to_df,
    )

    pdf = polygons_to_df(spark, {"eq": [(EQ_POLY_EXT, [EQ_POLY_HOLE])]})
    return polyfill_many_df(spark, pdf, res=3)


def _q_region_cover(spark, sf_dir):
    """Distributed cells_from_region (dggs.py:1181-1331): matrix of
    res-3 cells covering an ellipsoidal quad that spans the cap
    boundary — equatorial rows are closed-form column ranges, cap rows
    fall back to the per-row parallel walk (operators/tiling.
    region_cover_ell_df). The oracle is the REFERENCE EXECUTED on the
    same quad (cells_from_region, dggs.py:1181-1331; vendored by
    tools/gen_reference_goldens.py); kernel-equality additionally
    pinned in tests/test_tiling_distributed.py. The equatorial-quad
    SQL-rederivation variant is region_cover_ell."""
    from rhealpixdggs_spark.operators.tiling import region_cover_ell_df

    return region_cover_ell_df(spark, 3, (-10.0, 60.0), (30.0, 34.0)).select(
        F.col("row_i").cast("int").alias("row_i"),
        F.col("col_i").cast("int").alias("col_i"),
        "cell_id",
    )


def _q_region_cover_ell(spark, sf_dir):
    """Distributed ellipsoidal cover of an equatorial quad under the
    full SQL gate: the oracle re-derives the nucleus-row lattice with
    plain arithmetic (dggs.py:909-1004) and maps planar nuclei to suids
    through an independent face-dispatch + digit-floor SQL pipeline."""
    from rhealpixdggs_spark.operators.tiling import region_cover_ell_df

    return region_cover_ell_df(spark, 3, (-10.0, 35.0), (30.0, 5.0))


def _q_zone_catchment(spark, sf_dir):
    """DISTRIBUTED CellZoneFromPoly parity on the reference's published
    catchment polygon (zone_from_poly_df: per-level explode + one
    Arrow classify pass, frontier = zone perimeter — no driver-side
    cell list); the oracle is the reference's own 254-cell
    ground-truth list (reference tests/test_conversion.py:58-538,
    vendored in rhealpixdggs_spark/data/)."""
    from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

    coords, _ = _catchment_golden()
    return zone_from_poly_df(
        spark, [(coords, ())], res_limit=9
    ).select("cell_id", F.col("res").cast("long").alias("res")).orderBy("cell_id")


def _q_zone_tiles_df(spark, sf_dir):
    """DataFrame-NATIVE lock-step CellZoneFromPoly on the reference's
    published catchment: the fleet arrives as a vertex TABLE, roots
    are found executor-side and geometry reaches the classify pass
    via an equi-join on zone — no driver-side polygon dict
    (operators/tiling.zone_tiles_many_df, r5). Oracle: the
    reference's own 254-cell ground-truth list."""
    from rhealpixdggs_spark.operators.tiling import (
        polygons_to_df,
        zone_tiles_many_df,
    )

    coords, _ = _catchment_golden()
    fleet = polygons_to_df(spark, {"catch": [(list(coords), [])]})
    return (
        zone_tiles_many_df(spark, fleet, res_limit=9)
        .select(
            "tile_id", F.col("res").cast("long").alias("res"), "zone"
        )
        .orderBy("tile_id")
    )


def _q_zone_assign(spark, sf_dir):
    """End-to-end per-point multi-resolution zone assignment (the
    north-star 'per-URL tile assignments'): deterministic points in
    the catchment bbox -> res-9 encode -> mixed-resolution
    containment_join (one broadcast equi-join per zone resolution,
    res 7/8/9) against the DISTRIBUTED zone (zone_from_poly_df) ->
    per-tile counts. The oracle pushes the same points through the
    independent SQL encode pipeline and prefix-joins them against the
    reference's published 254-cell ground-truth zone."""
    from rhealpixdggs_spark.operators.joins import containment_join
    from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

    coords, _ = _catchment_golden()
    zone = zone_from_poly_df(spark, [(coords, ())], res_limit=9).select(
        F.col("cell_id").alias("tile_id")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pts = orders.select(
        F.col("o_orderkey").alias("pid"),
        (F.col("o_orderkey") * 9973 % 2200 / 10000.0 + 148.6).alias("lon"),
        (F.col("o_orderkey") * 7919 % 1700 / 10000.0 - 35.73).alias("lat"),
    )
    enc = pts.select(
        "pid", rhp_encode(F.col("lon"), F.col("lat"), 9).alias("cell_id")
    )
    joined = containment_join(enc, zone, tile_resolutions=[7, 8, 9])
    return (
        joined.groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            "tile_id",
            (F.length("tile_id") - 1).cast("int").alias("res"),
            "n_points",
        )
        .orderBy("tile_id")
    )


def _zone_assign_oracle_sql() -> str:
    """Same deterministic points through the generated SQL encode,
    prefix-joined against the published catchment ground truth."""
    from rhealpixdggs_spark.oracle_sql import rhp_encode_sql as _enc

    _, cells = _catchment_golden()
    pts = (
        "SELECT o_orderkey AS pid, "
        "((o_orderkey * 9973) % 2200) / 10000.0 + 148.6 AS lon, "
        "((o_orderkey * 7919) % 1700) / 10000.0 - 35.73 AS lat "
        "FROM orders"
    )
    vals = ", ".join(f"('{c}')" for c in cells)
    return f"""
        WITH e AS MATERIALIZED ({_enc(pts, 9)}),
        zone AS (SELECT cell_id AS tile_id FROM (VALUES {vals}) t(cell_id))
        SELECT z.tile_id, CAST(length(z.tile_id) - 1 AS INT) AS res,
               count(*) AS n_points
        FROM e JOIN zone z
          ON substr(e.cell_id, 1, CAST(length(z.tile_id) AS INT)) = z.tile_id
        GROUP BY z.tile_id
    """


def _catchment_golden():
    """Catchment WKT + 254-cell ground truth, vendored from the
    reference's published test expectations (expected values, not
    code) into the repo so the contract query has no runtime
    dependency on a reference checkout."""
    import json

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "rhealpixdggs_spark", "data", "catchment_12104622.json",
    )
    with open(path) as f:
        d = json.load(f)
    return [tuple(p) for p in d["polygon"]], d["cells"]


def _q_region_cover_planar(spark, sf_dir):
    """Distributed closed-form planar cover (operators/tiling.
    region_cover_df): spark.range over the corner cells' row/col spans
    + one planar-encode pass — no neighbor walk, scales to planet-size
    covers. Rows-only; pinned against the kernel matrix in
    tests/test_plan_shapes.py."""
    from rhealpixdggs_spark.operators.tiling import region_cover_df

    R = WGS84_003.R_A
    return region_cover_df(spark, 4, (-0.2 * R, 0.4 * R), (0.5 * R, -0.1 * R))


def _q_zone_from_poly(spark, sf_dir):
    """Distributed multi-resolution zone of the dart-reaching euro ring
    (zone_from_poly_df). The oracle is the REFERENCE EXECUTED on the
    same ring: conversion.CellZoneFromPoly (conversion.py:40-111) run
    once per res-0 face as bounding cell (the ring spans two faces,
    so no single bounding cell exists), vendored by
    tools/gen_reference_goldens.py; kernel-equality additionally
    pinned in tests/test_tiling_distributed.py."""
    from rhealpixdggs_spark.operators.tiling import zone_from_poly_df

    return zone_from_poly_df(
        spark, [(EURO_RING, [])], res_limit=3
    ).select("cell_id", F.col("res").cast("long").alias("res")).orderBy("cell_id")


def _q_linetrace(spark, sf_dir):
    """DISTRIBUTED linetrace (operators/tiling.linetrace_df) of a
    constant-latitude segment at res 3: in the equatorial band cell
    edges are meridians and authalic parallels, so the ellipsoidal
    walk (dggs.py:1096-1179) visits exactly the consecutive global
    columns of the row containing the latitude. The oracle re-derives
    that column walk with pure integer arithmetic between the two
    independently-encoded endpoints. The general multi-segment
    polyline (linetrace_many) is gated against a reference-executed
    golden."""
    from rhealpixdggs_spark.operators.tiling import linetrace_df

    seg = [(-19.9, 9.7), (40.1, 9.7)]
    lines = spark.createDataFrame(
        [(0, [{"lon": lo, "lat": la} for lo, la in seg])],
        "line_id int, line array<struct<lon: double, lat: double>>",
    )
    return linetrace_df(lines, 3, plane=False).select(
        F.col("seq").cast("int").alias("seq"), "cell_id"
    ).orderBy("seq")


def _q_neighbors(spark, sf_dir):
    """Ellipsoidal 4-neighborhood (cell.py:1347-1378): the quad-cell
    relabel (north=up, south=down, west=left, east=right) on
    equatorial-band res-2 cells away from the band's top/bottom rows,
    so every neighbor stays in the band and east/west wrap cyclically
    across the four equatorial faces. The oracle re-derives all four
    neighbors with pure integer row/global-column arithmetic + digit
    interleave — no projection involved. Polar relabels (cap, dart,
    skew quad) stay pinned by kernel-golden tests
    (tests/test_kernel_neighbors.py)."""
    from rhealpixdggs_spark.functions.udfs import rhp_neighbors

    res = 2
    side = 3**res
    row, _col = _row_col_cols(res)
    tiles = (
        _points(spark, sf_dir, "customer")
        .select(rhp_encode(F.col("lon"), F.col("lat"), res).alias("cell_id"))
        .distinct()
        .where(
            F.substring("cell_id", 1, 1).isin("O", "P", "Q", "R")
            & row.between(1, side - 2)
        )
    )
    nb = tiles.select(
        "cell_id", F.explode(rhp_neighbors(F.col("cell_id"), plane=False)).alias(
            "direction", "neighbor"
        )
    )
    return nb


def _row_col_cols(res: int):
    """row/col of a res-`res` suid as native column math (digit div/mod
    sums) — shared by the interior-cell filter."""
    row = F.lit(0)
    col = F.lit(0)
    for i in range(1, res + 1):
        d = F.substring("cell_id", i + 1, 1).cast("int")
        row = row + (d / 3).cast("int") * (3 ** (res - i))
        col = col + (d % 3) * (3 ** (res - i))
    return row, col


def _q_neighbors_interior(spark, sf_dir):
    """Planar 4-neighborhood (Cell.neighbor digit walk,
    cell.py:1224-1345) for face-interior res-3 cells, where the walk
    must equal rowcol +/- 1 — the SQL twin rebuilds neighbor suids from
    independent digit arithmetic. Border cells (face-crossing
    rotations) are covered by kernel tests against reference goldens."""
    from rhealpixdggs_spark.functions.udfs import rhp_neighbors

    res = 3
    side = 3**res
    cells = (
        _points(spark, sf_dir)
        .select(rhp_encode(F.col("lon"), F.col("lat"), res).alias("cell_id"))
        .distinct()
    )
    row, col = _row_col_cols(res)
    interior = cells.where(
        row.between(1, side - 2) & col.between(1, side - 2)
    )
    nb = rhp_neighbors(F.col("cell_id"), plane=True)
    return interior.select(
        "cell_id",
        nb["up"].alias("up"),
        nb["down"].alias("down"),
        nb["left"].alias("left"),
        nb["right"].alias("right"),
    )


def _q_streaming_window(spark, sf_dir):
    """Structured Streaming in the correctness gate: the events table
    replayed through a file-source stream, tumbling 1h window x
    event_type aggregation (complete mode, Trigger.AvailableNow) —
    output must equal the batch/DuckDB plan on the same rows."""
    import tempfile
    import uuid

    src = tempfile.mkdtemp(prefix="rhp_stream_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(static.schema).parquet(src)
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    name = "rhp_stream_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rhp_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


def _q_streaming_geo_counts(spark, sf_dir):
    """Structured Streaming x geospatial encode: the orders-derived
    points replayed through a file-source stream, res-3 rHEALPix
    encode INSIDE the stream (Arrow UDFs run per micro-batch), per-cell
    counts in complete mode under Trigger.AvailableNow — output must
    equal the batch/DuckDB plan on the same rows."""
    import tempfile
    import uuid

    src = tempfile.mkdtemp(prefix="rhp_stream_geo_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/orders.parquet"),
        os.path.join(src, "orders.parquet"),
    )
    static = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stream = spark.readStream.schema(static.schema).parquet(src)
    pts = stream.select(
        F.col("o_orderkey").alias("pid"),
        (((F.col("o_orderkey") * 9973) % 360000) / 1000.0 - 180.0).alias("lon"),
        (((F.col("o_orderkey") * 7919) % 178000) / 1000.0 - 89.0).alias("lat"),
    )
    enc = pts.withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 3))
    agg = enc.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    name = "rhp_stream_geo_" + uuid.uuid4().hex[:10]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rhp_sgc_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("cell_id", "n")


def _q_tpch_shipping_priority(spark, sf_dir):
    """TPC-H Q3 analogue: top-10 unshipped orders by revenue for one
    market segment."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    rev = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    ).alias("revenue")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(rev)
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


def _q_tpch_returned_items(spark, sf_dir):
    """TPC-H Q10 analogue: top-20 customers by returned-item revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.round(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
    ).alias("revenue")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev)
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def _q_linetrace_many(spark, sf_dir):
    """Distributed multi-segment linetrace: a deterministic fleet of
    40 three-point equatorial-band polylines (all coordinates exact
    doubles), walked in parallel across rows
    (operators/tiling.linetrace_df). The oracle is the REFERENCE
    EXECUTED on the same fleet: cells_from_line (dggs.py:1096-1179)
    per segment, concatenated with consecutive-duplicate removal
    (rhp_wrappers.py:602-674), vendored by
    tools/gen_reference_goldens.py."""
    from rhealpixdggs_spark.operators.tiling import linetrace_df

    lon0 = F.col("id") * 8.0 - 168.0
    lat0 = (F.col("id") * 7 % 61).cast("double") - 33.0
    lines = spark.range(40).select(
        F.col("id").cast("int").alias("line_id"),
        F.array(
            F.struct(lon0.alias("lon"), lat0.alias("lat")),
            F.struct((lon0 + 3.0).alias("lon"), (lat0 + 1.5).alias("lat")),
            F.struct((lon0 + 6.0).alias("lon"), (lat0 - 1.5).alias("lat")),
        ).alias("line"),
    )
    return linetrace_df(lines, res=3).select(
        "line_id", F.col("seq").cast("int").alias("seq"), "cell_id"
    )


def _q_hex7_cross_index(spark, sf_dir):
    """Triple cross-index: rHEALPix res-9 suid + S2 level-12 id +
    hex7 (H3-style aperture-7, kernel/hex7.py) res-9 id per point,
    rolled up per (rhp res-2 tile, hex7 res-2 parent). The hex7 parent
    is pure bitwise int64 column math (no Python). SQL-oracled since
    r4: the DuckDB twin re-derives the full gnomonic + GBT encode
    (oracle_sql.hex7_tokens_sql)."""
    from rhealpixdggs_spark.functions.hex7_udfs import (
        hex7_encode,
        hex7_parent,
        hex7_token,
    )

    pts = _points(spark, sf_dir)
    enc = pts.select(
        "pid",
        rhp_encode(F.col("lon"), F.col("lat"), 9).alias("cell_id"),
        hex7_encode(F.col("lon"), F.col("lat"), 9).alias("hex7_id"),
    )
    return enc.groupBy(
        F.substring("cell_id", 1, 3).alias("tile_id"),
        hex7_token(hex7_parent(F.col("hex7_id"), 2)).alias("hex7_l2"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _q_hex7_encode(spark, sf_dir):
    """Per-point hex7 encode: full res-9 packed-id token plus the
    exact aperture-7 res-2 parent token for a deterministic pid subset
    — the full-precision gate for kernel/hex7.py (icosahedral
    gnomonic, Eisenstein hex rounding, GBT digit peel, int64 pack),
    bit-exact against the pure-SQL recursive-CTE twin."""
    from rhealpixdggs_spark.functions.hex7_udfs import (
        hex7_encode,
        hex7_parent,
        hex7_token,
    )

    pts = _points(spark, sf_dir).where(F.col("pid") % 41 == 0)
    hid = hex7_encode(F.col("lon"), F.col("lat"), 9)
    return pts.select(
        "pid",
        hex7_token(hid).alias("hex7_tok"),
        hex7_token(hex7_parent(hid, 2)).alias("hex7_l2"),
    ).orderBy("pid")


def _q_hex7_compact(spark, sf_dir):
    """hex7 cell-set compaction (H3 compact twin, exact in GBT lattice
    space — operators/hex7_sets.py): three res-0 roots encoded from
    fixture customer points fan out to their 147 res-2 descendants via
    the bitwise children expression, a deterministic subset is dropped
    (roots 2-3 lose cells where id % 13 == 3), and the compactor must
    rebuild exactly the complete subtrees: root 1 collapses all the way
    back to res 0, the others to a mixed res-1/res-2 frontier. The
    DuckDB twin re-derives the roots with the pure-SQL hex7 encoder and
    unrolls both compaction levels as integer arithmetic on the packed
    id (digit slot = base-8 digit, res field = id // 2^58)."""
    from rhealpixdggs_spark.functions.hex7_udfs import (
        hex7_children,
        hex7_encode,
        hex7_resolution,
        hex7_token,
    )
    from rhealpixdggs_spark.operators.hex7_sets import hex7_compact

    pts = _points(spark, sf_dir, "customer").where(F.col("pid") <= 3)
    roots = pts.select(
        "pid", hex7_encode(F.col("lon"), F.col("lat"), 0).alias("cell")
    )
    l1 = roots.select(
        "pid", F.explode(hex7_children(F.col("cell"), 0)).alias("cell")
    )
    l2 = l1.select(
        "pid", F.explode(hex7_children(F.col("cell"), 1)).alias("cell")
    )
    kept = l2.where(
        (F.col("pid") == 1) | (F.col("cell") % 13 != 3)
    ).select("cell")
    comp = hex7_compact(kept, "cell")
    return comp.select(
        hex7_token(F.col("cell")).alias("hex7_tok"),
        hex7_resolution(F.col("cell")).cast("int").alias("res"),
    ).orderBy("hex7_tok")


_BM25_QUERY_TERMS = [
    ("q1", "scan"),
    ("q1", "filter"),
    ("q2", "join"),
    ("q2", "hash"),
    ("q2", "merge"),
    ("q3", "window"),
    ("q3", "stream"),
    ("q4", "sort"),
    ("q4", "order"),
    ("q4", "key"),
]


def _q_bm25_topk(spark, sf_dir):
    """BM25 top-10 per keyword query over the documents table
    (operators/ranking.py — Lucene-style positive idf; the retrieval
    step of a crawl-curation / RAG-indexing pipeline). Query terms are
    broadcast-semi-joined onto the exploded token stream BEFORE any
    shuffle, avgdl is an exact integer ratio, and scores round to 6
    decimals before ranking with a doc-id tie-break, so the top-k is
    bit-deterministic on both engines."""
    from rhealpixdggs_spark.operators.ranking import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id string, term string"
    )
    return bm25_topk(docs, qdf, k=10).orderBy("query_id", "rank")


def _q_cell_term_profile(spark, sf_dir):
    """Per-cell distinctive-term profile — the graft's two halves in
    one aggregate (operators/ranking.cell_term_profile): documents get
    deterministic synthetic coordinates (the shared integer-exact
    derivation, keyed on doc_id), encode to res-2 rHEALPix cells, and
    each cell ranks its terms by tf x idf over cells-as-documents.
    Bit-reproducible: integer tf/df, exact-ratio idf with the same
    IEEE expression tree in the DuckDB twin, score rounded to 6
    decimals before ranking, term tie-break."""
    from rhealpixdggs_spark.operators.ranking import cell_term_profile

    docs = _t(spark, sf_dir, "documents")
    enc = docs.select(
        rhp_encode(
            (((F.col("doc_id") * 9973) % 360000) / 1000.0 - 180.0),
            (((F.col("doc_id") * 7919) % 178000) / 1000.0 - 89.0),
            2,
        ).alias("tile_id"),
        "text",
    )
    return cell_term_profile(enc, k=5).orderBy("tile_id", "rank")


def _q_sessionize(spark, sf_dir):
    """Sessionization over the events stream table: a session breaks
    after a 30-minute gap per user (lag + running sum of
    session-start flags + per-session aggregate)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn("ns", new_sess).withColumn("session_id", F.sum("ns").over(run))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _q_value_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (Spark
    `percentile` == DuckDB `quantile_cont`); the sketch-based
    approx path (approx_count_distinct / approx_percentile) runs in
    the pages pipeline where exactness is traded for one pass."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def _q_streaming_dedup(spark, sf_dir):
    """Exact streaming dedup via applyInPandasWithState
    (streaming/stateful.py): the documents table (with planted
    byte-identical copies) replayed as a file stream; one row per
    distinct fingerprint survives. The batch oracle is DISTINCT
    (md5(text), lang) — copies share both, so the first-seen row is
    order-independent."""
    import tempfile
    import uuid

    from rhealpixdggs_spark.streaming.stateful import streaming_first_seen_dedup

    docs = _docs_with_dups(spark, sf_dir).join(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "doc_id",
        "left",
    )
    # planted copies (doc_id >= 100000) inherit the original's lang
    src_df = docs.withColumn(
        "lang",
        F.coalesce(
            F.col("lang"),
            F.first("lang").over(Window.partitionBy(F.md5("text"))),
        ),
    ).select(F.md5("text").alias("fp"), "lang")
    src_dir = tempfile.mkdtemp(prefix="rhp_sdedup_src_")
    src_df.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("fp string, lang string").parquet(src_dir)
    out = streaming_first_seen_dedup(stream, key_col="fp", keep_cols=("lang",))
    name = "rhp_sdedup_" + uuid.uuid4().hex[:10]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="rhp_sdedup_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("fp", "lang")


def _q_multimodal_features(spark, sf_dir):
    """Opaque binary payloads -> byte features via Arrow mapInPandas
    (multimodal plumbing; codec stubbed per environment)."""
    from rhealpixdggs_spark.operators.multimodal import attach_payload, byte_features

    media = attach_payload(_t(spark, sf_dir, "documents"))
    feats = byte_features(media)
    return feats.select(
        "doc_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte"), "first_byte"
    )


def _q_frame_sample(spark, sf_dir):
    from rhealpixdggs_spark.operators.multimodal import attach_payload, sample_frames

    media = attach_payload(_t(spark, sf_dir, "documents"))
    frames = sample_frames(media, frame_size=16, every_k=3)
    return frames.select("doc_id", "frame_idx", "frame_len", "frame_sum")


def _q_image_decode(spark, sf_dir):
    """REAL image decode (round 4, VERDICT item 1c): binary P6 PPM
    payloads built by multimodal.encode_ppm (pixel k of doc d is
    (d*31 + 7k) mod 256; every 5th header carries a comment line) are
    parsed back by the pure-NumPy PPM decoder. Header width/height and
    the exact integer-sum mean pixel are gated against a DuckDB
    byte-math oracle that re-derives the image from doc_id alone."""
    from rhealpixdggs_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_image,
    )

    media = attach_ppm_payload(_t(spark, sf_dir, "documents"))
    out = decode_image(media)
    return out.select(
        "doc_id", "width", "height", "mean_px", "decoded_by"
    ).orderBy("doc_id")


# Seeds at cube corners: their k=3 disks span 3+ faces — exactly the
# configuration the reference's cell_ring walk documents as incomplete.
_KDISK_SEEDS = ["N00", "N88", "S00", "S88", "O00", "Q44"]


def _q_kdisk_multiface(spark, sf_dir):
    """Graph-distance-3 disks from cube-corner seeds via
    operators/joins.k_disk_graph — the multi-face-correct disk the
    reference's cell_ring cannot produce (its documented >2-face
    incompleteness, rhp_wrappers.py:37). Oracle: recursive-CTE BFS
    over the reference-EXECUTED neighbors_all edge relation (every
    res-2 cell's ellipsoidal neighbor dict), so the disk definition is
    anchored to reference-verified edges."""
    from rhealpixdggs_spark.operators.joins import k_disk_graph

    seeds = spark.createDataFrame(
        [(c,) for c in _KDISK_SEEDS], "cell_id string"
    )
    return k_disk_graph(seeds, 3).orderBy("seed", "cell_id")


def _kdisk_multiface_oracle_sql() -> str:
    rows = _ref_goldens()["neighbors_all"]["rows"]
    edges = ", ".join(f"('{s}', '{n}')" for s, _d, n in rows)
    seeds = ", ".join(f"('{c}')" for c in _KDISK_SEEDS)
    return f"""
        WITH RECURSIVE e(cell_id, nb) AS (VALUES {edges}),
        seeds(seed) AS (VALUES {seeds}),
        bfs(seed, cell_id, dist) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION ALL
          SELECT b.seed, e.nb, b.dist + 1
          FROM bfs b JOIN e ON e.cell_id = b.cell_id
          WHERE b.dist < 3
        )
        SELECT seed, cell_id, MIN(dist) AS dist
        FROM bfs GROUP BY seed, cell_id
        ORDER BY seed, cell_id
    """


_HEX7_KDISK_K = 3


def _hex7_kdisk_seeds() -> list[int]:
    """Deterministic res-2 hex7 seeds at the three places cross-face
    adjacency matters: an icosahedron VERTEX (5 faces meet), an EDGE
    midpoint (2 faces), and a face CENTER (interior control). Derived
    from the kernel's own computed geometry — no tabulated ids."""
    import numpy as np

    from rhealpixdggs_spark.kernel import hex7 as H

    pts = [H.VERTS[0]]
    m = (H.VERTS[H.FACES[0][0]] + H.VERTS[H.FACES[0][1]]) / 2.0
    pts.append(m / np.linalg.norm(m))
    pts.append(H.FACE_N[7])
    pts = np.asarray(pts)
    lat = np.degrees(np.arcsin(np.clip(pts[:, 2], -1, 1)))
    lon = np.degrees(np.arctan2(pts[:, 1], pts[:, 0]))
    return [int(c) for c in H.encode(lon, lat, 2)]


def _q_hex7_kdisk(spark, sf_dir):
    """Graph-distance-3 hex7 disks from vertex/edge/center seeds via
    operators/joins.hex7_k_disk — the cross-face disk the face-local
    kernel k_ring cannot produce (VERDICT r4 item 5, the hex7 twin of
    kdisk_multiface). Oracle: recursive-CTE BFS over the kernel-
    exported forward edge list, so the distributed BFS machinery is
    gated against an independent SQL traversal of the same relation."""
    from rhealpixdggs_spark.operators.joins import hex7_k_disk

    seeds = spark.createDataFrame(
        [(c,) for c in _hex7_kdisk_seeds()], "cell_id long"
    )
    return hex7_k_disk(seeds, _HEX7_KDISK_K).orderBy("seed", "cell_id")


def _hex7_kdisk_oracle_sql() -> str:
    """Forward-BFS closure computed with the NumPy kernel (edges out
    of every cell within k-1 steps of any seed), exported as VALUES;
    DuckDB recursively traverses them per seed."""
    import numpy as np

    from rhealpixdggs_spark.kernel import hex7 as H

    seeds = _hex7_kdisk_seeds()
    k = _HEX7_KDISK_K
    frontier, visited = set(seeds), set(seeds)
    edges: set[tuple[int, int]] = set()
    for _ in range(k):
        fr = np.array(sorted(frontier), dtype=np.int64)
        nbs = H.neighbors(fr)
        nxt: set[int] = set()
        for i in range(fr.shape[0]):
            src = int(fr[i])
            for nb in nbs[i]:
                edges.add((src, int(nb)))
                nxt.add(int(nb))
        frontier = nxt - visited
        visited |= nxt
    ev = ", ".join(f"({a}, {b})" for a, b in sorted(edges))
    sv = ", ".join(f"({c})" for c in seeds)
    return f"""
        WITH RECURSIVE e(cell_id, nb) AS (VALUES {ev}),
        seeds(seed) AS (VALUES {sv}),
        bfs(seed, cell_id, dist) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION ALL
          SELECT b.seed, e.nb, b.dist + 1
          FROM bfs b JOIN e ON e.cell_id = b.cell_id
          WHERE b.dist < {k}
        )
        SELECT seed, cell_id, MIN(dist) AS dist
        FROM bfs GROUP BY seed, cell_id
        ORDER BY seed, cell_id
    """


def _q_url_canonical(spark, sf_dir):
    """URL canonicalization (functions/urls.py — pure column
    expressions, map-only): deterministic messy URLs synthesized per
    doc_id exercise every rule (uppercase scheme/host, userinfo
    credentials, default vs non-default ports, empty paths, utm_*
    params, unsorted params, fragments), then canonical form + host
    rollup key. Oracle re-derives the rules with DuckDB regexp/list
    functions."""
    from rhealpixdggs_spark.functions.urls import canonical_url, url_host

    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(d % 11 == 0, F.lit("User:Pw@")).otherwise(F.lit("")),
        F.lit("Site"), (d % 37).cast("string"), F.lit(".Example.COM"),
        F.when(d % 3 == 0, F.lit(":443"))
        .when(d % 3 == 1, F.lit(":8443"))
        .otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/P/"), d.cast("string"))
        ),
        F.lit("?utm_source=x&b="), (d % 7).cast("string"),
        F.when(d % 2 == 0, F.lit("&a=1")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#Frag")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        canonical_url(url).alias("canon"),
        url_host(url).alias("host"),
    ).orderBy("doc_id")


def _url_canonical_oracle_sql() -> str:
    return r"""
        WITH u AS (
          SELECT doc_id,
            'HTTPS://'
            || CASE WHEN doc_id % 11 = 0 THEN 'User:Pw@' ELSE '' END
            || 'Site' || (doc_id % 37) || '.Example.COM'
            || CASE doc_id % 3 WHEN 0 THEN ':443' WHEN 1 THEN ':8443'
               ELSE '' END
            || CASE WHEN doc_id % 4 = 0 THEN '' ELSE '/P/' || doc_id END
            || '?utm_source=x&b=' || (doc_id % 7)
            || CASE WHEN doc_id % 2 = 0 THEN '&a=1' ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END AS url
          FROM documents),
        p AS (
          SELECT doc_id,
            lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS scheme,
            regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u)),
        q AS (
          SELECT doc_id, scheme,
            lower(regexp_extract(hp, '^([^:]*)', 1)) AS host,
            regexp_extract(hp, ':([0-9]+)$', 1) AS port,
            regexp_replace(rest, '^[^/?]*', '') AS pathq
          FROM (SELECT doc_id, scheme, rest,
                       regexp_replace(
                         regexp_extract(rest, '^([^/?]*)', 1),
                         '^[^@]*@', '') AS hp FROM p)),
        r AS (
          SELECT doc_id, scheme, host, port,
            CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
                 ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS path,
            regexp_extract(pathq, '\?(.*)$', 1) AS qs
          FROM q),
        s AS (
          SELECT *, array_to_string(list_sort(list_filter(
                   string_split(qs, '&'),
                   x -> NOT starts_with(x, 'utm_') AND x <> '')), '&')
                 AS qsort
          FROM r)
        SELECT doc_id,
          scheme || '://' || host
          || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443')
             THEN '' ELSE ':' || port END
          || path
          || CASE WHEN qsort = '' THEN '' ELSE '?' || qsort END AS canon,
          host
        FROM s ORDER BY doc_id
    """


def _q_image_resize(spark, sf_dir):
    """REAL image resize (round 4): PPM payloads resampled to 8x6 with
    the pure-NumPy nearest-neighbor path (resize_ppm), then decoded
    back — resized dims and the exact mean pixel gate the whole
    encode -> resize -> decode loop against a DuckDB byte-math oracle
    (resized pixel (r,c,ch) = source pixel ((r*sh)//6, (c*sw)//8, ch),
    all pure functions of doc_id)."""
    from rhealpixdggs_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_image,
        resize_image,
    )

    media = attach_ppm_payload(_t(spark, sf_dir, "documents"))
    resized = resize_image(media, 8, 6)
    out = decode_image(
        resized.withColumn(
            "meta",
            F.struct(
                F.col("width"), F.col("height"),
                F.lit(1).alias("n_frames"), F.lit(0).alias("sample_rate"),
            ),
        )
    )
    return out.select(
        "doc_id", "width", "height", "mean_px", "decoded_by"
    ).orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract queries. ORDER MATTERS: the driver's correctness gate
    checks the first 50 entries only. INVARIANT: positions 1-50 are
    all oracle-backed; queries ROTATE through the window across rounds
    (out only after >=2 green driver rounds; every new oracle enters
    the round it lands), so each accumulates driver-green evidence.
    Per-round rotation history lives in FIXTURES.md section 5. The 51+
    tail (all previously driver-green) stays value-checked every run
    by tests/test_entry_contract.py and tools/zero_tolerance_audit.py.
    Round 5: IN near_dup_lsh + ann_recall + hex7_kdisk + polyfill_eq_df
    + polygon_join_df + zone_tiles_df + hex7_compact + bm25_topk +
    semantic_dedup + ivf_train_assign + quality_score +
    geohash_cross_index + vocab_estimate + streaming_curation +
    range_join + quadkey_cross_index + pagerank + interval_join +
    heavy_hitters + streaming_interval_join + cell_term_profile
    (region_cover_ell, green r2+r3, rotates to the 51+ tail for it);
    OUT fourteen r3+r4
    double-greens (curation_pipeline, doc_chunks, near_dedup_keep,
    pii_redaction, decontamination, repetition_signals, corpus_sample,
    dedup_components, source_rollup, span_dedup, zone_union,
    zone_intersect, asof_attribution, linetrace), two multi-green
    r2-era entries (streaming_geo_counts, lsh_cosine_topk), and four
    r3+r4 double-greens (ivf_topk, zone_assign, linetrace_dateline,
    shape_all)."""
    return {
        # -- 1-50: oracle-backed, inside the driver's correctness window
        "cell_geometry": _q_cell_geometry,
        "region_cover": _q_region_cover,
        "zone_from_poly": _q_zone_from_poly,
        "kring_interior": _q_kring_interior,
        "linetrace_many": _q_linetrace_many,
        "ivf_train_assign": _q_ivf_train_assign,
        "range_join": _q_range_join,
        "quadkey_cross_index": _q_quadkey_cross_index,
        "neighbors": _q_neighbors,
        "neighbors_all": _q_neighbors_all,
        "vocab_estimate": _q_vocab_estimate,
        "pagerank": _q_pagerank,
        "decode_all": _q_decode_all,
        "streaming_curation": _q_streaming_curation,
        "quality_score": _q_quality_score,
        "geohash_cross_index": _q_geohash_cross_index,
        "polyfill": _q_polyfill,
        "polyfill_dateline": _q_polyfill_dateline,
        "kring_sizes": _q_kring_sizes,
        "semantic_dedup": _q_semantic_dedup,
        "url_canonical": _q_url_canonical,
        "cell_term_profile": _q_cell_term_profile,
        "ann_quantized": _q_ann_quantized,
        "near_dup_lsh": _q_near_dup_lsh,
        "ann_recall": _q_ann_recall,
        "polyfill_eq": _q_polyfill_eq,
        "zone_catchment": _q_zone_catchment,
        "zone_tiles_df": _q_zone_tiles_df,
        "interval_join": _q_interval_join,
        "zone_subtract": _q_zone_subtract,
        "polygon_join": _q_polygon_join,
        "polygon_join_df": _q_polygon_join_df,
        "raster_to_vector": _q_raster_to_vector,
        "zone_dateline": _q_zone_dateline,
        "kdisk_multiface": _q_kdisk_multiface,
        "hex7_kdisk": _q_hex7_kdisk,
        "s2_cross_index": _q_s2_cross_index,
        "s2_encode": _q_s2_encode,
        "hex7_cross_index": _q_hex7_cross_index,
        "hex7_encode": _q_hex7_encode,
        "image_decode": _q_image_decode,
        "image_resize": _q_image_resize,
        "zone_xor": _q_zone_xor,
        "polyfill_cap": _q_polyfill_cap,
        "heavy_hitters": _q_heavy_hitters,
        "streaming_interval_join": _q_streaming_interval_join,
        "hex7_compact": _q_hex7_compact,
        "bm25_topk": _q_bm25_topk,
        "asof_bucketed_auto": _q_asof_bucketed_auto,
        "polyfill_eq_df": _q_polyfill_eq_df,
        # -- 51+: oracle-backed overflow, every entry driver-green in a
        # prior round (rotation ledger: FIXTURES.md section 5)
        "region_cover_ell": _q_region_cover_ell,
        "ivf_topk": _q_ivf_topk,
        "zone_assign": _q_zone_assign,
        "linetrace_dateline": _q_linetrace_dateline,
        "shape_all": _q_shape_all,
        "streaming_geo_counts": _q_streaming_geo_counts,
        "lsh_cosine_topk": _q_lsh_cosine_topk,
        "linetrace": _q_linetrace,
        "asof_attribution": _q_asof_attribution,
        "zone_union": _q_zone_union,
        "zone_intersect": _q_zone_intersect,
        "span_dedup": _q_span_dedup,
        "source_rollup": _q_source_rollup,
        "corpus_sample": _q_corpus_sample,
        "dedup_components": _q_dedup_components,
        "repetition_signals": _q_repetition_signals,
        "decontamination": _q_decontamination,
        "curation_pipeline": _q_curation_pipeline,
        "doc_chunks": _q_doc_chunks,
        "near_dedup_keep": _q_near_dedup_keep,
        "pii_redaction": _q_pii_redaction,
        "salted_cell_agg": _q_salted_cell_agg,
        "tpch_pricing": _q_tpch_pricing,
        "neighbors_interior": _q_neighbors_interior,
        "region_cover_planar": _q_region_cover_planar,
        "minhash_sig": _q_minhash_sig,
        "simhash": _q_simhash,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "ngram_jaccard": _q_ngram_jaccard,
        "dedup_groups": _q_dedup_groups,
        "near_dup_embeddings": _q_near_dup_embeddings,
        "streaming_dedup": _q_streaming_dedup,
        "encode_points_res9": _q_encode_res9,
        "parent_rollup": _q_parent_rollup,
        "containment_join": _q_containment_join,
        "cell_from_region": _q_cell_from_region,
        "grid_res3": _q_grid_res3,
        "knn_adaptive": _q_knn_adaptive,
        "cell_centroid_quads": _q_cell_centroid_quads,
        "minimal_cover": _q_minimal_cover,
        "subcells": _q_subcells,
        "compress_cells": _q_compress_cells,
        "pip_polygon": _q_pip_polygon,
        "vector_to_raster": _q_vector_to_raster,
        "cosine_topk": _q_cosine_topk,
        "lang_quality": _q_lang_quality,
        "cell_nucleus": _q_cell_nucleus,
        "cell_xy_range": _q_cell_xy_range,
        "revenue_by_nation": _q_revenue_by_nation,
        "tpch_shipping_priority": _q_tpch_shipping_priority,
        "value_quantiles": _q_value_quantiles,
        "sessionize": _q_sessionize,
        "streaming_window": _q_streaming_window,
        "frame_sample": _q_frame_sample,
        "multimodal_features": _q_multimodal_features,
        "cell_boundary_quads": _q_cell_boundary_quads,
        "doc_fingerprint": _q_doc_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "token_stats": _q_token_stats,
        "embedding_norms": _q_embedding_norms,
        "events_window": _q_events_window,
        "tpch_returned_items": _q_tpch_returned_items,
        "knn_brute": _q_knn_brute,
        "cell_metrics": _q_cell_metrics,
        "topk_cells": _q_topk_cells,
        "encode_cells_res5": _q_encode_cells,
        "knn_rings": _q_knn_rings,
        "hierarchy_ops": _q_hierarchy_ops,
        "containment_packed": _q_containment_packed,
        "interval_scan": _q_interval,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_TOKENIZE = r"string_split_regex(trim(text), '\s+')"
_TOKENIZE_LOWER = r"string_split_regex(lower(trim(text)), '\s+')"

# word 3-grams over pre-split `toks`/`cnt` columns; documents shorter
# than 3 tokens collapse to a single full-text gram (word_ngrams twin).
_GRAMS3 = (
    "CASE WHEN cnt < 3 THEN [array_to_string(toks, ' ')] "
    "ELSE list_transform(range(cnt - 2), "
    "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END"
)

# planted byte-identical duplicates (twin of _docs_with_dups)
_DOCS_WITH_DUPS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text "
    "FROM documents WHERE doc_id % 5 = 0"
)


def _grams_sql(n: int) -> str:
    """DuckDB word n-gram builder over pre-split `toks`/`cnt` columns
    (generalizes _GRAMS3; same short-document full-text collapse as
    text.word_ngrams)."""
    join = " || ' ' || ".join(f"toks[i+{k}]" for k in range(1, n + 1))
    return (
        f"CASE WHEN cnt < {n} THEN [array_to_string(toks, ' ')] "
        f"ELSE list_transform(range(cnt - {n - 1}), i -> {join}) END"
    )


def _repetition_signals_oracle_sql(
    src: str = "SELECT * FROM documents",
) -> str:
    """Twin of _q_repetition_signals: per-doc gram frequency via
    unnest+GROUP BY, coverage = occurrences x gram length; BIGINT casts
    kill DuckDB's HUGEINT sum widening before the double division.
    ``src`` lets composites (curation_pipeline) run the same signals
    over a derived doc set."""
    stats = """
        SELECT doc_id, CAST(max(cnt * len) AS BIGINT) AS top,
               CAST(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END)
                    AS BIGINT) AS dup,
               CAST(sum(cnt * len) AS BIGINT) AS total
        FROM (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS len
              FROM (SELECT doc_id, unnest({col}) AS gram FROM g)
              GROUP BY doc_id, gram)
        GROUP BY doc_id
    """

    def frac(num: str, alias: str) -> str:
        return (
            f"CASE WHEN s{alias[3]}.total = 0 THEN 0.0 "
            f"ELSE round(s{alias[3]}.{num} / s{alias[3]}.total, 6) + 0.0 "
            f"END AS {alias}"
        )

    return f"""
        WITH t AS (
          SELECT doc_id, {_TOKENIZE_LOWER} AS toks,
                 len({_TOKENIZE_LOWER}) AS cnt
          FROM ({src})),
        g AS (SELECT doc_id, {_grams_sql(2)} AS g2, {_grams_sql(3)} AS g3
              FROM t),
        s2 AS ({stats.format(col="g2")}),
        s3 AS ({stats.format(col="g3")})
        SELECT g.doc_id,
               {frac("top", "top2_frac")}, {frac("dup", "dup2_frac")},
               {frac("top", "top3_frac")}, {frac("dup", "dup3_frac")},
               CAST(CASE WHEN (CASE WHEN s2.total = 0 THEN 0.0
                               ELSE round(s2.top / s2.total, 6) END) <= 0.08
                          AND (CASE WHEN s2.total = 0 THEN 0.0
                               ELSE round(s2.dup / s2.total, 6) END) <= 0.12
                    THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM g
        JOIN s2 ON s2.doc_id = g.doc_id
        JOIN s3 ON s3.doc_id = g.doc_id
    """


def _curation_pipeline_oracle_sql(ntok: str, quality: str) -> str:
    """Twin of _q_curation_pipeline: same dup-planted input, same
    stage order (quality+repetition filters -> min-doc_id exact dedup
    -> per-lang hash sample -> lang rollup), each stage re-derived in
    ANSI SQL from the already-oracled fragments."""
    inp = (
        "SELECT doc_id, text, lang FROM documents "
        "UNION ALL SELECT doc_id + 100000 AS doc_id, text, lang "
        "FROM documents WHERE doc_id % 5 = 0"
    )
    return f"""
        WITH rep AS ({_repetition_signals_oracle_sql(inp)}),
        base AS ({inp}),
        q AS (SELECT base.doc_id, base.lang, base.text,
                     {ntok} AS ntok, {quality} AS q
              FROM base),
        f AS (SELECT q.doc_id, q.lang, q.text, q.ntok FROM q
              JOIN rep ON rep.doc_id = q.doc_id
              WHERE rep.keep = 1 AND q.q >= 0.5),
        d AS (SELECT doc_id, lang, ntok,
                row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
              FROM f),
        s AS (SELECT doc_id, lang, ntok FROM d
              WHERE rn = 1
                AND {_md5h_sql("'sample|' || CAST(doc_id AS VARCHAR)")}
                    % 1000000
                    < CASE lang WHEN 'en' THEN 800000
                                WHEN 'de' THEN 500000
                                WHEN 'fr' THEN 250000
                                WHEN 'es' THEN 100000
                                ELSE 50000 END)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens
        FROM s GROUP BY lang
    """


def _pii_redaction_oracle_sql() -> str:
    """Twin of _q_pii_redaction: same planted PII, same sequential
    scrub order (email -> phone -> ipv4), counts via
    regexp_extract_all on the not-yet-scrubbed stage. Patterns live in
    functions/text.PII_PATTERNS and are restricted to the Java/RE2
    common subset so both engines match identically; DuckDB needs the
    explicit 'g' flag to match Spark's global regexp_replace."""
    from rhealpixdggs_spark.functions.text import PII_PATTERNS

    pats = {name: (pat, repl) for name, pat, repl in PII_PATTERNS}
    em, emr = pats["email"]
    ph, phr = pats["phone"]
    ip, ipr = pats["ipv4"]
    return f"""
        WITH p AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call +1 555 00'
              || CAST(doc_id AS VARCHAR)
              || CASE WHEN doc_id % 3 = 0 THEN ' from 192.168.0.1'
                      ELSE '' END AS t0
          FROM documents),
        s1 AS (SELECT doc_id, t0,
                 regexp_replace(t0, '{em}', '{emr}', 'g') AS t1 FROM p),
        s2 AS (SELECT doc_id, t0, t1,
                 regexp_replace(t1, '{ph}', '{phr}', 'g') AS t2 FROM s1)
        SELECT doc_id,
          md5(regexp_replace(t2, '{ip}', '{ipr}', 'g')) AS redacted_fp,
          len(regexp_extract_all(t0, '{em}')) AS n_email,
          len(regexp_extract_all(t1, '{ph}')) AS n_phone,
          len(regexp_extract_all(t2, '{ip}')) AS n_ipv4
        FROM s2
    """


def _md5h_sql(expr: str) -> str:
    """DuckDB twin of dedup.md5_hash64: top 15 md5 hex chars, base-16."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _minhash_sig_sql(src_sql: str, num_hashes: int) -> str:
    """DuckDB twin of minhash_signatures(hash_fn='md5'): distinct word
    3-gram shingles -> portable hash -> (a*h+b) % P minima with the
    same seed-42 coefficient family."""
    import random

    rnd = random.Random(42)
    coeffs = [
        (rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
        WITH mh_src AS MATERIALIZED ({src_sql}),
        mh_t AS (SELECT doc_id, {_TOKENIZE_LOWER} AS toks,
                        len({_TOKENIZE_LOWER}) AS cnt FROM mh_src),
        mh_g AS (SELECT doc_id, unnest(list_distinct({_GRAMS3})) AS s FROM mh_t),
        mh_h AS (SELECT doc_id, {_md5h_sql('s')} % {MINHASH_P} AS h FROM mh_g)
        SELECT doc_id, {mins} FROM mh_h GROUP BY doc_id
    """


def _minhash_lsh_pairs_sql(num_hashes: int = 16, bands: int = 8) -> str:
    """DuckDB twin of minhash_lsh_candidates(hash_fn='md5') over the
    planted-dup documents: band the signature, hash each band, self-join
    on (band, band_hash)."""
    rpb = num_hashes // bands
    selects = []
    for b in range(bands):
        cat = " || '|' || ".join(
            f"CAST(mh_{b * rpb + r} AS VARCHAR)" for r in range(rpb)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band, {_md5h_sql(cat)} AS bh FROM sig"
        )
    buckets = " UNION ALL ".join(selects)
    return f"""
        WITH sig AS MATERIALIZED (
            {_minhash_sig_sql(_DOCS_WITH_DUPS_SQL, num_hashes)}),
        buckets AS MATERIALIZED ({buckets})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """


def _simhash_sql(src_sql: str, bits: int = 32) -> str:
    """DuckDB twin of simhash(hash_fn='md5'): per-token portable hash,
    +/-1 votes per bit, sign -> bit."""
    votes = ", ".join(
        f"sum(CASE WHEN (h & {1 << i}) <> 0 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    recompose = " + ".join(
        f"CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
        WITH sh_src AS MATERIALIZED ({src_sql}),
        sh_t AS (SELECT doc_id, unnest({_TOKENIZE_LOWER}) AS tok FROM sh_src),
        sh_h AS (SELECT doc_id, {_md5h_sql('tok')} AS h FROM sh_t),
        sh_v AS (SELECT doc_id, {votes} FROM sh_h GROUP BY doc_id)
        SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM sh_v
    """


def _simhash_pairs_sql(
    bits: int = 32, blocks: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB twin of simhash_near_pairs(hash_fn='md5'): pigeonhole
    block equi-join + bit_count Hamming verify."""
    width = bits // blocks
    mask = (1 << width) - 1
    return f"""
        WITH sig AS MATERIALIZED ({_simhash_sql(_DOCS_WITH_DUPS_SQL, bits)}),
        k AS (SELECT doc_id, simhash, i AS blk,
                     (simhash >> CAST(i * {width} AS INT)) & {mask} AS bv
              FROM sig, range({blocks}) r(i))
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM k a JOIN k b
          ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _stop_hits(words):
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return (
        f"len(list_filter({_TOKENIZE_LOWER}, t -> list_contains({lst}, t)))"
    )


def _knn_sql():
    from rhealpixdggs_spark.kernel.constants import WGS84_003 as cfg

    a, e2 = cfg.a, cfg.e**2
    vals = ", ".join(f"({i}, {lo}, {la})" for i, lo, la in KNN_QUERIES)

    def xyz(lon, lat, p):
        return (
            f"{a!r}/sqrt(1 - {e2!r}*power(sin(radians({lat})), 2)) AS n_{p}, "
            f"radians({lon}) AS lam_{p}, radians({lat}) AS phi_{p}"
        )

    return f"""
WITH pts AS ({ORDERS_POINTS_SQL}),
q(query_id, q_lon, q_lat) AS (VALUES {vals}),
xy AS (
  SELECT q.query_id, pts.pid,
    {xyz('pts.lon', 'pts.lat', 'p')},
    {xyz('q.q_lon', 'q.q_lat', 'q')}
  FROM pts, q),
d AS (
  SELECT query_id, pid,
    power(n_p*cos(lam_p)*cos(phi_p) - n_q*cos(lam_q)*cos(phi_q), 2)
  + power(n_p*sin(lam_p)*cos(phi_p) - n_q*sin(lam_q)*cos(phi_q), 2)
  + power(n_p*(1-{e2!r})*sin(phi_p) - n_q*(1-{e2!r})*sin(phi_q), 2) AS dist2
  FROM xy)
SELECT query_id, pid, rnk FROM (
  SELECT query_id, pid,
         row_number() OVER (PARTITION BY query_id ORDER BY dist2, pid) AS rnk
  FROM d) WHERE rnk <= 5
"""


def _range_sql():
    """Brute-force twin of range_join_rings: ALL pairs, identical IEEE
    chord-distance tree (same as _knn_sql), threshold filter. The
    Spark side only ever sees k_ring candidates — a hash match proves
    the cover is a true superset."""
    from rhealpixdggs_spark.kernel.constants import WGS84_003 as cfg

    a, e2 = cfg.a, cfg.e**2
    vals = ", ".join(f"({i}, {lo}, {la})" for i, lo, la in RANGE_QUERIES)

    def xyz(lon, lat, p):
        return (
            f"{a!r}/sqrt(1 - {e2!r}*power(sin(radians({lat})), 2)) AS n_{p}, "
            f"radians({lon}) AS lam_{p}, radians({lat}) AS phi_{p}"
        )

    return f"""
WITH pts AS ({ORDERS_POINTS_SQL}),
q(query_id, q_lon, q_lat) AS (VALUES {vals}),
xy AS (
  SELECT q.query_id, pts.pid,
    {xyz('pts.lon', 'pts.lat', 'p')},
    {xyz('q.q_lon', 'q.q_lat', 'q')}
  FROM pts, q),
d AS (
  SELECT query_id, pid,
    power(n_p*cos(lam_p)*cos(phi_p) - n_q*cos(lam_q)*cos(phi_q), 2)
  + power(n_p*sin(lam_p)*cos(phi_p) - n_q*sin(lam_q)*cos(phi_q), 2)
  + power(n_p*(1-{e2!r})*sin(phi_p) - n_q*(1-{e2!r})*sin(phi_q), 2) AS dist2
  FROM xy)
SELECT query_id, pid FROM d WHERE dist2 <= {RANGE_RADIUS_M ** 2!r}
"""


def _compress_sql(base_cells_sql: str, passes: int = 3) -> str:
    """DuckDB twin of compress_cells_df: iterative complete-sibling
    merge, one CTE per pass (fixpoint within `passes` levels)."""
    sql = f"WITH c0 AS MATERIALIZED ({base_cells_sql})"
    cur = "c0"
    for i in range(1, passes + 1):
        sql += f""",
p{i} AS (SELECT substr(cell_id, 1, length(cell_id)-1) AS parent
         FROM {cur} WHERE length(cell_id) > 1
         GROUP BY 1 HAVING count(*) = 9),
c{i} AS MATERIALIZED (SELECT cell_id FROM {cur}
         WHERE length(cell_id) <= 1
            OR substr(cell_id, 1, length(cell_id)-1) NOT IN (SELECT parent FROM p{i})
         UNION ALL SELECT parent AS cell_id FROM p{i})"""
        cur = f"c{i}"
    return sql + f" SELECT cell_id FROM {cur}"


def _cover_rows_cols(res, ul, dr):
    """Plain-arithmetic replication of the nucleus-row lattice
    (dggs.py:909-1004) and the parallel column span (dggs.py:1060-1094)
    for an equatorial-band lon-lat quad — the oracle's independent
    derivation of the cover's row/column structure. Returns
    (rows [(row_i, nucleus_Y)], c0, ncols, w)."""
    import math

    from rhealpixdggs_spark.oracle_sql import _series_coeffs

    R = WGS84_003.R_A
    w = WGS84_003.cell_width(res)
    c2, c4, c6, c8, c10, c12 = _series_coeffs(WGS84_003.e)

    def y_of(lat):
        phi = math.radians(lat)
        beta = phi + (
            c2 * math.sin(2 * phi)
            + c4 * math.sin(4 * phi)
            + c6 * math.sin(6 * phi)
            + c8 * math.sin(8 * phi)
            + c10 * math.sin(10 * phi)
            + c12 * math.sin(12 * phi)
        )
        assert abs(beta) <= math.asin(2.0 / 3), "equatorial-band oracle only"
        y38 = 3 * math.pi / 8
        return R * (y38 * math.sin(beta))

    y_min, y_max = y_of(dr[1]), y_of(ul[1])
    y = -R * math.pi / 2 + w
    if y <= y_min:
        y = max(y + int(math.ceil((y_min - y) / w)) * w, y + w)
    ys = []
    while y < y_max:
        ys.append(y)
        y += w

    def grow(yv):  # global planar row index, north -> south
        return int(math.floor((R * 3 * math.pi / 4 - yv) / w))

    rows = [(len(ys) - 1 - k, yv) for k, yv in enumerate(ys)]
    off = 0
    if not ys or grow(y_max) != grow(ys[-1]):
        off = 1
        rows = [(ri + 1, yv) for ri, yv in rows]
        rows.insert(0, (0, R * 3 * math.pi / 4 - (grow(y_max) + 0.5) * w))
    if not ys or grow(y_min) != grow(ys[0]):
        rows.append((len(ys) + off, R * 3 * math.pi / 4 - (grow(y_min) + 0.5) * w))
    x_lo = R * math.radians(ul[0])
    x_hi = R * math.radians(dr[0])
    c0 = int(math.floor((x_lo + R * math.pi) / w))
    c1 = int(math.floor((x_hi + R * math.pi) / w))
    assert c0 < c1 < 4 * 3**res, "oracle expects a plain west-east span"
    return rows, c0, c1 - c0 + 1, w


def _region_cover_ell_oracle_sql(res, ul, dr):
    """DuckDB twin of region_cover_ell_df for equatorial quads: VALUES
    row lattice x range() column span -> nucleus planar points ->
    independent face-dispatch/digit-floor suid pipeline."""
    import math

    from rhealpixdggs_spark.oracle_sql import _r, rhp_encode_planar_sql

    rows, c0, ncols, w = _cover_rows_cols(res, ul, dr)
    R = WGS84_003.R_A
    vals = ", ".join(f"({ri}, {_r(yv)})" for ri, yv in rows)
    grid = (
        f"WITH rws(row_i, Y) AS (VALUES {vals}), "
        f"cls AS (SELECT i AS col_i FROM range({ncols}) t(i)) "
        f"SELECT row_i, col_i, "
        f"{_r(-R * math.pi)} + (col_i + {c0} + 0.5) * {_r(w)} AS X, Y "
        f"FROM rws, cls"
    )
    return rhp_encode_planar_sql(grid, res, keep_cols="row_i, col_i")


def _region_cover_planar_oracle_sql(res, nw, se):
    """DuckDB twin of region_cover_df: closed-form planar lattice of
    cell centers -> face-dispatch/digit-floor suid pipeline."""
    import math

    from rhealpixdggs_spark.oracle_sql import _r, rhp_encode_planar_sql

    R = WGS84_003.R_A
    w = WGS84_003.cell_width(res)
    x_min, y_max = -R * math.pi, R * 3 * math.pi / 4
    col0 = math.floor((nw[0] - x_min) / w)
    col1 = math.floor((se[0] - x_min) / w)
    row0 = math.floor((y_max - nw[1]) / w)
    row1 = math.floor((y_max - se[1]) / w)
    ncols = col1 - col0 + 1
    nrows = row1 - row0 + 1
    grid = (
        f"SELECT i // {ncols} AS row_i, i % {ncols} AS col_i, "
        f"{_r(x_min)} + (i % {ncols} + {col0} + 0.5) * {_r(w)} AS X, "
        f"{_r(y_max)} - (i // {ncols} + {row0} + 0.5) * {_r(w)} AS Y "
        f"FROM range({nrows * ncols}) t(i)"
    )
    enc = rhp_encode_planar_sql(grid, res, keep_cols="row_i, col_i")
    return f"SELECT row_i, col_i, cell_id FROM ({enc}) WHERE cell_id IS NOT NULL"


def _evenodd_sql(px, py, ring):
    """Even-odd ray-crossing containment as a SQL predicate over a
    constant ring (twin of kernel points_in_ring / the Spark column
    builder): one crossing term per non-horizontal edge, parity sum."""
    from rhealpixdggs_spark.oracle_sql import _r

    ring = [tuple(map(float, p)) for p in ring]
    if ring[0] == ring[-1]:
        ring = ring[:-1]
    terms = []
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"CASE WHEN ({_r(y1)} > {py}) <> ({_r(y2)} > {py}) "
            f"AND {px} < {_r(x2 - x1)} * ({py} - {_r(y1)}) / {_r(y2 - y1)} "
            f"+ {_r(x1)} THEN 1 ELSE 0 END"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _polyfill_eq_oracle_sql(res=3):
    """DuckDB twin of the distributed polyfill over the equatorial
    polygon-with-hole: bbox cover -> distinct candidates -> quad
    centroid (nucleus lon + 4-vertex mean lat, cell.py:1087-1090) ->
    even-odd containment."""
    ext = EQ_POLY_EXT
    hole = EQ_POLY_HOLE
    xs = [p[0] for p in ext]
    ys = [p[1] for p in ext]
    cover = _region_cover_ell_oracle_sql(res, (min(xs), max(ys)), (max(xs), min(ys)))
    lat4 = (
        "(((max(CASE WHEN nm = 'ul' THEN v_lat END)"
        " + max(CASE WHEN nm = 'ur' THEN v_lat END))"
        " + max(CASE WHEN nm = 'dr' THEN v_lat END))"
        " + max(CASE WHEN nm = 'dl' THEN v_lat END)) / 4"
    )
    return f"""
        WITH base AS MATERIALIZED (
          SELECT DISTINCT cell_id FROM ({cover}) WHERE cell_id IS NOT NULL),
        nuc AS MATERIALIZED ({rhp_nucleus_sql("SELECT cell_id FROM base", res)}),
        v AS MATERIALIZED ({rhp_vertices_pivot_sql("SELECT cell_id FROM base", res)}),
        lat4 AS (SELECT cell_id, {lat4} AS cy FROM v GROUP BY cell_id),
        cen AS (SELECT n.cell_id, n.n_lon AS cx, l.cy AS cy
                FROM nuc n JOIN lat4 l ON n.cell_id = l.cell_id)
        SELECT cell_id AS tile_id, CAST({res} AS INT) AS res, 'eq' AS zone
        FROM cen
        WHERE {_evenodd_sql('cx', 'cy', ext)}
          AND NOT {_evenodd_sql('cx', 'cy', hole)}
    """


def _ivf_topk_oracle_sql(k=5, dim=64, n_cent=4, nprobe=2, seed=7):
    """DuckDB twin of cosine_topk_ivf: the seed-7 codebook is
    regenerated and embedded as literal lists; cell assignment is
    first-occurrence argmax over the dot-product list (list_position
    + list_max ties to the lowest id, same as Spark array_position);
    query probes are the nprobe best cells via a struct (-dot, id)
    list_sort — lexicographic, matching Spark's array_sort."""
    from rhealpixdggs_spark.operators.similarity import ivf_codebook
    from rhealpixdggs_spark.oracle_sql import _r

    cents = ivf_codebook(dim=dim, k=n_cent, seed=seed)

    def lst(p):
        return "[" + ", ".join(_r(x) for x in p) + "]"

    def dots(vec):
        return (
            "["
            + ", ".join(f"list_dot_product({vec}, {lst(c)})" for c in cents)
            + "]"
        )

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        a AS MATERIALIZED (
          SELECT vec_id, v, list_position(dl, list_max(dl)) - 1 AS cluster
          FROM (SELECT vec_id, v, {dots('v')} AS dl FROM e)),
        q0 AS (SELECT vec_id AS query_id, v AS qv, {dots('v')} AS dl
               FROM e WHERE vec_id < 3),
        probes AS (
          SELECT query_id, qv,
            unnest(list_transform(list_slice(list_sort(
              list_transform(range({n_cent}),
                             i -> {{'nd': -dl[i+1], 'ix': i}})),
              1, {nprobe}), s -> s.ix)) AS cluster
          FROM q0),
        d AS (SELECT p.query_id, a.vec_id,
                round(list_dot_product(a.v, p.qv)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos
              FROM a JOIN probes p ON a.cluster = p.cluster)
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM d) WHERE rank <= {k}
    """


def _lsh_cosine_topk_oracle_sql(k=5, dim=64, n_planes=4, seed=42):
    """DuckDB twin of cosine_topk_lsh: the seed-42 hyperplanes are
    regenerated and embedded as literal lists, the bucket is the sign
    bits of the projections, and the exact cosine re-rank runs inside
    the matching bucket."""
    from rhealpixdggs_spark.operators.similarity import _hyperplanes
    from rhealpixdggs_spark.oracle_sql import _r

    planes = _hyperplanes(dim, n_planes, seed)

    def lst(p):
        return "[" + ", ".join(_r(x) for x in p) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lst(p)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS MATERIALIZED (SELECT vec_id, v, ({bucket}) AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
        d AS (SELECT q.query_id, b.vec_id,
                round(list_dot_product(b.v, q.qv)
                  / (sqrt(list_dot_product(b.v, b.v))
                     * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
              FROM b JOIN q ON b.bucket = q.bucket)
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM d) WHERE rank <= {k}
    """


def _cell_geometry_oracle_sql() -> str:
    """The reference's published ul_vertex / nw_vertex doctest table
    (cell.py:548-585) and the ellipsoidal vertices of the N0/S0 darts
    (cell.py:680-706) as a VALUES literal, pre-rounded with the same
    HALF_UP decimal rounding Spark's round() applies."""
    rows = [
        # (cell_id, kind, seq, vx, vy)
        ("P57", "ul_plane", 0, -2223901.04, -555975.26),
        ("S4", "ul_plane", 0, -16679257.8, -8339628.9),
        ("N43", "ul_plane", 0, -16679257.8, 10563529.94),
        ("S43", "ul_plane", 0, -16679257.8, -9451579.42),
        ("N62", "ul_plane", 0, -17791208.32, 8339628.9),
        ("S62", "ul_plane", 0, -17791208.32, -11675480.46),
        ("P57", "nw_plane", 0, -2223901.04, -555975.26),
        ("S4", "nw_plane", 0, -16679257.8, -8339628.9),
        ("N43", "nw_plane", 0, -15567307.28, 10563529.94),
        ("S43", "nw_plane", 0, -16679257.8, -10563529.94),
        ("N62", "nw_plane", 0, -16679257.8, 8339628.9),
        ("S62", "nw_plane", 0, -16679257.8, -12787430.98),
        ("N0", "vert_ell", 0, 90.0, 74.424007),
        ("N0", "vert_ell", 1, 120.0, 41.937854),
        ("N0", "vert_ell", 2, 90.0, 41.937854),
        ("N0", "vert_ell", 3, 60.0, 41.937854),
        ("S0", "vert_ell", 0, 150.0, -41.937854),
        ("S0", "vert_ell", 1, -180.0, -41.937854),
        ("S0", "vert_ell", 2, -150.0, -41.937854),
        ("S0", "vert_ell", 3, -180.0, -74.424007),
    ]
    vals = ", ".join(
        f"('{c}', '{k}', {s}, CAST({vx!r} AS DOUBLE), CAST({vy!r} AS DOUBLE))"
        for c, k, s, vx, vy in rows
    )
    return (
        f"SELECT cell_id, kind, CAST(seq AS INT) AS seq, vx, vy "
        f"FROM (VALUES {vals}) t(cell_id, kind, seq, vx, vy)"
    )


def _ref_goldens():
    """Reference-EXECUTED goldens (region_cover / linetrace_many /
    zone_from_poly / polyfill / kring_sizes / neighbors_all /
    decode_all / dateline family), generated and kernel-cross-checked
    by tools/gen_reference_goldens.py and vendored into the package.
    Cached: ten oracle builders read it per oracle_sql() call."""
    global _REF_GOLDENS_CACHE
    if _REF_GOLDENS_CACHE is None:
        import json

        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "rhealpixdggs_spark", "data", "ref_goldens.json",
        )
        with open(path) as f:
            _REF_GOLDENS_CACHE = json.load(f)
    return _REF_GOLDENS_CACHE


_REF_GOLDENS_CACHE = None


def _region_cover_oracle_sql():
    rows = _ref_goldens()["region_cover"]["rows"]
    vals = ", ".join(f"({r}, {c}, '{s}')" for r, c, s in rows)
    return f"SELECT row_i, col_i, cell_id FROM (VALUES {vals}) t(row_i, col_i, cell_id)"


def _linetrace_many_oracle_sql():
    rows = _ref_goldens()["linetrace_many"]["rows"]
    vals = ", ".join(f"({l}, {q}, '{s}')" for l, q, s in rows)
    return f"SELECT line_id, seq, cell_id FROM (VALUES {vals}) t(line_id, seq, cell_id)"


def _polyfill_oracle_sql():
    g = _ref_goldens()["polyfill"]
    vals = ", ".join(f"('{c}')" for c in g["cells"])
    return (
        f"SELECT tile_id, CAST(length(tile_id) - 1 AS INT) AS res, "
        f"'euro' AS zone FROM (VALUES {vals}) t(tile_id)"
    )


def _polyfill_cap_oracle_sql():
    g = _ref_goldens()["polyfill_cap"]
    vals = ", ".join(f"('{c}')" for c in g["cells"])
    return (
        f"SELECT tile_id, CAST(length(tile_id) - 1 AS INT) AS res, "
        f"'cap' AS zone FROM (VALUES {vals}) t(tile_id)"
    )


def _decode_all_oracle_sql():
    rows = _ref_goldens()["decode_all"]["rows"]
    vals = ", ".join(
        f"('{s}', '{k}', CAST({lon!r} AS DOUBLE), CAST({lat!r} AS DOUBLE))"
        for s, k, lon, lat in rows
    )
    return (
        f"SELECT cell_id, kind, lon, lat "
        f"FROM (VALUES {vals}) t(cell_id, kind, lon, lat)"
    )


def _shape_all_oracle_sql():
    rows = _ref_goldens()["shape_all"]["rows"]
    vals = ", ".join(f"('{s}', '{sh}')" for s, sh in rows)
    return f"SELECT cell_id, shape FROM (VALUES {vals}) t(cell_id, shape)"


def _neighbors_all_oracle_sql():
    rows = _ref_goldens()["neighbors_all"]["rows"]
    vals = ", ".join(f"('{s}', '{d}', '{n}')" for s, d, n in rows)
    return (
        f"SELECT cell_id, direction, neighbor_id "
        f"FROM (VALUES {vals}) t(cell_id, direction, neighbor_id)"
    )


def _zone_algebra_oracle_sql(op: str) -> str:
    """Independent SQL re-derivation of the zone algebra semantics:
    recursive-CTE expansion of both literal zones to res-3 leaves,
    DuckDB set operation, three unrolled complete-sibling merge steps
    (leaf length 4 -> suid length 1)."""
    setops = {"union": "UNION", "intersect": "INTERSECT", "subtract": "EXCEPT"}
    va = ", ".join(f"('{c}')" for c in _ZONE_A)
    vb = ", ".join(f"('{c}')" for c in _ZONE_B)
    dg = ", ".join(f"('{d}')" for d in "012345678")
    compress_steps = []
    prev = "c0"
    for k in (1, 2, 3):
        compress_steps.append(
            f"m{k} AS (SELECT substr(cell_id, 1, length(cell_id) - 1) AS cell_id "
            f"FROM {prev} WHERE length(cell_id) > 1 "
            f"GROUP BY 1 HAVING count(*) = 9), "
            f"c{k} AS (SELECT cell_id FROM m{k} UNION ALL "
            f"SELECT c.cell_id FROM {prev} c "
            f"WHERE length(c.cell_id) <= 1 OR "
            f"substr(c.cell_id, 1, length(c.cell_id) - 1) NOT IN "
            f"(SELECT cell_id FROM m{k}))"
        )
        prev = f"c{k}"
    return (
        "WITH RECURSIVE "
        f"za(cell_id) AS (VALUES {va}), "
        f"zb(cell_id) AS (VALUES {vb}), "
        f"digits(d) AS (VALUES {dg}), "
        "ea(cell_id) AS (SELECT cell_id FROM za UNION ALL "
        "  SELECT ea.cell_id || digits.d FROM ea, digits "
        "  WHERE length(ea.cell_id) < 4), "
        "eb(cell_id) AS (SELECT cell_id FROM zb UNION ALL "
        "  SELECT eb.cell_id || digits.d FROM eb, digits "
        "  WHERE length(eb.cell_id) < 4), "
        "la AS (SELECT cell_id FROM ea WHERE length(cell_id) = 4), "
        "lb AS (SELECT cell_id FROM eb WHERE length(cell_id) = 4), "
        + (
            "c0 AS (SELECT * FROM ("
            "(SELECT cell_id FROM la EXCEPT SELECT cell_id FROM lb) "
            "UNION "
            "(SELECT cell_id FROM lb EXCEPT SELECT cell_id FROM la)) u), "
            if op == "xor"
            else "c0 AS (SELECT * FROM ((SELECT cell_id FROM la) "
            f"{setops[op]} (SELECT cell_id FROM lb)) u), "
        )
        + ", ".join(compress_steps)
        + " SELECT cell_id FROM c3 ORDER BY cell_id"
    )


def _linetrace_dateline_oracle_sql():
    rows = _ref_goldens()["linetrace_dateline"]["rows"]
    vals = ", ".join(f"({s}, '{c}')" for s, c in rows)
    return f"SELECT seq, cell_id FROM (VALUES {vals}) t(seq, cell_id)"


def _zone_dateline_oracle_sql():
    cells = _ref_goldens()["zone_dateline"]["cells"]
    vals = ", ".join(f"('{c}')" for c in cells)
    return (
        f"SELECT cell_id, length(cell_id) - 1 AS res "
        f"FROM (VALUES {vals}) t(cell_id)"
    )


def _polyfill_dateline_oracle_sql():
    g = _ref_goldens()["polyfill_dateline"]
    vals = ", ".join(f"('{c}')" for c in g["cells"])
    return (
        f"SELECT tile_id, CAST(length(tile_id) - 1 AS INT) AS res, "
        f"'fiji' AS zone FROM (VALUES {vals}) t(tile_id)"
    )


def _kring_sizes_oracle_sql():
    rows = _ref_goldens()["kring_sizes"]["rows"]
    vals = ", ".join(f"('{s}', {n}, '{h}')" for s, n, h in rows)
    return (
        f"SELECT cell_id, n_disk, disk_md5 "
        f"FROM (VALUES {vals}) t(cell_id, n_disk, disk_md5)"
    )


def _zone_from_poly_oracle_sql():
    cells = _ref_goldens()["zone_from_poly"]["cells"]
    vals = ", ".join(f"('{c}')" for c in cells)
    return (
        f"SELECT cell_id, length(cell_id) - 1 AS res "
        f"FROM (VALUES {vals}) t(cell_id)"
    )


def _zone_catchment_oracle_sql():
    """The reference's published ground-truth zone for catchment
    12104622 (tests/test_conversion.py:58-538) as a literal oracle."""
    _, cells = _catchment_golden()
    vals = ", ".join(f"('{c}')" for c in cells)
    return (
        f"SELECT cell_id, length(cell_id) - 1 AS res "
        f"FROM (VALUES {vals}) t(cell_id)"
    )


def oracle_sql() -> dict[str, str]:
    enc5 = rhp_encode_sql(ORDERS_POINTS_SQL, 5)
    enc9 = rhp_encode_sql(ORDERS_POINTS_SQL, 9)
    cust2 = rhp_encode_sql(CUSTOMER_POINTS_SQL, 2)
    enc3 = rhp_encode_sql(ORDERS_POINTS_SQL, 3)
    enc4 = rhp_encode_sql(ORDERS_POINTS_SQL, 4)
    nw_src = (
        f"SELECT pid, (lon * 0.99e0) - 1.8e0 AS lon, (lat * 0.99e0) + 0.9e0 AS lat "
        f"FROM ({SUPPLIER_POINTS_SQL})"
    )
    se_src = (
        f"SELECT pid, (lon * 0.99e0) + 1.8e0 AS lon, (lat * 0.99e0) - 0.9e0 AS lat "
        f"FROM ({SUPPLIER_POINTS_SQL})"
    )
    prefix_case = " ".join(
        f"WHEN substr(nw.cell_id,1,{L}) = substr(se.cell_id,1,{L}) "
        f"THEN substr(nw.cell_id,1,{L})"
        for L in range(6, 0, -1)
    )

    sq = "l_extendedprice * (1 - l_discount)"
    lang_hits = {
        "en": _stop_hits(STOPWORDS_EN),
        "de": _stop_hits(STOPWORDS_DE),
        "fr": _stop_hits(STOPWORDS_FR),
        "es": _stop_hits(STOPWORDS_ES),
    }
    ntok = (
        f"CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKENIZE}) END"
    )
    punct = (
        "CASE WHEN len(text) = 0 THEN 0.0 ELSE "
        "CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)"
        " / len(text) END"
    )
    stop_ratio = (
        f"CASE WHEN {ntok} = 0 THEN 0.0 ELSE "
        f"CAST({lang_hits['en']} AS DOUBLE) / {ntok} END"
    )
    quality = (
        f"round(least({ntok}/100.0, 1.0)*0.4 "
        f"+ greatest(0.0, 1.0 - ({punct})*4)*0.3 "
        f"+ least(({stop_ratio})*5, 1.0)*0.3, 6)"
    )
    best = "greatest(h_en, h_de, h_fr, h_es)"
    grams = _GRAMS3

    return {
        "encode_cells_res5": f"""
            WITH enc AS ({enc5})
            SELECT cell_id, count(*) AS n FROM enc GROUP BY cell_id
        """,
        "encode_points_res9": f"SELECT pid, cell_id FROM ({enc9})",
        "parent_rollup": f"""
            WITH enc AS ({enc5})
            SELECT substr(cell_id, 1, 3) AS tile_id, count(*) AS n
            FROM enc GROUP BY 1
        """,
        "cell_metrics": f"""
            SELECT CAST(res AS INT) AS res,
              round({WGS84_003_RA} * ({PI_HALF}) * power(3.0, -res), 6) AS width_m,
              round(power({WGS84_003_RA} * ({PI_HALF}) * power(3.0, -res), 2), 4)
                AS area_plane_m2,
              round({EIGHT_3PI} * power({WGS84_003_RA} * ({PI_HALF}) * power(3.0, -res), 2), 4)
                AS area_ell_m2
            FROM range(16) t(res)
        """,
        "containment_join": f"""
            WITH enc AS ({enc5}),
            tiles AS (SELECT DISTINCT cell_id AS tile_id FROM ({cust2}))
            SELECT t.tile_id, count(*) AS n_points
            FROM enc e JOIN tiles t ON substr(e.cell_id, 1, 3) = t.tile_id
            GROUP BY t.tile_id
        """,
        "containment_packed": f"""
            WITH enc AS MATERIALIZED ({enc5}),
            cust AS MATERIALIZED ({cust2}),
            tiles AS (SELECT DISTINCT cell_id FROM cust),
            p AS (SELECT substr(cell_id, 1, 3) AS t FROM enc)
            SELECT (60 + (CASE substr(t,1,1) WHEN 'N' THEN 0 WHEN 'O' THEN 1 WHEN 'P' THEN 2 WHEN 'Q' THEN 3 WHEN 'R' THEN 4 ELSE 5 END) * 81 + CAST(substr(t,2,1) AS BIGINT) * 9 + CAST(substr(t,3,1) AS BIGINT)) AS tile_idx, count(*) AS n_points
            FROM p JOIN tiles ON p.t = tiles.cell_id
            GROUP BY 1
        """,
        "topk_cells": f"""
            WITH enc AS ({enc3}),
            c AS (SELECT cell_id, count(*) AS n FROM enc GROUP BY cell_id)
            SELECT cell_id, n FROM c ORDER BY n DESC, cell_id LIMIT 10
        """,
        "knn_brute": _knn_sql(),
        "knn_rings": _knn_sql(),
        "range_join": _range_sql(),
        "pagerank": _pagerank_oracle_sql(),
        "heavy_hitters": _heavy_hitters_oracle_sql(),
        # streaming output must equal the batch brute theta join
        "streaming_interval_join": """
            WITH iv AS (SELECT event_id AS interval_id, ts AS s,
                               ts + (1 + event_id % 7) * INTERVAL 1 MINUTE AS e
                        FROM events WHERE event_id % 97 = 0)
            SELECT iv.interval_id, ev.event_id, ev.event_type
            FROM events ev JOIN iv ON ev.ts BETWEEN iv.s AND iv.e
        """,
        # brute non-equi theta join: proves the Spark side's bucketed
        # equi-join rewrite loses no (event, interval) pair
        "interval_join": """
            WITH iv AS (SELECT event_id AS interval_id, ts AS s,
                               ts + (1 + event_id % 7) * INTERVAL 1 MINUTE AS e
                        FROM events WHERE event_id % 97 = 0)
            SELECT iv.interval_id, ev.event_id, ev.event_type
            FROM events ev JOIN iv ON ev.ts BETWEEN iv.s AND iv.e
        """,
        "cell_nucleus": f"""
            SELECT cell_id, round(n_lon, 9) + 0.0 AS n_lon,
                   round(n_lat, 9) + 0.0 AS n_lat
            FROM ({rhp_nucleus_sql(f"SELECT DISTINCT cell_id FROM ({cust2})", 2)})
        """,
        "cell_boundary_quads": _boundary_quads_oracle_sql(),
        "cell_centroid_quads": _centroid_quads_oracle_sql(),
        "cell_xy_range": f"""
            SELECT cell_id,
                   round(x_min, 4) + 0.0 AS x_min, round(x_max, 4) + 0.0 AS x_max,
                   round(y_min, 4) + 0.0 AS y_min, round(y_max, 4) + 0.0 AS y_max
            FROM ({rhp_xy_range_sql(f"SELECT DISTINCT cell_id FROM ({cust2})", 2)})
        """,
        "doc_fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
        "dedup_exact": """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_unique_texts
            FROM documents GROUP BY lang
        """,
        "token_stats": f"""
            SELECT doc_id, {ntok} AS n_tokens, len(text) AS n_char
            FROM documents
        """,
        "lang_quality": f"""
            WITH h AS (
              SELECT doc_id, text,
                {lang_hits['en']} AS h_en, {lang_hits['de']} AS h_de,
                {lang_hits['fr']} AS h_fr, {lang_hits['es']} AS h_es
              FROM documents)
            SELECT doc_id,
              CASE WHEN {best} = 0 THEN 'und'
                   WHEN h_en = {best} THEN 'en'
                   WHEN h_de = {best} THEN 'de'
                   WHEN h_fr = {best} THEN 'fr'
                   ELSE 'es' END AS lang_guess,
              {quality} AS quality
            FROM h
        """,
        "repetition_signals": _repetition_signals_oracle_sql(),
        "corpus_sample": f"""
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                {_md5h_sql("'sample|' || CAST(doc_id AS VARCHAR)")}
                  % 1000000 AS bucket,
                CASE lang WHEN 'en' THEN 800000 WHEN 'de' THEN 500000
                          WHEN 'fr' THEN 250000 WHEN 'es' THEN 100000
                          ELSE 50000 END AS thr
              FROM documents)
            WHERE bucket < thr
        """,
        "curation_pipeline": _curation_pipeline_oracle_sql(ntok, quality),
        "pii_redaction": _pii_redaction_oracle_sql(),
        "decontamination": f"""
            WITH ev AS (
              SELECT doc_id AS eval_id,
                CASE WHEN doc_id % 14 = 0
                     THEN array_to_string(toks12, ' ')
                     ELSE array_to_string(list_reverse(toks12), ' ')
                END AS text
              FROM (SELECT doc_id, list_slice({_TOKENIZE}, 1, 12) AS toks12
                    FROM documents WHERE doc_id % 7 = 0)),
            ts AS (
              SELECT DISTINCT doc_id AS tid,
                unnest(list_transform(range(len(toks) - 7),
                  i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
                AS span
              FROM (SELECT doc_id, {_TOKENIZE_LOWER} AS toks FROM documents)
              WHERE len(toks) >= 8),
            es AS (
              SELECT DISTINCT eval_id,
                unnest(list_transform(range(len(toks) - 7),
                  i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
                AS span
              FROM (SELECT eval_id,
                      string_split_regex(lower(trim(text)), '\\s+') AS toks
                    FROM ev)
              WHERE len(toks) >= 8),
            tot AS (SELECT eval_id, count(*) AS n_spans FROM es GROUP BY 1),
            hits AS (
              SELECT es.eval_id,
                count(DISTINCT es.span) AS n_contaminated,
                count(DISTINCT ts.tid) AS n_train_docs
              FROM es JOIN ts ON ts.span = es.span GROUP BY 1)
            SELECT t.eval_id, t.n_spans,
              coalesce(h.n_contaminated, 0) AS n_contaminated,
              round(coalesce(h.n_contaminated, 0) / t.n_spans, 6) + 0.0
                AS contamination,
              coalesce(h.n_train_docs, 0) AS n_train_docs
            FROM tot t LEFT JOIN hits h ON h.eval_id = t.eval_id
        """,
        "doc_chunks": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENIZE} AS toks, {ntok} AS n
              FROM documents),
            s AS (
              SELECT doc_id, toks, n, unnest(range(0, n, 24)) AS start
              FROM t WHERE n > 0)
            SELECT doc_id,
                   CAST(start / 24 AS BIGINT) AS chunk_id,
                   least(32, n - start) AS n_tokens,
                   md5(array_to_string(toks[start + 1 : start + 32], ' '))
                     AS chunk_fp
            FROM s
        """,
        "ngram_jaccard": f"""
            WITH g AS (
              SELECT doc_id, list_distinct({grams}) AS g FROM (
                SELECT doc_id, {_TOKENIZE_LOWER} AS toks,
                       len({_TOKENIZE_LOWER}) AS cnt
                FROM documents WHERE doc_id < 40))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
            FROM g a JOIN g b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.g, b.g)) > 0
        """,
        "cosine_topk": _ORACLE_COSINE_TOPK,
        "embedding_norms": """
            SELECT vec_id, label,
              round(sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[])), 5) AS nrm
            FROM embeddings
        """,
        "tpch_pricing": f"""
            SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum({sq}), 2) AS sum_disc_price,
              count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": f"""
            SELECT n_name, round(sum({sq}), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "events_window": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS window_start, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "grid_res3": _grid_codec_sql(
            3,
            str(WGS84_003.num_cells(0, 2)),
            str(WGS84_003.num_cells(0, 2) + 6 * 9**3),
        ),
        "interval_scan": _interval_oracle_sql(),
        "hierarchy_ops": f"""
            WITH enc AS MATERIALIZED ({enc5})
            SELECT DISTINCT cell_id,
              substr(cell_id, 1, 3) AS parent2,
              rpad(cell_id, 8, '4') AS center7,
              CAST(regexp_matches(cell_id, '^[NOPQRS][0-8]*$') AS INT) AS valid,
              length(cell_id) - 1 AS res,
              substr(cell_id, 1, 1) AS base_cell
            FROM enc
        """,
        "subcells": f"""
            WITH t AS MATERIALIZED (SELECT DISTINCT cell_id AS parent_id FROM ({cust2}))
            SELECT parent_id,
              parent_id || CAST(i // 9 AS VARCHAR) || CAST(i % 9 AS VARCHAR)
                AS child_id
            FROM t, range(81) r(i)
        """,
        "compress_cells": _compress_sql(
            f"SELECT DISTINCT cell_id FROM ({enc3})", passes=3
        ),
        "cell_from_region": f"""
            WITH nw AS MATERIALIZED ({rhp_encode_sql(nw_src, 5)}),
                 se AS MATERIALIZED ({rhp_encode_sql(se_src, 5)})
            SELECT nw.pid AS pid,
              CASE {prefix_case} ELSE NULL END AS region_cell
            FROM nw JOIN se USING (pid)
        """,
        "minimal_cover": f"""
            WITH enc AS MATERIALIZED ({enc4})
            SELECT DISTINCT cell_id FROM enc WHERE cell_id IS NOT NULL
        """,
        "salted_cell_agg": f"""
            WITH enc AS MATERIALIZED ({enc3})
            SELECT cell_id, count(*) AS n,
                   CAST(sum(pid) AS BIGINT) AS sum_pid
            FROM enc GROUP BY cell_id
        """,
        "knn_adaptive": _knn_sql(),
        "pip_polygon": f"""
            WITH pts AS ({ORDERS_POINTS_SQL})
            SELECT pid, lon, lat FROM pts
            WHERE {_convex_inside_sql(PIP_OUTER)}
              AND NOT {_convex_inside_sql(PIP_HOLE)}
        """,
        "polygon_join": f"""
            WITH pts AS ({ORDERS_POINTS_SQL})
            SELECT pid, lon, lat, 'z1' AS zone FROM pts
            WHERE {_convex_inside_sql(PIP_OUTER)}
              AND NOT {_convex_inside_sql(PIP_HOLE)}
            UNION ALL
            SELECT pid, lon, lat, 'z2' AS zone FROM pts
            WHERE {_convex_inside_sql(PIP_ZONE2)}
        """,
        # the DataFrame-native fleet path must reproduce the same
        # half-plane truth on the same fixture
        "polygon_join_df": f"""
            WITH pts AS ({ORDERS_POINTS_SQL})
            SELECT pid, lon, lat, 'z1' AS zone FROM pts
            WHERE {_convex_inside_sql(PIP_OUTER)}
              AND NOT {_convex_inside_sql(PIP_HOLE)}
            UNION ALL
            SELECT pid, lon, lat, 'z2' AS zone FROM pts
            WHERE {_convex_inside_sql(PIP_ZONE2)}
        """,
        "raster_to_vector": f"""
            WITH enc AS MATERIALIZED ({rhp_encode_sql(RASTER720_SQL, 3, keep_cols="pid, value")})
            SELECT cell_id, count(*) AS n_pixels,
                   round(sum(value), 6) AS sum_value,
                   round(avg(value), 6) AS mean_value
            FROM enc WHERE cell_id IS NOT NULL GROUP BY cell_id
        """,
        "vector_to_raster": f"""
            WITH px AS MATERIALIZED ({rhp_encode_sql(RASTER144_SQL, 2, keep_cols="pid")}),
            tiles AS MATERIALIZED (SELECT DISTINCT cell_id FROM ({cust2}))
            SELECT px.pid AS pixel_id, px.cell_id
            FROM px JOIN tiles USING (cell_id)
        """,
        "dedup_groups": """
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents
              WHERE doc_id % 5 = 0)
            SELECT md5(text) AS fp, count(*) AS dup_count,
              string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
            FROM u GROUP BY 1 HAVING count(*) >= 2
        """,
        "span_dedup": f"""
            WITH u AS ({_DOCS_WITH_DUPS_SQL}),
            t AS (SELECT doc_id, {_TOKENIZE_LOWER} AS toks FROM u),
            s AS (SELECT doc_id,
                    unnest(list_transform(range(len(toks) - 7),
                      i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
                    AS span
                  FROM t WHERE len(toks) >= 8),
            d AS (SELECT span, doc_id, count(*) AS occ FROM s GROUP BY 1, 2),
            g AS (SELECT span, count(*) AS n_docs,
                    CAST(sum(occ) AS BIGINT) AS n_occ,
                    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                      AS doc_ids
                  FROM d GROUP BY 1)
            SELECT md5(span) AS span_fp, span, n_docs, n_occ, doc_ids
            FROM g WHERE n_docs >= 2
        """,
        "source_rollup": f"""
            WITH per AS (
              SELECT source, lang, {ntok} AS ntok,
                CAST(round(({quality}) * 1000000) AS BIGINT) AS q6
              FROM documents)
            SELECT source,
              count(*) AS n_docs,
              CAST(sum(ntok) AS BIGINT) AS total_tokens,
              count(DISTINCT lang) AS n_langs,
              round(min(q6) / 1000000.0, 6) + 0.0 AS min_quality,
              round(CAST(sum(q6) AS DOUBLE) / count(*) / 1000000.0, 6) + 0.0
                AS avg_quality,
              round(max(q6) / 1000000.0, 6) + 0.0 AS max_quality
            FROM per GROUP BY source
        """,
        "near_dup_embeddings": """
            WITH u AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id,
                     list_transform(embedding::DOUBLE[], x -> x * 2.0e0) AS v
              FROM embeddings WHERE vec_id % 10 = 0),
            d AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
              FROM u a JOIN u b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cos FROM d WHERE cos >= 0.999e0
        """,
        "tpch_shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < '1995-03-15'
              AND l_shipdate > '1995-03-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, orderdate, l_orderkey LIMIT 10
        """,
        "tpch_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "neighbors_interior": _neighbors_interior_oracle_sql(),
        "region_cover_ell": _region_cover_ell_oracle_sql(
            3, (-10.0, 35.0), (30.0, 5.0)
        ),
        "region_cover_planar": _region_cover_planar_oracle_sql(
            4,
            (-0.2 * WGS84_003.R_A, 0.4 * WGS84_003.R_A),
            (0.5 * WGS84_003.R_A, -0.1 * WGS84_003.R_A),
        ),
        "polyfill_eq": _polyfill_eq_oracle_sql(3),
        "zone_catchment": _zone_catchment_oracle_sql(),
        # the DataFrame-native lock-step fleet path must reproduce the
        # same published 254-cell ground truth
        "zone_tiles_df": (
            "SELECT cell_id AS tile_id, length(cell_id) - 1 AS res, "
            "'catch' AS zone FROM ("
            + _zone_catchment_oracle_sql()
            + ") ORDER BY tile_id"
        ),
        "zone_assign": _zone_assign_oracle_sql(),
        "lsh_cosine_topk": _lsh_cosine_topk_oracle_sql(k=5, dim=64, n_planes=4),
        "ivf_topk": _ivf_topk_oracle_sql(k=5, dim=64, n_cent=4, nprobe=2),
        "asof_attribution": """
            WITH l AS (SELECT event_id, ts, user_id, value FROM events
                       WHERE event_type = 'purchase'),
            r AS (SELECT user_id, ts, max(event_id) AS click_id,
                         max(value) AS click_value
                  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
            SELECT l.event_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                   l.user_id, l.value,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
                   r.click_id, r.click_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_bucketed_auto": """
            WITH l AS (SELECT event_id, ts, user_id, value FROM events
                       WHERE event_type = 'purchase'),
            r AS (SELECT user_id, ts, max(event_id) AS click_id,
                         max(value) AS click_value
                  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
            SELECT l.event_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                   l.user_id, l.value,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
                   r.click_id, r.click_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "kring_interior": _kring_interior_oracle_sql(),
        "cell_geometry": _cell_geometry_oracle_sql(),
        "neighbors": _neighbors_oracle_sql(),
        "linetrace": _linetrace_oracle_sql(),
        "linetrace_many": _linetrace_many_oracle_sql(),
        "region_cover": _region_cover_oracle_sql(),
        "zone_from_poly": _zone_from_poly_oracle_sql(),
        "polyfill": _polyfill_oracle_sql(),
        "polyfill_cap": _polyfill_cap_oracle_sql(),
        "kring_sizes": _kring_sizes_oracle_sql(),
        "neighbors_all": _neighbors_all_oracle_sql(),
        "decode_all": _decode_all_oracle_sql(),
        "shape_all": _shape_all_oracle_sql(),
        "polyfill_dateline": _polyfill_dateline_oracle_sql(),
        "zone_dateline": _zone_dateline_oracle_sql(),
        "linetrace_dateline": _linetrace_dateline_oracle_sql(),
        "zone_union": _zone_algebra_oracle_sql("union"),
        "zone_intersect": _zone_algebra_oracle_sql("intersect"),
        "zone_subtract": _zone_algebra_oracle_sql("subtract"),
        "zone_xor": _zone_algebra_oracle_sql("xor"),
        "streaming_geo_counts": f"""
            WITH enc AS MATERIALIZED ({enc3})
            SELECT cell_id, count(*) AS n FROM enc GROUP BY cell_id
        """,
        "minhash_sig": f"""
            SELECT doc_id, {', '.join(f'mh_{i}' for i in range(8))}
            FROM ({_minhash_sig_sql('SELECT doc_id, text FROM documents', 8)})
        """,
        "simhash": _simhash_sql("SELECT doc_id, text FROM documents", 32),
        "minhash_lsh_pairs": _minhash_lsh_pairs_sql(num_hashes=16, bands=8),
        "dedup_components": f"""
            WITH RECURSIVE pairs AS MATERIALIZED (
              SELECT id_a, id_b
              FROM ({_minhash_lsh_pairs_sql(num_hashes=16, bands=8)})
              UNION
              SELECT doc_id AS id_a, doc_id + 10 AS id_b FROM documents
              WHERE doc_id % 10 = 0 AND doc_id < 90
            ),
            edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach AS (
              SELECT src AS id, src AS r FROM edges
              UNION
              SELECT e.src AS id, rr.r FROM edges e
              JOIN reach rr ON rr.id = e.dst
            )
            SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
            FROM reach GROUP BY id
        """,
        "near_dedup_keep": f"""
            WITH RECURSIVE pairs AS MATERIALIZED (
              SELECT id_a, id_b
              FROM ({_minhash_lsh_pairs_sql(num_hashes=16, bands=8)})
            ),
            edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach AS (
              SELECT src AS id, src AS r FROM edges
              UNION
              SELECT e.src AS id, rr.r FROM edges e
              JOIN reach rr ON rr.id = e.dst
            ),
            dropids AS (
              SELECT id FROM (SELECT id, min(r) AS label FROM reach
                              GROUP BY id)
              WHERE id <> label
            ),
            inp AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text, lang
              FROM documents WHERE doc_id % 5 = 0
            ),
            kept AS (
              SELECT inp.lang, {ntok} AS ntok FROM inp
              LEFT JOIN dropids d ON d.id = inp.doc_id
              WHERE d.id IS NULL
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(ntok) AS BIGINT) AS total_tokens
            FROM kept GROUP BY lang
        """,
        "simhash_pairs": _simhash_pairs_sql(bits=32, blocks=4, max_hamming=3),
        "streaming_window": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS window_start, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": """
            WITH o AS (
              SELECT user_id, event_id, ts, value,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            f AS (SELECT *, CASE WHEN prev IS NULL
                   OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END AS ns
                  FROM o),
            s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
                  FROM f)
            SELECT user_id, session_id, count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   round(sum(value), 4) AS sum_value
            FROM s GROUP BY 1, 2
        """,
        "value_quantiles": """
            SELECT event_type, count(*) AS n,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "streaming_dedup": """
            WITH u AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text, lang FROM documents
              WHERE doc_id % 5 = 0)
            SELECT DISTINCT md5(text) AS fp, lang FROM u
        """,
        # True-octet oracles: hex(encode(text)) pairs, so non-ASCII and
        # empty payloads agree with the engine (bytes, not code points;
        # mean 0.0 / first_byte -1 on empty).
        "multimodal_features": """
            WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                              octet_length(encode(text)) AS nb FROM documents)
            SELECT doc_id, nb AS n_bytes,
              CASE WHEN nb = 0 THEN 0.0 ELSE
                round(list_aggregate(list_transform(range(nb),
                        i -> CAST(concat('0x', substr(hx, CAST(i*2+1 AS INT), 2))
                                  AS INT)), 'sum')
                      / (1.0e0 * nb), 6) END AS mean_byte,
              CASE WHEN nb = 0 THEN -1
                   ELSE CAST(concat('0x', substr(hx, 1, 2)) AS INT)
              END AS first_byte
            FROM d
        """,
        "frame_sample": """
            WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                              octet_length(encode(text)) AS nb FROM documents),
            f AS (SELECT doc_id, hx, nb,
                         unnest(range(0, CAST(ceil(nb/16.0e0) AS BIGINT))) AS fi
                  FROM d)
            SELECT doc_id, fi AS frame_idx,
              CAST(least(16, nb - fi*16) AS INT) AS frame_len,
              CAST(list_aggregate(list_transform(
                     range(least(16, nb - fi*16)),
                     i -> CAST(concat('0x',
                            substr(hx, CAST((fi*16 + i)*2 + 1 AS INT), 2))
                          AS INT)), 'sum')
                   AS BIGINT) AS frame_sum
            FROM f WHERE fi % 3 = 0
        """,
        "s2_cross_index": _s2_cross_index_oracle_sql(),
        "s2_encode": _s2_encode_oracle_sql(),
        "hex7_cross_index": _hex7_cross_index_oracle_sql(),
        "hex7_encode": _hex7_encode_oracle_sql(),
        "hex7_compact": _hex7_compact_oracle_sql(),
        "bm25_topk": _bm25_topk_oracle_sql(),
        "cell_term_profile": _cell_term_profile_oracle_sql(),
        "image_decode": _image_decode_oracle_sql(),
        "image_resize": _image_resize_oracle_sql(),
        "kdisk_multiface": _kdisk_multiface_oracle_sql(),
        "hex7_kdisk": _hex7_kdisk_oracle_sql(),
        "url_canonical": _url_canonical_oracle_sql(),
        "ann_quantized": _ann_quantized_oracle_sql(),
        "near_dup_lsh": _near_dup_lsh_oracle_sql(),
        "ann_recall": _ann_recall_oracle_sql(),
        "semantic_dedup": _semantic_dedup_oracle_sql(),
        "ivf_train_assign": _ivf_train_assign_oracle_sql(),
        "quality_score": _quality_score_oracle_sql(),
        "geohash_cross_index": _geohash_cross_index_oracle_sql(),
        "quadkey_cross_index": _quadkey_cross_index_oracle_sql(),
        "vocab_estimate": _vocab_estimate_oracle_sql(),
        "streaming_curation": _streaming_curation_oracle_sql(),
        # polyfill_eq_df is the DataFrame-native fleet running the
        # SAME geometry as polyfill_eq; its independent SQL
        # re-derivation is identical by construction.
        "polyfill_eq_df": _polyfill_eq_oracle_sql(),
        # All former rows-only queries graduated to independent
        # oracles: region_cover / zone_from_poly / linetrace_many /
        # polyfill / kring_sizes in round 3 (reference-EXECUTED VALUES
        # oracles, tools/gen_reference_goldens.py); s2_cross_index /
        # s2_encode, hex7_cross_index / hex7_encode, and image_decode
        # in round 4 (pure-SQL re-derivations: recursive-CTE Hilbert
        # walk, SQL gnomonic+GBT hex encoder, PPM byte-math oracle).
    }




def _s2_cross_index_oracle_sql() -> str:
    """Independent S2 re-derivation: the recursive single-bit Hilbert
    CTE (oracle_sql.s2_tokens_sql) joined with the pure-SQL rhp
    encoder, grouped exactly as the Spark query."""
    from rhealpixdggs_spark.oracle_sql import s2_tokens_sql

    enc9 = rhp_encode_sql(ORDERS_POINTS_SQL, 9)
    s2t = s2_tokens_sql(ORDERS_POINTS_SQL)
    return f"""
        WITH rhp AS MATERIALIZED ({enc9}),
        s2t AS MATERIALIZED ({s2t})
        SELECT substr(r.cell_id, 1, 3) AS tile_id, s.s2_l2,
               COUNT(*) AS n
        FROM rhp r JOIN s2t s USING (pid)
        GROUP BY 1, 2
    """


def _s2_encode_oracle_sql() -> str:
    from rhealpixdggs_spark.oracle_sql import s2_tokens_sql

    src = f"SELECT * FROM ({ORDERS_POINTS_SQL}) WHERE pid % 37 = 0"
    return f"""
        SELECT pid, s2_l12, s2_l2 FROM ({s2_tokens_sql(src)})
        ORDER BY pid
    """


def _hex7_cross_index_oracle_sql() -> str:
    """Independent hex7 re-derivation: SQL gnomonic + GBT encoder
    (oracle_sql.hex7_tokens_sql) joined with the pure-SQL rhp encoder,
    grouped exactly as the Spark query."""
    from rhealpixdggs_spark.oracle_sql import hex7_tokens_sql

    enc9 = rhp_encode_sql(ORDERS_POINTS_SQL, 9)
    h7 = hex7_tokens_sql(ORDERS_POINTS_SQL, 9)
    return f"""
        WITH rhp AS MATERIALIZED ({enc9}),
        h7 AS MATERIALIZED ({h7})
        SELECT substr(r.cell_id, 1, 3) AS tile_id, h.hex7_l2,
               COUNT(*) AS n
        FROM rhp r JOIN h7 h USING (pid)
        GROUP BY 1, 2
    """


def _hex7_encode_oracle_sql() -> str:
    from rhealpixdggs_spark.oracle_sql import hex7_tokens_sql

    src = f"SELECT * FROM ({ORDERS_POINTS_SQL}) WHERE pid % 41 = 0"
    return f"""
        SELECT pid, hex7_tok, hex7_l2 FROM ({hex7_tokens_sql(src, 9)})
        ORDER BY pid
    """


def _hex7_compact_oracle_sql() -> str:
    """Integer-arithmetic twin of hex7_compact on the deterministic
    147-cell fixture: roots from the pure-SQL hex7 encoder (res 0),
    children = parent + 2^58 + (d-7)*8^(15-level) (the packed layout's
    digit slots are base-8 digits, kernel/hex7.py), and each compaction
    level is GROUP BY parent HAVING count(*)=7 — within a distinct id
    set the 7 siblings differ only in the 3-bit finest digit, so the
    count IS the all-seven test."""
    from rhealpixdggs_spark.oracle_sql import hex7_tokens_sql

    src = f"SELECT * FROM ({CUSTOMER_POINTS_SQL}) WHERE pid <= 3"
    p58, m1, m2 = 1 << 58, 8**14, 8**13
    par2 = f"(cell - ((cell // {m2}) % 8) * {m2}) + 7*{m2} - {p58}"
    par1 = f"(cell - ((cell // {m1}) % 8) * {m1}) + 7*{m1} - {p58}"
    return f"""
        WITH digs(d) AS (VALUES (0),(1),(2),(3),(4),(5),(6)),
        r0 AS (SELECT pid, CAST('0x' || hex7_tok AS BIGINT) AS cell
               FROM ({hex7_tokens_sql(src, 0)})),
        l1 AS (SELECT pid, cell + {p58} + (d - 7) * {m1} AS cell
               FROM r0, digs),
        l2 AS (SELECT pid, cell + {p58} + (d - 7) * {m2} AS cell
               FROM l1, digs),
        kept AS (SELECT DISTINCT cell FROM l2
                 WHERE pid = 1 OR cell % 13 <> 3),
        p2 AS (SELECT {par2} AS parent FROM kept
               GROUP BY 1 HAVING count(*) = 7),
        c2 AS (SELECT cell FROM kept
               WHERE {par2} NOT IN (SELECT parent FROM p2)
               UNION ALL SELECT parent FROM p2),
        p1 AS (SELECT {par1} AS parent FROM c2
               WHERE cell // {p58} = 1
               GROUP BY 1 HAVING count(*) = 7),
        c1 AS (SELECT cell FROM c2
               WHERE cell // {p58} <> 1
                  OR {par1} NOT IN (SELECT parent FROM p1)
               UNION ALL SELECT parent FROM p1)
        SELECT printf('%016x', cell) AS hex7_tok,
               CAST(cell // {p58} AS INT) AS res
        FROM c1 ORDER BY hex7_tok
    """


def _cell_term_profile_oracle_sql() -> str:
    r"""ANSI twin of operators/ranking.cell_term_profile over the
    shared pure-SQL rhp encoder: same tokenizer (split-on-whitespace
    of trimmed text, empty tokens dropped), integer tf/df, and the
    idf written with the identical IEEE expression tree —
    ln(1 + ((n_cells - df) + 0.5)/(df + 0.5)) — so the rounded score
    and the term-tie-broken rank match bit-for-bit."""
    pts = (
        "SELECT doc_id AS pid, "
        "((doc_id * 9973) % 360000) / 1000.0 - 180.0 AS lon, "
        "((doc_id * 7919) % 178000) / 1000.0 - 89.0 AS lat "
        "FROM documents"
    )
    enc2 = rhp_encode_sql(pts, 2)
    return rf"""
        WITH enc AS MATERIALIZED ({enc2}),
        dt AS (SELECT e.cell_id AS tile_id, d.text
               FROM enc e JOIN documents d ON d.doc_id = e.pid),
        tok AS (SELECT tile_id, t.tok AS term
                FROM dt, unnest(string_split_regex(trim(text), '\s+')) t(tok)
                WHERE length(t.tok) > 0),
        tf AS (SELECT tile_id, term, count(*) AS tf
               FROM tok GROUP BY tile_id, term),
        dft AS (SELECT term, count(*) AS df_cells FROM tf GROUP BY term),
        nc AS (SELECT count(DISTINCT tile_id) AS n_cells FROM tf),
        s AS (SELECT tile_id, term, tf, df_cells,
                round(tf * ln(1.0
                    + ((CAST(n_cells AS DOUBLE) - df_cells) + 0.5)
                    / (df_cells + 0.5)), 6) AS score
              FROM tf JOIN dft USING (term) CROSS JOIN nc),
        r AS (SELECT *, row_number() OVER (PARTITION BY tile_id
                ORDER BY score DESC, term ASC) AS rank FROM s)
        SELECT tile_id, rank, term, tf, df_cells, score
        FROM r WHERE rank <= 5
        ORDER BY tile_id, rank
    """


def _bm25_topk_oracle_sql() -> str:
    """ANSI twin of operators/ranking.bm25_topk: same tokenizer
    (split-on-whitespace of trimmed text), same exact-integer avgdl
    (CAST(sum(dl))/n), and the per-posting weight written with the
    identical IEEE expression tree — ln(1 + ((N - df) + 0.5)/(df+0.5))
    * ((tf*2.2)/(tf + 1.2*(0.25 + (0.75*dl)/avgdl))) — so the rounded
    score and the doc-id-tie-broken rank match bit-for-bit."""
    vals = ", ".join(f"('{q}','{t}')" for q, t in _BM25_QUERY_TERMS)
    return rf"""
        WITH q(query_id, term) AS (VALUES {vals}),
        d AS (SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS dl,
                string_split_regex(trim(text), '\s+') AS toks
              FROM documents),
        stats AS (SELECT count(*) AS n_docs,
                         CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
        tf AS (SELECT doc_id, dl, t.tok AS term, count(*) AS tf
               FROM d, unnest(toks) t(tok)
               WHERE t.tok IN (SELECT DISTINCT term FROM q)
               GROUP BY doc_id, dl, t.tok),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        w AS (SELECT q.query_id, tf.doc_id,
                ln(1.0 + ((CAST(n_docs AS DOUBLE) - df) + 0.5) / (df + 0.5))
                * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS wgt
              FROM tf JOIN dft USING (term) CROSS JOIN stats
                      JOIN q ON q.term = tf.term),
        s AS (SELECT query_id, doc_id, round(sum(wgt), 6) AS score,
                     count(*) AS n_terms_hit FROM w GROUP BY query_id, doc_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id ASC) AS rank FROM s)
        SELECT query_id, doc_id, score, n_terms_hit, rank
        FROM r WHERE rank <= 10
        ORDER BY query_id, rank
    """


def _image_decode_oracle_sql() -> str:
    """Byte-math twin of the PPM round trip: header dims and pixel
    bytes are pure functions of doc_id (multimodal.encode_ppm), so the
    decoded width/height/mean re-derive in SQL from a full-size pixel
    lattice filtered per-document (DuckDB's range() takes no lateral
    parameters) — no image library on either side."""
    return """
        WITH d AS (SELECT doc_id,
                          doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h
                   FROM documents),
        px AS (
          SELECT doc_id, w, h,
            CAST(SUM((doc_id*31 + 7*k) % 256) AS BIGINT) AS s,
            w*h*3 AS n
          FROM d, range(9216) t(k)
          WHERE k < w*h*3
          GROUP BY doc_id, w, h)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(s AS DOUBLE) / n AS mean_px,
               'ppm' AS decoded_by
        FROM px ORDER BY doc_id
    """


def _image_resize_oracle_sql() -> str:
    """Byte-math twin of the PPM encode -> nearest-neighbor resize ->
    decode loop: destination pixel (r, c, ch) of the 8x6 resample is
    source pixel ((r*sh)//6, (c*sw)//8, ch), whose byte value is
    (doc_id*31 + 7*k) % 256 at flat k = (row*sw + col)*3 + ch — all
    derivable from doc_id alone."""
    return """
        WITH d AS (SELECT doc_id,
                          doc_id % 64 + 1 AS sw, doc_id % 48 + 1 AS sh
                   FROM documents),
        px AS (
          SELECT doc_id,
            CAST(SUM((doc_id*31
              + 7*((((t // 24) * sh // 6) * sw + ((t % 24) // 3) * sw // 8)
                   * 3 + t % 3)) % 256) AS BIGINT) AS s
          FROM d, range(144) q(t)
          GROUP BY doc_id)
        SELECT doc_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
               CAST(s AS DOUBLE) / 144 AS mean_px,
               'ppm' AS decoded_by
        FROM px ORDER BY doc_id
    """


def _centroid_quads_oracle_sql() -> str:
    enc2 = rhp_encode_sql(ORDERS_POINTS_SQL, 2)
    cells = (
        f"WITH e AS MATERIALIZED ({enc2}) "
        "SELECT DISTINCT cell_id FROM e "
        "WHERE substr(cell_id, 1, 1) IN ('O','P','Q','R')"
    )
    return f"""
        WITH nuc AS MATERIALIZED ({rhp_nucleus_sql("SELECT cell_id FROM base", 2)}),
        base AS MATERIALIZED ({cells}),
        v AS MATERIALIZED ({rhp_vertices_pivot_sql("SELECT cell_id FROM base", 2)}),
        lat4 AS (
          SELECT cell_id,
            (((max(CASE WHEN nm = 'ul' THEN v_lat END)
             + max(CASE WHEN nm = 'ur' THEN v_lat END))
             + max(CASE WHEN nm = 'dr' THEN v_lat END))
             + max(CASE WHEN nm = 'dl' THEN v_lat END)) / 4 AS lat_bar
          FROM v GROUP BY cell_id)
        SELECT n.cell_id, round(n.n_lon, 9) + 0.0 AS c_lon,
               round(l.lat_bar, 9) + 0.0 AS c_lat
        FROM nuc n JOIN lat4 l ON n.cell_id = l.cell_id
    """


def _boundary_quads_oracle_sql() -> str:
    enc2 = rhp_encode_sql(ORDERS_POINTS_SQL, 2)
    cells = (
        f"WITH e AS MATERIALIZED ({enc2}) "
        "SELECT DISTINCT cell_id FROM e "
        "WHERE substr(cell_id, 1, 1) IN ('O','P','Q','R')"
    )
    pick = ", ".join(
        f"round(max(CASE WHEN nm = '{nm}' THEN v_{ax} END), 9) + 0.0 AS {nm}_{ax}"
        for nm in ("ul", "ur", "dr", "dl")
        for ax in ("lon", "lat")
    )
    return f"""
        WITH v AS MATERIALIZED ({rhp_vertices_pivot_sql(cells, 2)})
        SELECT cell_id, {pick}
        FROM v GROUP BY cell_id
    """




def _neighbors_interior_oracle_sql() -> str:
    res, side = 3, 27
    enc3 = rhp_encode_sql(ORDERS_POINTS_SQL, res)
    row = " + ".join(
        f"(CAST(substr(cell_id, {i + 1}, 1) AS BIGINT) // 3) * {3 ** (res - i)}"
        for i in range(1, res + 1)
    )
    col = " + ".join(
        f"(CAST(substr(cell_id, {i + 1}, 1) AS BIGINT) % 3) * {3 ** (res - i)}"
        for i in range(1, res + 1)
    )

    def suid(r, c):
        digits = " || ".join(
            f"CAST((({r}) // {3 ** (res - i)}) % 3 * 3 "
            f"+ (({c}) // {3 ** (res - i)}) % 3 AS VARCHAR)"
            for i in range(1, res + 1)
        )
        return f"substr(cell_id, 1, 1) || {digits}"

    return f"""
        WITH e AS MATERIALIZED ({enc3}),
        cells AS (SELECT DISTINCT cell_id FROM e),
        rc AS MATERIALIZED (
          SELECT cell_id, ({row}) AS r, ({col}) AS c FROM cells)
        SELECT cell_id,
          {suid('r - 1', 'c')} AS up,
          {suid('r + 1', 'c')} AS down,
          {suid('r', 'c - 1')} AS "left",
          {suid('r', 'c + 1')} AS "right"
        FROM rc
        WHERE r BETWEEN 1 AND {side - 2} AND c BETWEEN 1 AND {side - 2}
    """


def _kring_interior_oracle_sql() -> str:
    res, k = 3, 2
    side = 3**res
    enc = rhp_encode_sql(CUSTOMER_POINTS_SQL, res)
    row = " + ".join(
        f"(CAST(substr(cell_id, {i + 1}, 1) AS BIGINT) // 3) * {3 ** (res - i)}"
        for i in range(1, res + 1)
    )
    col = " + ".join(
        f"(CAST(substr(cell_id, {i + 1}, 1) AS BIGINT) % 3) * {3 ** (res - i)}"
        for i in range(1, res + 1)
    )
    size = 1 + sum(8 * i for i in range(1, k + 1))
    return f"""
        WITH e AS MATERIALIZED ({enc}),
        cells AS (SELECT DISTINCT cell_id FROM e),
        rc AS (SELECT cell_id, ({row}) AS r, ({col}) AS c FROM cells)
        SELECT cell_id, CAST({size} AS INT) AS ring_size
        FROM rc
        WHERE r BETWEEN {k} AND {side - 1 - k} AND c BETWEEN {k} AND {side - 1 - k}
    """


def _suid_from_rc_sql(res: int, r: str, gc: str) -> str:
    """SQL expression rebuilding an equatorial-band suid from integer
    (row-within-face, global column) — base-3 digit interleave
    (cell.py:260-291 inverted), pure integer arithmetic."""
    side = 3**res
    face = (
        f"(CASE ({gc}) // {side} WHEN 0 THEN 'O' WHEN 1 THEN 'P' "
        f"WHEN 2 THEN 'Q' WHEN 3 THEN 'R' END)"
    )
    parts = [face]
    for i in range(1, res + 1):
        p = 3 ** (res - i)
        parts.append(
            f"CAST(3 * ((({r}) // {p}) % 3) "
            f"+ (((({gc}) % {side}) // {p}) % 3) AS VARCHAR)"
        )
    return " || ".join(parts)


def _rc_sql(res: int) -> tuple[str, str]:
    """(row, col) digit-sum SQL for a res-`res` suid in `cell_id`."""
    row = " + ".join(
        f"(CAST(substr(cell_id, {i + 1}, 1) AS BIGINT) // 3) * {3 ** (res - i)}"
        for i in range(1, res + 1)
    )
    col = " + ".join(
        f"(CAST(substr(cell_id, {i + 1}, 1) AS BIGINT) % 3) * {3 ** (res - i)}"
        for i in range(1, res + 1)
    )
    return row, col


_EQ_FACE_NUM_SQL = (
    "(CASE substr(cell_id, 1, 1) WHEN 'O' THEN 0 WHEN 'P' THEN 1 "
    "WHEN 'Q' THEN 2 WHEN 'R' THEN 3 END)"
)


def _neighbors_oracle_sql() -> str:
    """Quad-cell ellipsoidal neighbors re-derived with pure integer
    row/global-column arithmetic (north/south = row -/+ 1, west/east =
    column -/+ 1 cyclically across the four equatorial faces) and the
    digit-interleave suid rebuild — fully independent of the engine's
    digit-walk kernel."""
    res = 2
    side = 3**res
    ring = 4 * side
    enc = rhp_encode_sql(CUSTOMER_POINTS_SQL, res)
    row, col = _rc_sql(res)
    suid = _suid_from_rc_sql(res, "nr", "ngc")
    return f"""
        WITH e AS MATERIALIZED ({enc}),
        cells AS (SELECT DISTINCT cell_id FROM e
                  WHERE substr(cell_id, 1, 1) IN ('O','P','Q','R')),
        rc AS (SELECT cell_id, ({row}) AS r,
                      {_EQ_FACE_NUM_SQL} * {side} + ({col}) AS gc
               FROM cells WHERE ({row}) BETWEEN 1 AND {side - 2}),
        dirs AS (
            SELECT cell_id, 'north' AS direction, r - 1 AS nr, gc AS ngc FROM rc
            UNION ALL SELECT cell_id, 'south', r + 1, gc FROM rc
            UNION ALL SELECT cell_id, 'west', r, (gc + {ring - 1}) % {ring} FROM rc
            UNION ALL SELECT cell_id, 'east', r, (gc + 1) % {ring} FROM rc
        )
        SELECT cell_id, direction, {suid} AS neighbor FROM dirs
    """


def _linetrace_oracle_sql() -> str:
    """Constant-latitude linetrace re-derived as the closed-form
    column walk: encode both endpoints independently (full SQL encode
    pipeline), then generate the inclusive global-column series
    between them on the shared row."""
    res = 3
    side = 3**res
    pts = (
        "SELECT * FROM (VALUES "
        "(0, CAST(-19.9 AS DOUBLE), CAST(9.7 AS DOUBLE)), "
        "(1, CAST(40.1 AS DOUBLE), CAST(9.7 AS DOUBLE))"
        ") t(pid, lon, lat)"
    )
    enc = rhp_encode_sql(pts, res)
    row, col = _rc_sql(res)
    suid = _suid_from_rc_sql(res, "r0", "g")
    return f"""
        WITH e AS MATERIALIZED ({enc}),
        rc AS (SELECT pid, ({row}) AS r,
                      {_EQ_FACE_NUM_SQL} * {side} + ({col}) AS gc FROM e),
        span AS (SELECT
            (SELECT r FROM rc WHERE pid = 0) AS r0,
            (SELECT gc FROM rc WHERE pid = 0) AS g0,
            (SELECT gc FROM rc WHERE pid = 1) AS g1),
        seqs AS (SELECT unnest(generate_series(s.g0, s.g1)) AS g,
                        s.r0 AS r0, s.g0 AS g0
                 FROM span s)
        SELECT CAST(g - g0 AS INT) AS seq, {suid} AS cell_id FROM seqs
    """


def _interval_oracle_sql() -> str:
    from rhealpixdggs_spark.kernel.cells import interval_indices

    lo, hi, res = interval_indices(WGS84_003, "P012", "Q45")
    return _grid_codec_sql(res, str(lo), str(hi + 1))


