"""End-to-end pages pipeline: extract -> encode -> spatial join ->
aggregate, with lineage metrics and snapshot checkpointing.

This is the north-star job shape (BASELINE.json): batch-encode page
geotags into rHEALPix cells at the index resolution, roll up /
containment-join against coarse tiles (broadcast), aggregate per tile
with explicit skew handling, resumable via snapshot manifests. The
full-grid rollups are one aggregation over the keyed rows unioned
with the grid's tile indices (no grid join); their plans are built
from SQL strings, a few hundred driver->JVM calls per DataFrame."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.udfs import (
    rhp_encode,
    rhp_encode_index,
    rhp_index_parent,
    rhp_index_to_suid,
)
from .kernel.constants import WGS84_003, DggsConfig
from .operators.joins import containment_join
from .operators.tiling import grid_ids
from .sources.pages import extract_geotags


def encode_pages(
    pages: DataFrame, resolution: int = 9, cfg: DggsConfig = WGS84_003
) -> DataFrame:
    """pages -> (url, warc_ts, text, lang, lon, lat, cell_id).

    Column-pruned: the binary html column is read only by the
    extraction projection and dropped before the shuffle; `text`
    passes through byte-identical."""
    tagged = extract_geotags(pages)
    # Null-filter AFTER the UDF: a filter on lon below it would inline
    # the decode + regexp_extract(html) extraction into a Filter and
    # evaluate it again in the Project feeding the UDF. The encode is
    # marked nondeterministic, so Catalyst keeps the filter above its
    # single ArrowEvalPython and reads the projected lon there; a
    # lat-only null just encodes to null.
    return tagged.withColumn(
        "cell_id", rhp_encode(F.col("lon"), F.col("lat"), resolution, cfg)
    ).where(F.col("lon").isNotNull())


def _tile_keyed(
    located: DataFrame, resolution: int, tile_res: int, cfg: DggsConfig
) -> DataFrame:
    """(tile_idx, lang) per located row of (lon, lat, lang): packed
    encode at `resolution`, integer rollup to `tile_res`.

    Arrow-batched packed encode: an 8-byte int64 key through the
    shuffle, one opaque plan node. (An all-column encode was measured
    here and deleted: Catalyst's physical planning re-expanded its
    alias chain, 12-21 s of planning per full_grid_rollup against
    0.6-1.6 s for a whole warm run with this UDF.) Untagged pages
    encode to null and drop after the UDF, so the html is decoded and
    scanned once per page (see encode_pages)."""
    enc = located.select(
        rhp_encode_index("lon", "lat", resolution, cfg).alias("cell_idx"),
        "lang",
    ).where("cell_idx IS NOT NULL")
    return enc.select(
        rhp_index_parent("cell_idx", resolution, tile_res, cfg).alias("tile_idx"),
        "lang",
    )


def pages_per_tile(
    pages: DataFrame,
    resolution: int = 9,
    tile_res: int = 2,
    cfg: DggsConfig = WGS84_003,
    n_salt: int = 0,
) -> DataFrame:
    """Per-coarse-tile page count + distinct-language count, for the
    tiles that hold a page: (tile_id, tile_idx, n_pages, n_langs).

    Packed scale path: the encode UDF emits the int64 level-order key
    — 8 bytes through Arrow and the shuffle instead of a 10-char suid
    string — the hierarchy rollup is pure integer division
    (rhp_index_parent), and suid strings materialize only on the
    aggregated side (one decode pass over #tiles rows, not #pages).
    With n_salt > 0 the count aggregation is two-phase salted for hot
    urban cells."""
    keyed = _tile_keyed(extract_geotags(pages), resolution, tile_res, cfg)
    # Distinct-language counting uses HLL sketches in BOTH paths so the
    # salted two-phase plan (partial sketches per salt group, lossless
    # hll_union merge) returns byte-identical estimates to the plain
    # single-phase plan — one aggregation chain, no branch-and-rejoin
    # of the encode subtree.
    if n_salt > 0:
        agg = keyed.groupBy(
            "tile_idx",
            F.expr(
                f"pmod(hash(tile_idx, lang, spark_partition_id()), {n_salt})"
            ).alias("_salt"),
        ).agg(
            F.expr("count(1) AS _n"), F.expr("hll_sketch_agg(lang) AS _sk")
        ).groupBy("tile_idx").agg(
            F.expr("sum(_n) AS n_pages"),
            F.expr("hll_sketch_estimate(hll_union_agg(_sk)) AS n_langs"),
        )
    else:
        agg = keyed.groupBy("tile_idx").agg(
            F.expr("count(1) AS n_pages"),
            F.expr("hll_sketch_estimate(hll_sketch_agg(lang)) AS n_langs"),
        )
    return agg.select(
        rhp_index_to_suid("tile_idx", tile_res, cfg).alias("tile_id"),
        "tile_idx",
        "n_pages",
        "n_langs",
    )


def _grid_counts(
    spark: SparkSession,
    keyed: DataFrame,
    tile_res: int,
    cfg: DggsConfig,
    n_langs: str,
) -> DataFrame:
    """(tile_idx, n_pages, n_langs) over EVERY res-`tile_res` tile, from
    (tile_idx, lang) rows: one aggregation over the rows unioned with
    one (tile_idx, NULL) row per grid tile. Each tile holds exactly one
    grid row, so n_pages = count - 1, and `n_langs`, the SQL aggregate
    over `lang`, skips the grid rows' NULL: an empty tile reads (0, 0)
    with no grid join and no fillna."""
    tiles = grid_ids(spark, tile_res, cfg).selectExpr(
        "id AS tile_idx", "CAST(NULL AS STRING) AS lang"
    )
    return keyed.unionByName(tiles).groupBy("tile_idx").agg(
        F.expr("count(1) - 1 AS n_pages"), F.expr(f"{n_langs} AS n_langs")
    )


def pages_tile_join(
    pages: DataFrame,
    tiles: DataFrame,
    resolution: int = 9,
    cfg: DggsConfig = WGS84_003,
) -> DataFrame:
    """Containment join of encoded pages against an explicit
    (possibly mixed-resolution) tile table; coarse tiles broadcast."""
    enc = encode_pages(pages, resolution, cfg)
    return containment_join(enc, tiles)


def points_grid_rollup(
    spark: SparkSession,
    points: DataFrame,
    resolution: int = 9,
    tile_res: int = 2,
    cfg: DggsConfig = WGS84_003,
) -> DataFrame:
    """full_grid_rollup starting from an already-extracted points table
    (pid, lon, lat, lang) — the engine-stage job used by the scaling
    protocol (scan + encode + rollup, no html decode). Output:
    (tile_id, tile_idx, n_pages, n_langs) over every tile, with
    approx_count_distinct languages.

    Scale path: the encode UDF emits the packed int64 level-order key
    (8 bytes through Arrow and the shuffle instead of a suid string);
    the hierarchy rollup is integer division; the tile suid string only
    materializes on the aggregated tile rows."""
    keyed = _tile_keyed(points, resolution, tile_res, cfg)
    return _grid_counts(
        spark, keyed, tile_res, cfg, "approx_count_distinct(lang)"
    ).select(
        rhp_index_to_suid("tile_idx", tile_res, cfg).alias("tile_id"),
        "tile_idx",
        "n_pages",
        "n_langs",
    )


def full_grid_rollup(
    spark: SparkSession,
    pages: DataFrame,
    resolution: int = 9,
    tile_res: int = 1,
    cfg: DggsConfig = WGS84_003,
) -> DataFrame:
    """Per-tile page count + HLL distinct-language count over the
    complete res-`tile_res` grid, empty tiles included as (0, 0):
    (tile_id, n_pages, n_langs). One aggregation over the keyed pages
    unioned with the grid's tile indices (spark.range), so the plan has
    one shuffle and no join; suid strings are decoded from the packed
    int64 key on the aggregated tile rows."""
    keyed = _tile_keyed(extract_geotags(pages), resolution, tile_res, cfg)
    return _grid_counts(
        spark, keyed, tile_res, cfg, "hll_sketch_estimate(hll_sketch_agg(lang))"
    ).select(
        rhp_index_to_suid("tile_idx", tile_res, cfg).alias("tile_id"),
        "n_pages",
        "n_langs",
    )
