"""End-to-end pages pipeline: extract -> encode -> spatial join ->
aggregate, with lineage metrics and snapshot checkpointing.

This is the north-star job shape (BASELINE.json): batch-encode page
geotags into rHEALPix cells at the index resolution, roll up /
containment-join against coarse tiles (broadcast), aggregate per tile
with explicit skew handling, resumable via snapshot manifests."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.udfs import rhp_encode
from .kernel.constants import WGS84_003, DggsConfig
from .operators.joins import containment_join
from .operators.tiling import grid
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


def pages_per_tile(
    pages: DataFrame,
    resolution: int = 9,
    tile_res: int = 2,
    cfg: DggsConfig = WGS84_003,
    n_salt: int = 0,
) -> DataFrame:
    """Per-coarse-tile page count + distinct-language count.

    Packed scale path (default): the encode UDF emits the int64
    level-order key — 8 bytes through Arrow and the shuffle instead of
    a 10-char suid string — the hierarchy rollup is pure integer
    division (rhp_index_parent), and suid strings materialize only on
    the aggregated side (one decode pass over #tiles rows, not #pages).
    With n_salt > 0 the count aggregation is two-phase salted for hot
    urban cells."""
    from .functions.udfs import rhp_encode_index, rhp_index_parent, rhp_index_to_suid

    # Arrow-batched packed encode: an 8-byte int64 key through the
    # shuffle. (The pure-column encode in functions.column_encode is
    # 1.6x faster per core on bare chains but pays seconds of Catalyst
    # planning in composed plans — see its module docstring — so the
    # Arrow kernel stays the pipeline default.) Untagged pages encode
    # to null and drop after the UDF, so the html is decoded and
    # scanned once per page (see encode_pages).
    enc = extract_geotags(pages).withColumn(
        "cell_idx", rhp_encode_index(F.col("lon"), F.col("lat"), resolution, cfg)
    ).where(F.col("cell_idx").isNotNull())
    keyed = enc.select(
        rhp_index_parent(F.col("cell_idx"), resolution, tile_res, cfg).alias(
            "tile_idx"
        ),
        "lang",
    )
    # Distinct-language counting uses HLL sketches in BOTH paths so the
    # salted two-phase plan (partial sketches per salt group, lossless
    # hll_union merge) returns byte-identical estimates to the plain
    # single-phase plan — one aggregation chain, no branch-and-rejoin
    # of the encode subtree.
    if n_salt > 0:
        salt = F.pmod(
            F.hash(F.col("tile_idx"), F.col("lang"), F.spark_partition_id()),
            F.lit(n_salt),
        )
        partial = keyed.groupBy("tile_idx", salt.alias("_salt")).agg(
            F.count(F.lit(1)).alias("_n"),
            F.hll_sketch_agg("lang").alias("_sk"),
        )
        agg = partial.groupBy("tile_idx").agg(
            F.sum("_n").alias("n_pages"),
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("n_langs"),
        )
    else:
        agg = keyed.groupBy("tile_idx").agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.hll_sketch_estimate(F.hll_sketch_agg("lang")).alias("n_langs"),
        )
    return agg.select(
        rhp_index_to_suid(F.col("tile_idx"), tile_res, cfg).alias("tile_id"),
        "tile_idx",
        "n_pages",
        "n_langs",
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
    protocol (scan + encode + rollup + broadcast grid join, no html
    decode).

    Scale path: the encode UDF emits the packed int64 level-order key
    (8 bytes through Arrow and the shuffle instead of a suid string);
    the hierarchy rollup is integer division; the tile suid string only
    materializes on the 486-row tile side."""
    from .functions.udfs import rhp_encode_index, rhp_index_parent

    enc = points.withColumn(
        "cell_idx", rhp_encode_index(F.col("lon"), F.col("lat"), resolution, cfg)
    )
    counts = enc.groupBy(
        rhp_index_parent(F.col("cell_idx"), resolution, tile_res, cfg).alias("tile_idx")
    ).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.approx_count_distinct("lang").alias("n_langs"),
    )
    tiles = (
        grid(spark, tile_res, cfg)
        .withColumnRenamed("cell_id", "tile_id")
        .withColumnRenamed("cell_idx", "tile_idx")
    )
    return (
        tiles.join(counts, "tile_idx", "left")
        .fillna({"n_pages": 0, "n_langs": 0})
        .select("tile_id", "tile_idx", "n_pages", "n_langs")
    )


def full_grid_rollup(
    spark: SparkSession,
    pages: DataFrame,
    resolution: int = 9,
    tile_res: int = 1,
    cfg: DggsConfig = WGS84_003,
) -> DataFrame:
    """Left join of the complete tile grid against page counts —
    includes empty tiles (grid generated distributed via spark.range).
    The join key is the packed int64 tile index on both sides; suid
    strings come from the grid side."""
    tiles = (
        grid(spark, tile_res, cfg)
        .withColumnRenamed("cell_id", "tile_id")
        .withColumnRenamed("cell_idx", "tile_idx")
    )
    counts = pages_per_tile(pages, resolution, tile_res, cfg).drop("tile_id")
    return (
        tiles.join(counts, "tile_idx", "left")
        .fillna({"n_pages": 0, "n_langs": 0})
        .select("tile_id", "n_pages", "n_langs")
    )
