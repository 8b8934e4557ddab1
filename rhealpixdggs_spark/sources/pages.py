"""Deterministic synthetic Common-Crawl-style pages table + geotag
extraction.

Schema per BASELINE.json input_hint:
    (url string, warc_ts timestamp, html binary, text string, lang string)

Everything derives from the row id through xxhash64, so the table is
identical for any partitioning and any cluster size (seed 42,
FIXTURES.md section 1). 80% of geotagged rows cluster around 20 urban
hot spots (Gaussian sigma=0.05 deg) — the skew driver for salted
aggregation; 20% spread quasi-uniformly over the sphere; 10% of rows
carry no geotag (null path / left-anti behavior); a fixed set of polar
points exercises dart/skew/cap cells.

Geotag extraction reads ONLY the html column; the text column passes
through byte-identical (the per-row invariant)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 20 fixed urban hot-spot centers (lon, lat).
URBAN_CENTERS = [
    (-74.0060, 40.7128), (-0.1278, 51.5074), (139.6917, 35.6895),
    (2.3522, 48.8566), (-118.2437, 34.0522), (116.4074, 39.9042),
    (77.2090, 28.6139), (-46.6333, -23.5505), (151.2093, -33.8688),
    (37.6173, 55.7558), (-99.1332, 19.4326), (31.2357, 30.0444),
    (103.8198, 1.3521), (-87.6298, 41.8781), (114.1095, 22.3964),
    (28.9784, 41.0082), (-58.3816, -34.6037), (18.4241, -33.9249),
    (126.9780, 37.5665), (72.8777, 19.0760),
]

# Hand-placed polar-face points (dart/skew-quad/cap coverage).
POLAR_POINTS = [
    (lon, lat)
    for lat in (87.5, 84.0, 75.0, -75.0, -84.0, -87.5)
    for lon in (-170.0, -135.0, -90.0, -45.0, 0.0, 45.0, 90.0, 135.0)
] + [(0.0, 89.9), (0.0, -89.9), (-180.0, 88.0), (-180.0, -88.0),
     (90.0, 89.0), (-90.0, -89.0), (45.0, 86.0), (-45.0, -86.0),
     (10.0, 82.0), (-10.0, -82.0), (170.0, 83.0), (-170.0, -83.0),
     (60.0, 85.5), (-60.0, -85.5), (120.0, 81.5), (-120.0, -81.5)]

_WORDS = (
    "the of and to a in is it that for on as with by this at from or an be "
    "are was not you we they have has had will can all one two three data "
    "page web site news info about home search index map city place street"
).split()


def _u(col_expr, salt: int):
    """Deterministic uniform in [0,1) from a column and salt."""
    h = F.xxhash64(col_expr, F.lit(salt))
    return (F.pmod(h, F.lit(1 << 40))).cast("double") / float(1 << 40)


def _geo_lang_columns(i, seed: int):
    """Shared deterministic geotag/lang derivation (hot-spot skew +
    quasi-uniform sphere + polar probes). Returns (has_geo, lon, lat,
    lang) column expressions over the row-id column `i`."""
    u_geo = _u(i, seed + 1)
    u_urban = _u(i, seed + 2)
    u_center = _u(i, seed + 3)
    u1 = _u(i, seed + 4)
    u2 = _u(i, seed + 5)
    u_lang = _u(i, seed + 6)

    n_centers = len(URBAN_CENTERS)
    center_idx = (u_center * n_centers).cast("int")
    c_lon = F.array(*[F.lit(c[0]) for c in URBAN_CENTERS])[center_idx]
    c_lat = F.array(*[F.lit(c[1]) for c in URBAN_CENTERS])[center_idx]
    eps = 1e-12
    r = F.sqrt(-2.0 * F.log(u1 + eps)) * 0.05
    g1 = r * F.cos(2 * np.pi * u2)
    g2 = r * F.sin(2 * np.pi * u2)
    urban_lon = c_lon + g1
    urban_lat = F.greatest(F.lit(-89.99), F.least(F.lit(89.99), c_lat + g2))
    uni_lon = u1 * 360.0 - 180.0
    uni_lat = F.degrees(F.asin(2.0 * u2 - 1.0)) * (1 - eps)

    n_polar = len(POLAR_POINTS)
    polar_idx = F.pmod(i, F.lit(n_polar)).cast("int")
    p_lon = F.array(*[F.lit(p[0]) for p in POLAR_POINTS])[polar_idx]
    p_lat = F.array(*[F.lit(p[1]) for p in POLAR_POINTS])[polar_idx]

    is_polar_probe = i < n_polar
    has_geo = is_polar_probe | (u_geo >= 0.10)
    lon = (
        F.when(is_polar_probe, p_lon)
        .when(u_urban < 0.8, urban_lon)
        .otherwise(uni_lon)
    )
    lon = F.when(lon >= 180.0, lon - 360.0).when(lon < -180.0, lon + 360.0).otherwise(lon)
    lat = (
        F.when(is_polar_probe, p_lat)
        .when(u_urban < 0.8, urban_lat)
        .otherwise(uni_lat)
    )
    lang = (
        F.when(u_lang < 0.6, "en")
        .when(u_lang < 0.7, "de")
        .when(u_lang < 0.8, "fr")
        .when(u_lang < 0.9, "es")
        .otherwise("ja")
    )
    return has_geo, lon, lat, lang


def synthesize_points(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """(pid, lon, lat, lang) for rows that carry a geotag — the same
    distribution extract_geotags(synthesize_pages(...)) yields, minus
    the html round-trip (used for compute-bound scaling runs)."""
    base = spark.range(0, n_rows, numPartitions=partitions)
    i = F.col("id")
    has_geo, lon, lat, lang = _geo_lang_columns(i, seed)
    return base.select(
        i.alias("pid"), lon.alias("lon"), lat.alias("lat"), lang.alias("lang"),
        has_geo.alias("has_geo"),
    ).where(F.col("has_geo")).drop("has_geo")


def synthesize_pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Build the pages table. Deterministic in (n_rows, seed) only."""
    base = spark.range(0, n_rows, numPartitions=partitions)
    i = F.col("id")
    has_geo, lon, lat, lang = _geo_lang_columns(i, seed)
    u_len = _u(i, seed + 7)

    # Deterministic token soup, 8-80 tokens keyed by id.
    n_tok = (u_len * 72 + 8).cast("int")
    words = F.array(*[F.lit(w) for w in _WORDS])
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda j: words[F.pmod(F.xxhash64(i, j, F.lit(seed + 8)), F.lit(len(_WORDS))).cast("int")],
        ),
    )
    url = F.concat(
        F.lit("https://site"), F.pmod(i, F.lit(1000)).cast("string"),
        F.lit(".example/"), lang, F.lit("/page"), i.cast("string"),
    )
    warc_ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(secs=i.cast("double"))
    geo_meta = F.when(
        has_geo,
        F.concat(
            F.lit('<meta name="geo.position" content="'),
            F.format_number(lat, 6), F.lit(";"), F.format_number(lon, 6),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><head>"), geo_meta, F.lit("</head><body>"),
            text, F.lit("</body></html>"),
        ),
        "utf-8",
    )
    return base.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def _sql_str(s: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def extract_geotags(pages: DataFrame) -> DataFrame:
    """Parse lat;lon out of the geo.position meta tag in html.

    Projects (url, warc_ts, text, lang, lat, lon); `text` is passed
    through untouched — byte-identical per url (the pipeline
    invariant). Rows without a geotag get null lon/lat (kept for the
    left-anti path)."""
    # Each output column is a single expression chain evaluated once:
    # Catalyst inlines these into downstream UDF argument projections
    # (no cross-argument CSE there), so a CASE-style null guard would
    # double-evaluate the decode+regexp per column. nullif keeps it to
    # one evaluation per column. One selectExpr of SQL strings is 11
    # driver->JVM calls; the same projection from Column calls is 122.
    geo = (
        "regexp_extract(decode(html, 'utf-8'), "
        + _sql_str(r'geo\.position" content="([^"]*)"') + ", 1)"
    )

    def coord(pattern: str) -> str:
        return (
            f"CAST(nullif(regexp_replace(regexp_extract({geo}, "
            f"{_sql_str(pattern)}, 1), ',', ''), '') AS DOUBLE)"
        )

    return pages.selectExpr(
        "url",
        "warc_ts",
        "text",
        "lang",
        f"{coord(r'^(-?[0-9.,]+);')} AS lat",
        f"{coord(r';(-?[0-9.,]+)$')} AS lon",
    )


def write_pages_by_tile(
    pages_encoded: DataFrame, path: str, tile_res: int = 2
) -> None:
    """Physical layout for the 100 TB pages table: hive-partitioned by
    the res-`tile_res` cell prefix, so tile-scoped queries prune whole
    directories at planning time (dynamic/static partition pruning,
    SURVEY.md section 4.2) and per-tile joins co-locate without a
    shuffle of the big side. Expects a `cell_id` column (encode_pages
    output); rows without a cell land in tile '_none'."""
    out = pages_encoded.withColumn(
        "tile_prefix",
        F.coalesce(
            F.substring("cell_id", 1, tile_res + 1), F.lit("_none")
        ),
    )
    out.write.mode("overwrite").partitionBy("tile_prefix").parquet(path)


def read_pages_tile(spark, path: str, tile_prefix: str) -> DataFrame:
    """Partition-pruned scan: the filter on the partition column never
    touches non-matching directories (verify with .explain:
    PartitionFilters / 'partitions read')."""
    return spark.read.parquet(path).where(F.col("tile_prefix") == tile_prefix)
