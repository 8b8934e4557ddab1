"""End-to-end pages pipeline, snapshot resume, lineage, streaming."""

import os

import pytest
from pyspark.sql import functions as F

from rhealpixdggs_spark.pipeline import (
    encode_pages,
    full_grid_rollup,
    pages_per_tile,
    pages_tile_join,
)
from rhealpixdggs_spark.sources.pages import (
    POLAR_POINTS,
    extract_geotags,
    synthesize_pages,
)
from rhealpixdggs_spark.sources.snapshots import (
    SnapshotTable,
    lineage_metrics,
    observed,
)


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, 5000).cache()


class TestPages:
    def test_deterministic_across_partitioning(self, spark):
        a = synthesize_pages(spark, 300, partitions=1).orderBy("url").collect()
        b = synthesize_pages(spark, 300, partitions=13).orderBy("url").collect()
        assert a == b

    def test_schema_and_nulls(self, pages):
        assert [f.name for f in pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang",
        ]
        tagged = extract_geotags(pages)
        n = pages.count()
        n_geo = tagged.where(F.col("lon").isNotNull()).count()
        # ~10% carry no geotag (minus the polar probes).
        assert 0.85 * n < n_geo < 0.95 * n

    def test_text_byte_identical_passthrough(self, pages):
        tagged = extract_geotags(pages)
        joined = pages.select("url", "text").join(
            tagged.select("url", F.col("text").alias("text2")), "url"
        )
        assert joined.where(F.col("text") != F.col("text2")).count() == 0

    def test_polar_probes_cover_polar_faces(self, spark, pages):
        enc = encode_pages(pages, resolution=3)
        faces = {
            r.f
            for r in enc.where(F.col("cell_id").isNotNull())
            .select(F.substring("cell_id", 1, 1).alias("f"))
            .distinct()
            .collect()
        }
        assert faces == {"N", "O", "P", "Q", "R", "S"}
        assert len(POLAR_POINTS) >= 64

    def test_skewed_hotspots(self, spark, pages):
        # Urban hot spots should concentrate pages in few res-5 cells.
        counts = (
            encode_pages(pages, resolution=5)
            .where(F.col("cell_id").isNotNull())
            .groupBy("cell_id")
            .count()
            .orderBy(F.desc("count"))
            .limit(20)
            .collect()
        )
        total = pages.count()
        top20 = sum(r["count"] for r in counts)
        assert top20 > 0.5 * total  # heavy skew by construction


class TestPipeline:
    def test_pages_per_tile_salted_matches_plain(self, spark, pages):
        plain = pages_per_tile(pages, 6, 2).orderBy("tile_id")
        salted = pages_per_tile(pages, 6, 2, n_salt=8).orderBy("tile_id")
        a = [(r.tile_id, r.n_pages) for r in plain.collect()]
        b = [(r.tile_id, r.n_pages) for r in salted.select("tile_id", "n_pages").collect()]
        assert a == b

    def test_full_grid_rollup_counts(self, spark, pages):
        out = full_grid_rollup(spark, pages, resolution=4, tile_res=1).cache()
        assert out.count() == 54  # all res-1 tiles present
        n_geo = extract_geotags(pages).where(F.col("lon").isNotNull()).count()
        assert out.agg(F.sum("n_pages")).collect()[0][0] == n_geo

    def test_tile_join_broadcast_plan(self, spark, pages):
        tiles = spark.createDataFrame(
            [("N", 0), ("Q3", 1)], ["tile_id", "res"]
        ).select("tile_id")
        out = pages_tile_join(pages, tiles, resolution=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # Every joined row's cell is a prefix-descendant of its tile.
        bad = out.where(
            F.substring("cell_id", 1, F.length("tile_id")) != F.col("tile_id")
        )
        assert bad.isEmpty()


def _expected_rollup(pages, resolution, tile_res):
    """{tile_id: (n_pages, n_langs)} over every res-`tile_res` tile,
    computed off Spark from the collected html and lang: Python regex
    geotag parse, NumPy encode_index, integer parent, bincount."""
    import re

    import numpy as np

    from rhealpixdggs_spark.kernel import cells as KC
    from rhealpixdggs_spark.kernel.constants import WGS84_003 as cfg

    lon, lat, lang = [], [], []
    for r in pages.select("html", "lang").collect():
        m = re.search(r'geo\.position" content="([^"]*)"', bytes(r.html).decode("utf-8"))
        if m is None:
            continue
        la, lo = m.group(1).replace(",", "").split(";")
        lon.append(float(lo))
        lat.append(float(la))
        lang.append(r.lang)
    b = cfg.N_side**2
    n_tiles = 6 * b**tile_res
    base_p = cfg.num_cells(0, tile_res - 1) if tile_res > 0 else 0
    idx = KC.encode_index(cfg, np.array(lon, dtype=np.float64),
                          np.array(lat, dtype=np.float64), resolution)
    assert (idx >= 0).all()
    tile = (idx - cfg.num_cells(0, resolution - 1)) // b ** (resolution - tile_res)
    n_pages = np.bincount(tile, minlength=n_tiles)
    langs = [set() for _ in range(n_tiles)]
    for t, g in zip(tile, lang):
        langs[t].add(g)
    face, digits = KC.suid_from_level_order_index(
        cfg, np.arange(n_tiles, dtype=np.int64) + base_p, tile_res
    )
    return {
        str(s): (int(n), len(g))
        for s, n, g in zip(KC.suid_strings(face, digits), n_pages, langs)
    }


class TestGridRollupOracle:
    @pytest.mark.parametrize("n_rows", [0, 50, 3000])
    @pytest.mark.parametrize("tile_res", [0, 1, 2])
    def test_rollup_matches_numpy(self, spark, n_rows, tile_res):
        """full_grid_rollup equals the off-Spark expectation on every
        tile, empty tiles as (0, 0); pages_per_tile (plain and salted)
        equals it on the non-empty tiles."""
        pages = synthesize_pages(spark, n_rows, partitions=2).cache()
        want = _expected_rollup(pages, 9, tile_res)
        got = {
            r.tile_id: (r.n_pages, r.n_langs)
            for r in full_grid_rollup(spark, pages, 9, tile_res).collect()
        }
        assert len(got) == 6 * 9**tile_res
        assert got == want
        empty = [t for t, (n, _) in want.items() if n == 0]
        assert all(got[t] == (0, 0) for t in empty)
        nonempty = {t: v for t, v in want.items() if v[0] > 0}
        for n_salt in (0, 4):
            per_tile = pages_per_tile(pages, 9, tile_res, n_salt=n_salt)
            assert {
                r.tile_id: (r.n_pages, r.n_langs) for r in per_tile.collect()
            } == nonempty
        pages.unpersist()


class TestSnapshots:
    def test_snapshot_write_read(self, spark, pages, tmp_path):
        t = SnapshotTable(str(tmp_path / "tbl"))
        enc = encode_pages(pages.limit(200), 5)
        n = enc.count()  # null-geotag rows are filtered pre-encode
        assert 0 < n <= 200
        snap1 = t.write(enc)
        assert t.current_snapshot() == snap1
        back = t.read(spark)
        assert back.count() == n
        m = t.manifest()
        assert m["row_count"] == n and m["files"]

    def test_partitioned_resume_skips_completed(self, spark, pages, tmp_path):
        t = SnapshotTable(str(tmp_path / "ptbl"))
        enc = encode_pages(pages.limit(500), 3).where(F.col("cell_id").isNotNull())
        keyed = enc.withColumn("face", F.substring("cell_id", 1, 1))
        r1 = t.write_partitioned(keyed, "face", partition_values=["N", "O", "P"])
        assert sorted(r1["written"]) == ["N", "O", "P"] and r1["skipped"] == []
        # Rerun with more partitions: previously completed ones skip.
        r2 = t.write_partitioned(keyed, "face")
        assert sorted(r2["skipped"]) == ["N", "O", "P"]
        assert set(r2["written"]) == {"Q", "R", "S"}
        back = t.read_partitioned(spark)
        assert back.count() == keyed.count()
        # Lineage metrics recorded per partition.
        parts = t.completed_partitions()
        assert all("rows" in v and "seconds" in v for v in parts.values())

    def test_lineage_and_observe(self, spark, pages):
        enc = encode_pages(pages.limit(300), 4).repartition(4)
        n = enc.count()  # null-geotag rows filtered pre-encode
        lm = lineage_metrics(enc).collect()
        assert sum(r.rows for r in lm) == n
        df, obs = observed(enc, "stage1", F.count(F.lit(1)).alias("rows"))
        df.write.format("noop").mode("overwrite").save()
        assert obs.get["rows"] == n


class TestStreaming:
    def test_streaming_counts_match_batch(self, spark, pages, tmp_path):
        src = str(tmp_path / "src")
        pages.limit(1000).write.parquet(src)
        from rhealpixdggs_spark.streaming.pipeline import run_available_now

        run_available_now(
            spark, src, str(tmp_path / "ckpt"), sink_table="t_stream",
            resolution=5, rollup_res=1, window="1 hour", watermark="0 seconds",
        )
        got = spark.sql(
            "select tile_id, sum(n_pages) n from t_stream group by tile_id"
        )
        batch = pages_per_tile(spark.read.parquet(src), 5, 1).select(
            "tile_id", F.col("n_pages").alias("n")
        )
        diff = got.exceptAll(batch)
        assert diff.isEmpty(), diff.limit(5).collect()
