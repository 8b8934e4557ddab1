"""Physical-plan shape checks for the newer operators: the plan the
optimizer picks IS the scale contract (SURVEY.md section 4.2), so we
pin it — one shuffle for zonal stats, broadcast for tile painting, no
Python in the bitwise hex7 hierarchy ops."""

import re

from pyspark.sql import functions as F

from rhealpixdggs_spark.operators.raster import (
    cells_to_raster,
    raster_grid,
    raster_to_cells,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestRasterPlans:
    def test_raster_to_cells_single_shuffle(self, spark):
        plan = _plan(raster_to_cells(raster_grid(spark, 144, 72), res=1))
        assert plan.count("Exchange") == 1  # only the per-cell agg
        assert plan.count("ArrowEvalPython") == 1  # one encode pass
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_cells_to_raster_broadcasts_tiles(self, spark):
        tiles = spark.createDataFrame([("N4",), ("O0",)], ["cell_id"])
        plan = _plan(cells_to_raster(raster_grid(spark, 144, 72), tiles, res=1))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestHex7Plans:
    def test_parent_and_metadata_ops_stay_jvm_side(self, spark):
        from rhealpixdggs_spark.functions.hex7_udfs import (
            hex7_face,
            hex7_parent,
            hex7_resolution,
            hex7_token,
        )

        cells = spark.range(100).select((F.col("id") + (9 << 58)).alias("cell"))
        out = cells.select(
            hex7_parent(F.col("cell"), 3).alias("p"),
            hex7_resolution(F.col("cell")).alias("r"),
            hex7_face(F.col("cell")).alias("f"),
            hex7_token(F.col("cell")).alias("t"),
        )
        plan = _plan(out)
        assert "EvalPython" not in plan  # pure bitwise column math
        assert "*(1)" in plan  # inside a whole-stage-codegen stage


class TestHierarchyPlans:
    def test_rhp_hierarchy_ops_stay_jvm_side(self, spark):
        from rhealpixdggs_spark.functions.udfs import (
            rhp_base_cell,
            rhp_center_child,
            rhp_is_valid_col,
            rhp_parent,
            rhp_resolution,
        )

        cells = spark.createDataFrame([("N12345",), ("S00110",)], ["cell_id"])
        out = cells.select(
            rhp_parent(F.col("cell_id"), 2).alias("p"),
            rhp_center_child(F.col("cell_id"), 7).alias("c"),
            rhp_is_valid_col(F.col("cell_id")).alias("v"),
            rhp_resolution(F.col("cell_id")).alias("r"),
            rhp_base_cell(F.col("cell_id")).alias("b"),
        )
        plan = _plan(out)
        assert "EvalPython" not in plan


class TestPartitionPruning:
    def test_tile_partitioned_layout_prunes_directories(self, spark, tmp_path):
        from rhealpixdggs_spark.pipeline import encode_pages
        from rhealpixdggs_spark.sources.pages import (
            read_pages_tile,
            synthesize_pages,
            write_pages_by_tile,
        )

        pages = synthesize_pages(spark, 2000, partitions=4)
        enc = encode_pages(pages, resolution=9)
        path = str(tmp_path / "pages_by_tile")
        write_pages_by_tile(enc, path, tile_res=1)

        all_tiles = [
            r.tile_prefix
            for r in spark.read.parquet(path).select("tile_prefix").distinct().collect()
        ]
        target = sorted(t for t in all_tiles if t != "_none")[0]
        df = read_pages_tile(spark, path, target)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the partition filter reaches the scan; no row-level filter on
        # the partition column survives
        assert "PartitionFilters: [isnotnull(tile_prefix" in plan
        # and the scan's file index selected a single directory
        n_sel = df.select(F.input_file_name()).distinct().count()
        import os

        files_in_target = sum(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(path, f"tile_prefix={target}"))
        )
        assert n_sel == files_in_target
        assert df.count() > 0

    def test_tile_partitioned_layout_dynamic_pruning(self, spark, tmp_path):
        """SURVEY section 4.2's runtime claim (VERDICT r4 item 7): when
        the tile join's SMALL side is filtered at runtime — the tile set
        is not known until the dimension scan runs — Spark's dynamic
        partition pruning must inject the broadcast result into the
        pages scan's PartitionFilters, so the 100-TB fact table reads
        only the surviving tile directories."""
        import os

        from rhealpixdggs_spark.pipeline import encode_pages
        from rhealpixdggs_spark.sources.pages import (
            synthesize_pages,
            write_pages_by_tile,
        )

        pages = synthesize_pages(spark, 5000, partitions=4)
        enc = encode_pages(pages, resolution=9)
        fact_path = str(tmp_path / "pages_by_tile")
        write_pages_by_tile(enc, fact_path, tile_res=1)

        # dim: one row per tile with an attribute only known at runtime
        # (written to parquet so the filter cannot constant-fold)
        tiles = (
            spark.read.parquet(fact_path)
            .select("tile_prefix")
            .distinct()
            .withColumn(
                "quality",
                F.when(
                    F.crc32(F.col("tile_prefix")) % 7 == 0, "hot"
                ).otherwise("cold"),
            )
        )
        dim_path = str(tmp_path / "tile_dim")
        tiles.write.mode("overwrite").parquet(dim_path)

        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).where(F.col("quality") == "hot")
        joined = (
            fact.join(F.broadcast(dim), "tile_prefix")
            .groupBy("tile_prefix")
            .count()
        )
        plan = _plan(joined)
        assert "dynamicpruningexpression(tile_prefix" in plan.lower()
        # and the pruning is real: the scan reads only the hot tiles'
        # directories, a strict subset of the layout
        hot = {r.tile_prefix for r in dim.select("tile_prefix").collect()}
        all_dirs = {
            d.split("=", 1)[1]
            for d in os.listdir(fact_path)
            if d.startswith("tile_prefix=")
        }
        assert 0 < len(hot) < len(all_dirs)
        read_dirs = {
            os.path.basename(os.path.dirname(r[0])).split("=", 1)[1]
            for r in fact.withColumn("_f", F.input_file_name())
            .join(F.broadcast(dim), "tile_prefix")
            .select("_f")
            .distinct()
            .collect()
        }
        assert read_dirs == hot


class TestSqlApi:
    def test_registered_functions_match_column_api(self, spark):
        from rhealpixdggs_spark.functions.sql_api import register_sql_functions
        from rhealpixdggs_spark.functions.udfs import rhp_encode
        from rhealpixdggs_spark.kernel import hex7 as H7
        from rhealpixdggs_spark.kernel import s2 as S2
        import numpy as np

        register_sql_functions(spark)
        pts = spark.createDataFrame(
            [(1, 10.0, 20.0), (2, -100.0, -40.0), (3, 179.9, 85.0), (4, None, 5.0)],
            ["id", "lon", "lat"],
        )
        pts.createOrReplaceTempView("pts_sql_api")
        rows = spark.sql(
            """SELECT id, rhp_encode(lon, lat, 7) AS c,
                      rhp_encode(lon, lat, id) AS cv,
                      rhp_encode_idx(lon, lat, 7) AS ci,
                      rhp_nucleus(rhp_encode(lon, lat, 2)).lon AS nlon,
                      hex7_encode(lon, lat, 6) AS h7,
                      s2_encode(lon, lat, 12) AS s2
               FROM pts_sql_api ORDER BY id"""
        ).collect()
        col = {
            r.id: r.cell
            for r in pts.select(
                "id", rhp_encode(F.col("lon"), F.col("lat"), 7).alias("cell")
            ).collect()
        }
        for r in rows:
            assert r.c == col[r.id]
            if r.id == 4:
                assert r.c is None and r.ci is None and r.h7 is None
            else:
                assert len(r.cv) == r.id + 1  # variable-resolution arg
                assert r.ci is not None
        lon = np.array([10.0, -100.0, 179.9])
        lat = np.array([20.0, -40.0, 85.0])
        assert [r.h7 for r in rows[:3]] == H7.encode(lon, lat, 6).tolist()
        assert [r.s2 for r in rows[:3]] == S2.cell_id_from_lonlat(lon, lat, 12).tolist()


class TestRegionCoverDf:
    def test_matches_kernel_matrix(self, spark):
        from rhealpixdggs_spark.kernel import regions as KR
        from rhealpixdggs_spark.kernel.constants import WGS84_003
        from rhealpixdggs_spark.operators.tiling import region_cover_df

        R = WGS84_003.R_A
        nw = (-0.2 * R, 0.4 * R)
        se = (0.5 * R, -0.1 * R)
        mat = KR.cells_from_region(WGS84_003, 4, nw, se, plane=True)
        expected = {
            (ri, ci, str(c))
            for ri, row in enumerate(mat)
            for ci, c in enumerate(row)
        }
        got = {
            (r.row_i, r.col_i, r.cell_id)
            for r in region_cover_df(spark, 4, nw, se).collect()
        }
        assert got == expected

    def test_polar_overflow_cells_filtered(self, spark):
        from rhealpixdggs_spark.kernel.constants import WGS84_003
        from rhealpixdggs_spark.operators.tiling import region_cover_df

        R = WGS84_003.R_A
        import numpy as np

        # rect straddling the north polar square's right edge: cells
        # outside the image (right of the N square, above the
        # equatorial band) must drop out, not crash
        nw = (-0.9 * np.pi * R, 0.6 * np.pi * R)
        se = (0.2 * np.pi * R, 0.3 * np.pi * R)
        rows = region_cover_df(spark, 3, nw, se).collect()
        assert len(rows) > 0
        assert all(r.cell_id.startswith("N") for r in rows)
        # and some (row, col) positions of the requested rect are gone
        span = (max(r.row_i for r in rows) + 1) * (max(r.col_i for r in rows) + 1)
        assert len(rows) < span or max(r.col_i for r in rows) > 0


class TestDistributedCoverPlans:
    def test_polyfill_cover_is_not_driver_materialized(self, spark):
        """Round-1 verdict item 4: the ellipsoidal polyfill candidates
        must come from a distributed generator (spark.range column
        span), not a driver-side kernel + createDataFrame of all
        cells. Only the per-row walk table (#rows, not #cells) may be
        a local relation."""
        from __spark_entry__ import EURO_RING
        from rhealpixdggs_spark.operators.tiling import polyfill_df

        df = polyfill_df(spark, {"euro": [(EURO_RING, [])]}, res=3, plane=False)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Range (" in plan  # distributed column-span generation
        # even-odd containment is column math, not a second UDF pass
        exec_plan = _plan(df)
        assert "BatchEvalPython" not in exec_plan

    def test_pages_rollup_scans_html_once(self, spark):
        """pages_per_tile and encode_pages filter AFTER the encode:
        no Filter re-runs the decode + regexp_extract over html below
        the Project that feeds the encode, and the encode is one
        ArrowEvalPython."""
        from rhealpixdggs_spark.pipeline import encode_pages, pages_per_tile
        from rhealpixdggs_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, 500, partitions=2)
        for out in (pages_per_tile(pages, 9, 2), encode_pages(pages, 9)):
            plan = _plan(out)
            filters = [
                ln for ln in plan.splitlines()
                if re.match(r"[\s:+\-]*(\*\(\d+\) )?Filter ", ln)
            ]
            assert filters
            assert not any("html" in ln for ln in filters), filters
            assert plan.count("ArrowEvalPython") == 1
        assert pages_per_tile(pages, 9, 2).where(
            F.col("tile_id").isNull()
        ).count() == 0

    def test_headline_rollup_shuffles_int64_not_strings(self, spark):
        """The pages rollup's shuffle key is the packed int64 index;
        suid strings only materialize after aggregation (#tiles rows)."""
        from rhealpixdggs_spark.pipeline import pages_per_tile
        from rhealpixdggs_spark.sources.pages import synthesize_pages

        out = pages_per_tile(synthesize_pages(spark, 500, partitions=2), 9, 2)
        plan = _plan(out)
        assert "hashpartitioning(tile_idx" in plan
        assert "substring" not in plan.lower()


class TestGridRollupPlan:
    def test_full_grid_rollup_is_one_aggregation(self, spark):
        """The empty tiles come from a union with the grid's indices,
        not a join: one shuffle, one encode pass, no broadcast."""
        from rhealpixdggs_spark.pipeline import full_grid_rollup
        from rhealpixdggs_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, 500, partitions=2)
        plan = _plan(full_grid_rollup(spark, pages, 9, 2))
        assert "Join" not in plan
        assert "BroadcastExchange" not in plan
        assert plan.count("Exchange") == 1
        assert plan.count("ArrowEvalPython") == 1

    def test_full_grid_rollup_build_cost(self, spark, monkeypatch):
        """Building the rollup DataFrame takes at most 300 driver->JVM
        calls (the minimum over 3 warm builds): its builders are SQL
        strings, where Column calls cost several round trips each."""
        from py4j.clientserver import ClientServerConnection

        from rhealpixdggs_spark.pipeline import full_grid_rollup
        from rhealpixdggs_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, 500, partitions=2)
        full_grid_rollup(spark, pages, 9, 2)  # warm-up
        calls = [0]
        send = ClientServerConnection.send_command

        def counting(self, command, *args, **kwargs):
            calls[0] += 1
            return send(self, command, *args, **kwargs)

        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        counts = []
        for _ in range(3):
            calls[0] = 0
            full_grid_rollup(spark, pages, 9, 2)
            counts.append(calls[0])
        print(f"full_grid_rollup build py4j calls: {counts}")
        assert 0 < min(counts) <= 300, counts


class TestGridScale:
    def test_res6_grid_generates_distributed(self, spark):
        """3.19M cells from spark.range + the index codec — no driver
        materialization, no successor chain (SURVEY 2.4)."""
        from rhealpixdggs_spark.kernel.constants import WGS84_003
        from rhealpixdggs_spark.operators.tiling import grid

        g = grid(spark, 6, partitions=32)
        assert g.count() == 6 * 9**6
        lo = WGS84_003.num_cells(0, 5)
        row = g.where(F.col("cell_idx") == lo).first()
        assert row.cell_id == "N000000"
        hi = g.agg(F.max("cell_idx")).first()[0]
        assert hi == lo + 6 * 9**6 - 1


class TestPackedContainmentPlan:
    def test_int64_keys_and_broadcast(self, spark):
        from rhealpixdggs_spark.functions.udfs import rhp_encode_index
        from rhealpixdggs_spark.operators.joins import containment_join_idx

        pts = spark.range(1000).select(
            (F.col("id") % 360 - 180.0).alias("lon"),
            (F.col("id") % 170 - 85.0).alias("lat"),
        ).select(rhp_encode_index(F.col("lon"), F.col("lat"), 5).alias("cell_idx"))
        tiles = spark.range(60, 546).select(F.col("id").alias("tile_idx"))
        out = containment_join_idx(pts, tiles, point_res=5, tile_res=2)
        plan = _plan(out)
        assert "BroadcastHashJoin [cast(" in plan or "BroadcastHashJoin" in plan
        # join key is integer math on the packed index, not a string op
        assert "substring" not in plan.lower()
        assert out.count() > 0


class TestCompressLineage:
    def test_deep_compress_bounded_plan(self, spark):
        """Round-2 verdict item 5: a res-12 telescope set (collapses 12
        levels to a single res-0 cell) must not carry a 12-deep
        nested-union lineage — localCheckpoint every 3 levels bounds
        the final plan regardless of input resolution."""
        from rhealpixdggs_spark.operators.tiling import compress_cells_df

        deep = "R" + "0" * 11
        cells = [deep[:n] + d for n in range(1, 12) for d in "12345678"]
        cells += [deep + d for d in "012345678"]
        df = spark.createDataFrame([(c,) for c in cells], ["cell_id"])
        out = compress_cells_df(df)
        assert [r.cell_id for r in out.collect()] == ["R"]
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # lineage truncated: at most checkpoint_every union levels remain
        assert plan.count("Union") <= 3
        assert "LogicalRDD" in plan or "ExistingRDD" in plan


class TestPolygonJoinCover:
    def test_large_cover_generated_distributed(self, spark):
        """Round-2 verdict item 6, at every bbox size: polygon_join never
        builds a driver-side (zone, cell_id) cover table — its
        candidates are fleet_candidate_idx's column spans, joined on
        the packed int64 index — and its rows equal the kernel's
        points_in_polygon brute force, for a small and a
        continental-size triangle."""
        import numpy as np

        from rhealpixdggs_spark.kernel import regions as KR
        from rhealpixdggs_spark.operators.joins import polygon_join

        rows = [(i, -15.0 + i * 0.7, -8.0 + (i * 3) % 17) for i in range(80)]
        pts = spark.createDataFrame(rows, ["pid", "lon", "lat"])
        lon = np.array([r[1] for r in rows])
        lat = np.array([r[2] for r in rows])
        small = [(-10.0, -10.0), (25.0, -12.0), (8.0, 20.0), (-10.0, -10.0)]
        big = [(-60.0, -50.0), (70.0, -55.0), (5.0, 65.0)]
        for tri in (small, big):
            out = polygon_join(pts, [("tri", tri, [])], res=3)
            exp = sorted(
                (rows[i][0], "tri")
                for i in np.flatnonzero(KR.points_in_polygon(lon, lat, tri))
            )
            assert sorted((r.pid, r.zone) for r in out.collect()) == exp
            assert exp
            for name in ("optimizedPlan", "executedPlan"):
                plan = getattr(out._jdf.queryExecution(), name)().toString()
                # driver-built relations: the points and the vertex table
                local = re.findall(
                    r"(?:LocalRelation|LocalTableScan|LogicalRDD"
                    r"|Scan ExistingRDD) ?\[([^\]]*)\]", plan
                )
                assert len(local) >= 2, plan
                assert not any("cell_id" in cols for cols in local), local
                assert "cell_id" not in plan
                assert "_idx" in plan


class TestBucketedJoins:
    def test_bucketed_join_and_agg_have_no_exchange(self, spark):
        """Tables bucketed+sorted on the packed tile index join and
        aggregate with ZERO Exchange — the repeated-join layout for
        the 100 TB corpus (sources/bucketing.py)."""
        from rhealpixdggs_spark.functions.udfs import rhp_encode_index
        from rhealpixdggs_spark.sources.bucketing import (
            read_bucketed,
            write_bucketed,
        )
        from rhealpixdggs_spark.sources.pages import synthesize_points

        pts = synthesize_points(spark, 5000, partitions=4).withColumn(
            "tile_idx", rhp_encode_index(F.col("lon"), F.col("lat"), 5)
        )
        write_bucketed(pts, "t_bucket_a", n_buckets=8)
        write_bucketed(
            pts.groupBy("tile_idx").count(), "t_bucket_b", n_buckets=8
        )
        try:
            a = read_bucketed(spark, "t_bucket_a")
            b = read_bucketed(spark, "t_bucket_b")
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = a.join(b, "tile_idx")
                plan = joined._jdf.queryExecution().executedPlan().toString()
                assert "Exchange" not in plan  # co-located SMJ
                assert "SortMergeJoin" in plan
                agg = a.groupBy("tile_idx").count()
                agg_plan = agg._jdf.queryExecution().executedPlan().toString()
                assert "Exchange" not in agg_plan  # bucket-local agg
                assert joined.count() == a.count()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        finally:
            spark.sql("DROP TABLE IF EXISTS t_bucket_a")
            spark.sql("DROP TABLE IF EXISTS t_bucket_b")


class TestCurationPipeline:
    def test_curation_pipeline_plan_shape(self, spark, sf_dir):
        """The flagship curation composite plans as: map-fused
        quality/repetition filters -> ONE md5 dedup exchange with
        map-side WindowGroupLimit (top-1 per text computed before the
        shuffle) -> map-side sample filter -> ONE lang-agg exchange.
        No Python anywhere."""
        import __spark_entry__ as entry

        df = entry.queries()["curation_pipeline"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 2
        assert "EvalPython" not in plan
        # dedup's row_number()=1 is pushed map-side: partial group
        # limit below the exchange, final above it
        assert plan.count("WindowGroupLimit") == 2

    def test_reference_golden_sweeps_are_map_only(self, spark, sf_dir):
        """The full-grid reference-golden sweeps (decode_all,
        neighbors_all, kring_sizes) are spark.range -> Arrow UDF ->
        explode/project: zero Exchange — a planet-scale res-9 sweep
        (2.3e9 cells) would run as one embarrassingly parallel map."""
        import __spark_entry__ as entry

        for name in ["decode_all", "neighbors_all", "kring_sizes"]:
            df = entry.queries()[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, name

    def test_map_only_curation_ops(self, spark, sf_dir):
        """doc_chunks, pii_redaction and repetition_signals are pure
        map stages: zero Exchange, zero Python in the physical plan —
        at 1e12 pages they fuse into the scan."""
        import __spark_entry__ as entry

        for name in ["doc_chunks", "pii_redaction", "repetition_signals"]:
            df = entry.queries()[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, name
            assert "EvalPython" not in plan, name


class TestNearDupLshPlan:
    def test_no_nested_loop_anywhere(self, spark):
        """VERDICT r4 item 1: embedding near-pair enumeration must be
        the banded equi-join plan — no BroadcastNestedLoopJoin, no
        CartesianProduct — unlike the all-pairs embedding_near_pairs
        it replaces at scale."""
        from rhealpixdggs_spark.operators.dedup import embedding_near_pairs_lsh

        emb = spark.range(200).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.rand(seed=i) - 0.5) for i in range(8)]).alias(
                "embedding"
            ),
        )
        df = embedding_near_pairs_lsh(emb, dim=8, n_bits=8, bands=4)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan  # pure column expressions


class TestRangeJoinPlan:
    def test_equijoin_filter_no_window(self, spark):
        """range_join_rings is scan -> candidate equi-join -> chord
        filter: no BroadcastNestedLoopJoin / CartesianProduct (the
        cover prunes instead of crossing) and — unlike kNN — no Window
        at all (the refine is a stateless threshold)."""
        from rhealpixdggs_spark.functions.udfs import rhp_encode
        from rhealpixdggs_spark.operators.joins import range_join_rings

        pts = spark.range(500).select(
            F.col("id").alias("pid"),
            ((F.col("id") * 7 % 360) - 180.0).cast("double").alias("lon"),
            ((F.col("id") * 3 % 170) - 85.0).cast("double").alias("lat"),
        ).withColumn("cell_id", rhp_encode(F.col("lon"), F.col("lat"), 3))
        q = spark.createDataFrame(
            [(0, 10.0, 20.0)], ["query_id", "q_lon", "q_lat"]
        ).withColumn("q_cell_id", rhp_encode(F.col("q_lon"), F.col("q_lat"), 3))
        df = range_join_rings(pts, q, 300_000.0, res=3)
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Window" not in plan


class TestSemanticDedupPlan:
    def test_cluster_equijoin_only(self, spark):
        """semantic_dedup: assignment is literal-argmax column math,
        the rank window and pair stage shuffle only on `cluster`, and
        the within-cluster prior join is an EQUI-join (rank filter is
        post-join) — no BroadcastNestedLoopJoin / CartesianProduct /
        Python eval anywhere."""
        from rhealpixdggs_spark.operators.dedup import semantic_dedup
        from rhealpixdggs_spark.operators.similarity import ivf_codebook

        emb = spark.range(200).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.rand(seed=i) - 0.5) for i in range(8)]).alias(
                "embedding"
            ),
        )
        df = semantic_dedup(emb, ivf_codebook(dim=8, k=3, seed=7))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan


class TestPolyfillManyDFPlan:
    def test_no_nested_loop_no_driver_fleet(self, spark):
        """polyfill_many_df (VERDICT r4 item 2): every join in the
        DataFrame-native fleet plan is an equi-join — the even-odd
        refine joins candidates to the per-zone ring table on zone —
        and the polygon table never materializes on the driver (no
        LocalTableScan of the fleet: the input here is a spark.range
        generator, as a production fleet would be a parquet scan)."""
        from pyspark.sql import functions as F

        from rhealpixdggs_spark.operators.tiling import polyfill_many_df

        # 200 triangles generated distributedly: 3 vertex rows each
        tri = spark.range(200).select(
            F.concat(F.lit("z"), F.col("id")).alias("zone"),
            F.lit(0).cast("int").alias("part"),
            F.lit(0).cast("int").alias("ring"),
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("vtx"),
            (F.col("id") % 50 * 6.0 - 160.0).alias("base"),
        ).select(
            "zone", "part", "ring", "vtx",
            (F.col("base") + F.when(F.col("vtx") == 1, 6.0).otherwise(
                F.when(F.col("vtx") == 2, 3.0).otherwise(0.0)
            )).alias("lon"),
            F.when(F.col("vtx") == 0, -20.0).otherwise(
                F.when(F.col("vtx") == 1, -22.0).otherwise(10.0)
            ).alias("lat"),
        )
        out = polyfill_many_df(spark, tri, 3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "LocalTableScan" not in plan
        assert out.limit(1).count() >= 0


class TestCentroidFanout:
    """Round-5 regression pin: AQE's byte-based coalescing once folded
    the few-MB distinct() output feeding the Gauss-Legendre centroid
    pass into ONE task, serializing ~1.75 ms/row of Python compute
    (BENCH/fleet_mixed_attribution.json: 18.8 s -> 3.45 s after the
    fix). The fix is an explicit round-robin repartition with a pinned
    count, which AQE must not re-coalesce — assert the plan keeps it
    and that the centroid stage actually runs wide."""

    def _fleet(self, spark, n=40):
        return {
            f"z{i}": [
                (
                    [
                        (-150.0 + 7.0 * (i % 40), -20.0),
                        (-145.0 + 7.0 * (i % 40), -22.0),
                        (-147.0 + 7.0 * (i % 40), 8.0),
                    ],
                    [],
                )
            ]
            for i in range(n)
        }

    def test_polyfill_many_plan_keeps_roundrobin(self, spark):
        from rhealpixdggs_spark.operators.tiling import polyfill_many

        out = polyfill_many(spark, self._fleet(spark), 3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan

    def test_polyfill_many_centroid_stage_runs_wide(self, spark):
        """The GL centroid decode now runs on the distinct-cell set
        BEFORE a re-attach join, so the output's partition ids no
        longer read the decode stage — probe the decode-stage input
        directly (same construction the operators use): the pinned
        round-robin must spread the byte-tiny distinct() output
        across >1 task despite AQE's byte-based coalescing."""
        from pyspark.sql import functions as F

        from rhealpixdggs_spark.operators.tiling import (
            WGS84_003,
            fleet_candidate_idx,
            polygons_to_df,
            resolve_fleet_vertices,
        )

        vt = polygons_to_df(spark, self._fleet(spark))
        resolved = resolve_fleet_vertices(vt, WGS84_003, None, "t")
        keyed = fleet_candidate_idx(resolved, WGS84_003, 3)
        cells = (
            keyed.select("_idx")
            .distinct()
            .repartition(spark.sparkContext.defaultParallelism)
        )
        used = (
            cells.withColumn("_pid", F.spark_partition_id())
            .select("_pid")
            .distinct()
            .count()
        )
        assert used > 1


class TestPolygonJoinDFPlan:
    def test_no_nested_loop_no_driver_fleet_int64_keys(self, spark):
        """polygon_join_df: candidate prefilter joins on the packed
        int64 cell index (8-byte shuffle keys, not suid strings), the
        even-odd refine joins each candidate to its zone's ring table
        on zone and folds the rings inline (no edge Window, no parity
        aggregation keyed on the point id, no join back to the
        points, so the points relation is scanned once), and the
        fleet never materializes on the driver (spark.range generator
        input)."""
        from pyspark.sql import functions as F

        from rhealpixdggs_spark.operators.joins import polygon_join_df

        tri = spark.range(100).select(
            F.concat(F.lit("z"), F.col("id")).alias("zone"),
            F.lit(0).cast("int").alias("part"),
            F.lit(0).cast("int").alias("ring"),
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("vtx"),
            (F.col("id") % 50 * 6.0 - 160.0).alias("base"),
        ).select(
            "zone", "part", "ring", "vtx",
            (F.col("base") + F.when(F.col("vtx") == 1, 6.0).otherwise(
                F.when(F.col("vtx") == 2, 3.0).otherwise(0.0)
            )).alias("lon"),
            F.when(F.col("vtx") == 0, -20.0).otherwise(
                F.when(F.col("vtx") == 1, -22.0).otherwise(10.0)
            ).alias("lat"),
        )
        pts = spark.range(500).select(
            F.col("id").alias("pid"),
            (F.col("id") % 100 * 3.4 - 170.0).alias("lon"),
            (F.floor(F.col("id") / 100) * 8.0 - 21.0).alias("lat"),
        )
        out = polygon_join_df(pts, tri, res=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "LocalTableScan" not in plan
        # the prefilter join key is the packed int64 index column
        assert "_idx" in plan
        assert "Window" not in plan
        assert plan.count("Range (0, 500,") == 1
        assert not re.search(r"Aggregate\(keys=\[[^\]]*\bpid#", plan)
        assert out.limit(1).count() >= 0
        # nothing is cached: the candidates and the refine both read
        # the zone table, and after an action the final adaptive plan
        # runs the resolve's Arrow pass once, the refine's broadcast
        # reading the zone aggregation's exchange again
        assert "InMemoryTableScan" not in plan
        assert out.collect() is not None
        final = out._jdf.queryExecution().executedPlan().toString()
        final = final.split("== Initial Plan ==")[0]
        resolve = [
            ln for ln in final.splitlines()
            if "ArrowEvalPython" in ln and "_pieces" in ln
        ]
        assert len(resolve) == 1
        assert re.search(r"ReusedExchange \[zone#", final)


class TestFleetCandidatePlan:
    def test_one_forward_pass_no_join_no_cap_udf(self, spark):
        """fleet_candidate_idx emits band spans and polar-cap ring runs
        from the zone table's inlined part rows: the only
        ArrowEvalPython is the resolve's (which also computes each
        part's HEALPix y), the cap path adds no Python stage, and no
        join re-attaches per-zone bboxes."""
        from rhealpixdggs_spark.kernel.constants import WGS84_003
        from rhealpixdggs_spark.operators.tiling import (
            fleet_candidate_idx,
            polygons_to_df,
            resolve_fleet_vertices,
        )

        zones = {
            "band": [([(0.0, -5.0), (8.0, -5.0), (4.0, 6.0)], [])],
            "ncap": [([(-10.0, 30.0), (10.0, 30.0), (0.0, 70.0)], [])],
            "scap": [([(100.0, -45.0), (140.0, -50.0), (120.0, -75.0)], [])],
        }
        resolved = resolve_fleet_vertices(
            polygons_to_df(spark, zones), WGS84_003, None, "t"
        )
        plan = _plan(fleet_candidate_idx(resolved, WGS84_003, 5))
        arrow = [
            ln for ln in plan.splitlines() if "ArrowEvalPython" in ln
        ]
        assert len(arrow) == 1
        assert "Join" not in plan
        assert "Union" not in plan


class TestZoneTilesManyDFPlan:
    def test_fleet_stays_off_driver(self, spark):
        """zone_tiles_many_df: a spark.range-generated fleet must
        reach the classify pass via the zone equi-join — no
        LocalTableScan of polygon data in the final level's plan (the
        frontier is checkpointed, so only scan nodes and the join
        remain)."""
        from pyspark.sql import functions as F

        from rhealpixdggs_spark.operators.tiling import zone_tiles_many_df

        tri = spark.range(50).select(
            F.concat(F.lit("z"), F.col("id")).alias("zone"),
            F.lit(0).cast("int").alias("part"),
            F.lit(0).cast("int").alias("ring"),
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("vtx"),
            (F.col("id") % 50 * 6.0 - 160.0).alias("base"),
        ).select(
            "zone", "part", "ring", "vtx",
            (F.col("base") + F.when(F.col("vtx") == 1, 6.0).otherwise(
                F.when(F.col("vtx") == 2, 3.0).otherwise(0.0)
            )).alias("lon"),
            F.when(F.col("vtx") == 0, -20.0).otherwise(
                F.when(F.col("vtx") == 1, -22.0).otherwise(10.0)
            ).alias("lat"),
        )
        out = zone_tiles_many_df(spark, tri, 2, checkpoint=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # the compute-dense _roots/_classify Arrow passes sit behind an
        # explicit round-robin fan-out so AQE's byte-based coalescing
        # cannot serialize them onto one task (tiny-bytes geometry)
        assert "RoundRobinPartitioning" in plan
        assert out.count() > 0
