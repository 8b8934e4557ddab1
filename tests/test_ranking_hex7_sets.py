"""Unit tests for BM25 ranking (operators/ranking.py) and hex7 cell-set
compaction (operators/hex7_sets.py) beyond the contract-level oracle
gate (test_entry_contract covers bit-exactness vs DuckDB)."""

import math

import pytest
from pyspark.sql import functions as F

from rhealpixdggs_spark.functions.hex7_udfs import (
    hex7_children,
    hex7_encode,
    hex7_parent,
    hex7_resolution,
)
from rhealpixdggs_spark.operators.hex7_sets import hex7_compact, hex7_uncompact
from rhealpixdggs_spark.operators.ranking import bm25_topk


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id string, term string")


def test_bm25_matches_hand_computation(spark):
    # 3 docs, 1 query with 2 terms; weights recomputed with math.log.
    docs = _docs(
        spark,
        [
            (1, "cat dog cat"),
            (2, "dog fish"),
            (3, "bird bird bird bird"),
        ],
    )
    q = _queries(spark, [("q", "cat"), ("q", "dog")])
    got = {
        (r.doc_id): (r.score, r.n_terms_hit, r.rank)
        for r in bm25_topk(docs, q, k=10).collect()
    }

    n, avgdl = 3, (3 + 2 + 4) / 3
    k1, b = 1.2, 0.75

    def w(tf, df, dl):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * (tf * (k1 + 1) / (tf + k1 * ((1 - b) + b * dl / avgdl)))

    exp1 = round(w(2, 1, 3) + w(1, 2, 3), 6)  # doc 1: cat x2, dog x1
    exp2 = round(w(1, 2, 2), 6)  # doc 2: dog x1
    assert got[1] == (exp1, 2, 1)
    assert got[2] == (exp2, 1, 2)
    assert 3 not in got  # no query term -> not scored at all


def test_bm25_k_truncates_and_ties_break_on_doc_id(spark):
    # 5 identical docs -> identical scores; rank must follow doc_id.
    docs = _docs(spark, [(i, "x y") for i in range(5)])
    q = _queries(spark, [("q", "x")])
    out = bm25_topk(docs, q, k=3).orderBy("rank").collect()
    assert [r.doc_id for r in out] == [0, 1, 2]
    assert len({r.score for r in out}) == 1


def test_bm25_plan_prunes_before_shuffle(spark):
    """The exploded token stream must hit a broadcast LEFT SEMI join
    (query-term prune) and the 1-row stats side must be the only
    nested-loop join — no CartesianProduct ever."""
    docs = _docs(spark, [(1, "a b"), (2, "b c")])
    q = _queries(spark, [("q", "b")])
    plan = bm25_topk(docs, q, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_cell_term_profile_hand_computation(spark):
    # 2 cells, tiny vocab; tf*idf recomputed with math.log.
    from rhealpixdggs_spark.operators.ranking import cell_term_profile

    df = spark.createDataFrame(
        [
            ("N0", "cat dog cat"),
            ("N0", "dog"),
            ("N1", "dog fish fish"),
        ],
        "tile_id string, text string",
    )
    out = {
        (r.tile_id, r.term): (r.tf, r.df_cells, r.score, r.rank)
        for r in cell_term_profile(df, k=5).collect()
    }
    n_cells = 2

    def s(tf, df):
        return round(tf * math.log(1.0 + (n_cells - df + 0.5) / (df + 0.5)), 6)

    # N0: cat tf=2 df=1, dog tf=2 df=2
    assert out[("N0", "cat")] == (2, 1, s(2, 1), 1)
    assert out[("N0", "dog")] == (2, 2, s(2, 2), 2)
    # N1: fish tf=2 df=1 outranks dog tf=1 df=2
    assert out[("N1", "fish")] == (2, 1, s(2, 1), 1)
    assert out[("N1", "dog")] == (1, 2, s(1, 2), 2)


def test_cell_term_profile_k_and_term_tiebreak(spark):
    from rhealpixdggs_spark.operators.ranking import cell_term_profile

    # 4 equal-score terms in one cell -> rank follows term asc, k=2 cuts.
    df = spark.createDataFrame(
        [("N0", "d c b a"), ("N1", "a b c d e")],
        "tile_id string, text string",
    )
    out = cell_term_profile(df, k=2).where(F.col("tile_id") == "N0").orderBy("rank").collect()
    assert [r.term for r in out] == ["a", "b"]
    assert len(out) == 2


def test_cell_term_profile_plan_no_cartesian(spark):
    """Only nested-loop allowed is the 1-row n_cells literal feed; the
    vocabulary (term -> df) join must NOT be hinted broadcast (at web
    scale it exceeds broadcast size; AQE may still upgrade it when
    tiny, so assert on the optimized logical plan's hints instead)."""
    from rhealpixdggs_spark.operators.ranking import cell_term_profile

    df = spark.createDataFrame(
        [("N0", "a b"), ("N1", "b c")], "tile_id string, text string"
    )
    q = cell_term_profile(df, k=3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    logical = q._jdf.queryExecution().analyzed().toString()
    # exactly one explicit broadcast hint: the 1-row stats side (the
    # analyzed plan renders hints resolved)
    assert logical.count("ResolvedHint") == 1


# ---------------------------------------------------------------------------
# hex7 compact / uncompact
# ---------------------------------------------------------------------------


def _enumerated(spark, res):
    """All res-`res` descendants of 3 well-separated res-0 roots."""
    pts = spark.createDataFrame(
        [(0, 2.0, 48.0), (1, -74.0, 40.0), (2, 151.0, -33.0)],
        "i int, lon double, lat double",
    )
    out = pts.select(hex7_encode(F.col("lon"), F.col("lat"), 0).alias("cell"))
    for r in range(res):
        out = out.select(F.explode(hex7_children(F.col("cell"), r)).alias("cell"))
    return out


def test_children_invert_parent(spark):
    cells = _enumerated(spark, 1)
    bad = cells.select(
        F.explode(hex7_children(F.col("cell"), 1)).alias("child"),
        F.col("cell"),
    ).where(hex7_parent(F.col("child"), 1) != F.col("cell"))
    assert bad.isEmpty()


def test_compact_full_set_collapses_to_roots(spark):
    full = _enumerated(spark, 2)
    assert full.count() == 3 * 49
    comp = hex7_compact(full, "cell")
    rows = comp.select(hex7_resolution(F.col("cell")).alias("r")).collect()
    assert [row.r for row in rows] == [0, 0, 0]


def test_compact_uncompact_round_trip_with_holes(spark):
    full = _enumerated(spark, 2)
    kept = full.where(F.col("cell") % 13 != 3)
    comp = hex7_compact(kept, "cell")
    resolutions = {
        row.r
        for row in comp.select(hex7_resolution(F.col("cell")).alias("r")).collect()
    }
    assert 1 in resolutions and 2 in resolutions  # genuinely mixed-res
    back = hex7_uncompact(comp, 2)
    assert back.count() == kept.count()
    assert (
        back.join(kept, "cell", "left_anti").isEmpty()
        and kept.join(back, "cell", "left_anti").isEmpty()
    )


def test_uncompact_rejects_finer_input(spark):
    cells = _enumerated(spark, 2)
    with pytest.raises(ValueError, match="coarser"):
        hex7_uncompact(cells, 1)


def test_compact_empty_and_res0_inputs_are_identity(spark):
    empty = spark.createDataFrame([], "cell long")
    assert hex7_compact(empty, "cell").isEmpty()
    roots = _enumerated(spark, 0)
    assert hex7_compact(roots, "cell").count() == 3
