#!/usr/bin/env python
"""Benchmark harness.

Default mode: execute the headline queries at $SPARK_GRAFT_SF_DIR
(default SF_DIR) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line
of at most LINE_MAX chars (result_line):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "iqr": {name: sec}, "sf": ...,
   "pages_per_sec": ..., "detail": "BENCH/headline_detail.json",
   "scaling": {...summary, present if BENCH/scaling.json exists...}}
The full result (per-query min/max/runs) goes to the detail file.

Scaling mode (--scaling): run the encode+join pages job at two
parallelism levels (local[8] vs local[32]) in separate processes on the
SAME input and record throughput + efficiency to BENCH/scaling.json —
the sandbox protocol for BASELINE.json's two-cluster-size criterion.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO = os.path.dirname(os.path.abspath(__file__))


def _spark(master: str, **kw):
    from rhealpixdggs_spark.session import get_spark

    # no console progress bar: stdout must end with the one JSON line
    return get_spark(app_name="bench", master=master,
                     extra_conf={"spark.ui.showConsoleProgress": "false"}, **kw)


_SF_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Per-table key columns shifted by (max_key + 1) * replica so every
# replica keeps internally-consistent joins (FK columns shift by the
# REFERENCED table's stride).
_SF_KEYS = {
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [
        ("l_orderkey", "orders"),
        ("l_partkey", "part"),
        ("l_suppkey", "supplier"),
    ],
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "events": [("event_id", "events"), ("user_id", "_user")],
    "documents": [("doc_id", "documents")],
    "embeddings": [("vec_id", "embeddings")],
}
_SF_PK = {
    "orders": "o_orderkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey",
    "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id", "_user": "user_id",
}


def replicated_sf(spark, base_dir: str, mult: int) -> str:
    """Deterministic scale-up of a testdata SF directory: every table
    is unioned `mult` times with key columns shifted by
    (max_key + 1) * replica — schemas identical, join fan-outs
    preserved, row counts x mult (the sf0.1 -> sf1 jump the round-4
    verdict asks to measure). Cached under /tmp per (base, mult)."""
    from pyspark.sql import functions as F

    out = f"/tmp/rhp_sf_x{mult}_" + base_dir.rstrip("/").split("sf")[-1]
    if os.path.exists(os.path.join(out, "_done")):
        return out
    strides = {}
    for t, pk in _SF_PK.items():
        src = "events" if t == "_user" else t
        df = spark.read.parquet(f"{base_dir}/{src}.parquet")
        strides[t] = df.agg(F.max(pk)).first()[0] + 1
    for t in _SF_TABLES:
        df = spark.read.parquet(f"{base_dir}/{t}.parquet")
        if t in ("region", "nation") or t not in _SF_KEYS:
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
            continue
        rep = df.crossJoin(spark.range(mult).select(F.col("id").alias("_r")))
        for col, ref in _SF_KEYS[t]:
            rep = rep.withColumn(
                col, F.col(col) + F.col("_r") * F.lit(strides[ref])
            )
        rep.drop("_r").write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    with open(os.path.join(out, "_done"), "w") as f:
        f.write("ok")
    return out


def _pages_count(sf_dir: str) -> int:
    # Scale the synthetic pages table with the SF (lineitem-sized).
    import pyarrow.parquet as pq

    p = f"{sf_dir}/lineitem.parquet"
    if os.path.isdir(p):  # Spark-written replicated SF dirs
        return sum(
            pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(p).metadata.num_rows


def _pages_parquet(spark, sf_dir: str, n: int | None = None) -> tuple[str, int]:
    """Materialize the synthetic pages table once per size so the timed
    job reads a real columnar table (the north-star input shape), not
    an in-flight generator. Written as 64 files so any local[N] has
    enough input splits."""
    from rhealpixdggs_spark.sources.pages import synthesize_pages

    if n is None:
        n = _pages_count(sf_dir)
    path = f"/tmp/rhp_bench_pages_{n}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # ~125k rows per file: enough input splits for any local[N]
        # without drowning small tables in per-task overhead.
        parts = min(128, max(8, n // 125_000))
        synthesize_pages(spark, n, partitions=parts).write.mode("overwrite").parquet(path)
    return path, n


def bench_encode_join(spark, sf_dir: str, n: int | None = None) -> tuple[float, int]:
    """The headline metric: pages scan -> geotag extract -> res-9
    encode -> res-2 rollup join -> aggregate. Returns (seconds, n)."""
    from rhealpixdggs_spark.pipeline import full_grid_rollup

    path, n = _pages_parquet(spark, sf_dir, n)
    pages = spark.read.parquet(path)
    t0 = time.time()
    out = full_grid_rollup(spark, pages, resolution=9, tile_res=2)
    out.write.format("noop").mode("overwrite").save()
    return time.time() - t0, n


def _warm_up(spark):
    """Start the Python workers (imports numpy/pandas/the kernel) so
    timings measure steady-state throughput, matching a long-running
    cluster where workers are reused."""
    from pyspark.sql import functions as F

    from rhealpixdggs_spark.functions.udfs import rhp_encode

    spark.range(1000).select(
        rhp_encode(F.lit(10.0), F.lit(20.0), 9).alias("c")
    ).write.format("noop").mode("overwrite").save()


HEADLINE_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
# encode_join_pages has its own loop in run_headline; the rest run as
# queries() entries or the local scale-path variants.
HEADLINE_QUERIES = [
    "encode_join_pages",
    "encode_points_res9",
    "parent_rollup",
    "containment_join",
    "knn_rings",
    "minhash_sig",
    "minhash_sig_xxhash64",
    "cosine_topk",
    "tpch_pricing",
    "revenue_by_nation",
    "raster_to_vector",
    "polyfill_fleet",
    "polyfill_fleet_mixed",
    "polyfill_fleet_df",
    "curation_pipeline",
    "bm25_topk",
    "pagerank",
    "interval_join",
]
# The line's consumer keeps a 2,000-char tail of stdout.
LINE_MAX = 1800
SCALING_ARTIFACT = "BENCH/scaling.json"
HEADLINE_DETAIL = "BENCH/headline_detail.json"


def _median_iqr(samples: list[float]) -> tuple[float, float]:
    import statistics

    med = statistics.median(samples)
    if len(samples) >= 4:
        q = statistics.quantiles(samples, n=4)
        iqr = q[2] - q[0]
    else:
        iqr = max(samples) - min(samples)
    return med, iqr


def run_headline(spark, sf_dir: str) -> dict:
    """Noise-proof protocol (round-2 verdict item 3): per query, one
    untimed warm-up (codegen + Python-worker imports) then
    HEADLINE_RUNS timed runs; report the MEDIAN with IQR dispersion so
    a shared-VM noise spike is visible in the artifact instead of
    silently inflating the number. A pure-CPU control measured in the
    same session stamps the box's state: compare controls before
    reading a cross-round delta as a code regression."""
    import __spark_entry__ as entrymod

    _warm_up(spark)
    timings: dict[str, float] = {}
    dispersion: dict[str, dict] = {}
    samples = []
    _, n_pages = bench_encode_join(spark, sf_dir)  # warm-up, untimed
    for _ in range(HEADLINE_RUNS):
        samples.append(bench_encode_join(spark, sf_dir, n_pages)[0])
    sec, iqr = _median_iqr(samples)
    timings["encode_join_pages"] = sec
    dispersion["encode_join_pages"] = {
        "iqr": round(iqr, 3), "min": round(min(samples), 3),
        "max": round(max(samples), 3), "runs": len(samples),
    }
    pages_per_sec = n_pages / sec

    def _minhash_scale_path(spark, sf_dir):
        # The contract query minhash_sig pins hash_fn='md5' (portable,
        # oracle-checkable, ~5x slower); this separately-named entry is
        # the xxhash64 scale path a production pipeline would run. Both
        # are timed so the gated query's own number stays visible.
        from rhealpixdggs_spark.operators.dedup import minhash_signatures

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_signatures(docs, num_hashes=8)

    def _polyfill_fleet(spark, sf_dir):
        # 50-polygon fleet rasterized at res 5 in ONE plan (no
        # per-polygon unions) — the many-zone tiling throughput shape.
        # Same definition as r1-r3 for cross-round comparability.
        from rhealpixdggs_spark.operators.tiling import polyfill_many

        zones = {
            f"z{i}": [([
                (-160.0 + i * 6.0, -20.0), (-154.0 + i * 6.0, -22.0),
                (-157.0 + i * 6.0, 10.0),
            ], [])]
            for i in range(50)
        }
        return polyfill_many(spark, zones, 5)

    def _polyfill_fleet_mixed(spark, sf_dir):
        # Round 4: same fleet but every 10th polygon reaches the north
        # polar cap — exercises the closed-form cap ring-run generator
        # + Gauss-Legendre dart/skew centroids
        # alongside the band spans, still one plan. Benched separately
        # so polyfill_fleet's own number stays comparable to r1-r3.
        from rhealpixdggs_spark.operators.tiling import polyfill_many

        zones = {}
        for i in range(50):
            top = 70.0 if i % 10 == 0 else 10.0
            zones[f"z{i}"] = [([
                (-160.0 + i * 6.0, -20.0), (-154.0 + i * 6.0, -22.0),
                (-157.0 + i * 6.0, top),
            ], [])]
        return polyfill_many(spark, zones, 5)

    def _polyfill_fleet_df(spark, sf_dir):
        # Round 5: the DataFrame-NATIVE fleet at 100k polygons — 2000x
        # polyfill_fleet's size — generated entirely with spark.range
        # (three vertex rows per triangle, column math only), so the
        # fleet NEVER exists on the driver: no span loop, no vertex
        # closure. res 2 keeps the candidate table ~1.5M rows; the
        # even-odd membership is the relational edge join.
        from pyspark.sql import functions as F

        from rhealpixdggs_spark.operators.tiling import polyfill_many_df

        tri = spark.range(100_000).select(
            F.concat(F.lit("z"), F.col("id")).alias("zone"),
            F.lit(0).cast("int").alias("part"),
            F.lit(0).cast("int").alias("ring"),
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("vtx"),
            (F.col("id") % 50 * 6.0 - 160.0).alias("base"),
            (F.col("id") % 7 * 1.0).alias("jit"),
        ).select(
            "zone", "part", "ring", "vtx",
            (F.col("base") + F.when(F.col("vtx") == 1, 6.0).otherwise(
                F.when(F.col("vtx") == 2, 3.0).otherwise(0.0)
            )).alias("lon"),
            (F.col("jit") + F.when(F.col("vtx") == 0, -20.0).otherwise(
                F.when(F.col("vtx") == 1, -22.0).otherwise(10.0)
            )).alias("lat"),
        )
        return polyfill_many_df(spark, tri, 2)

    qs = dict(entrymod.queries())
    qs["minhash_sig_xxhash64"] = _minhash_scale_path
    qs["polyfill_fleet"] = _polyfill_fleet
    qs["polyfill_fleet_mixed"] = _polyfill_fleet_mixed
    qs["polyfill_fleet_df"] = _polyfill_fleet_df
    for name in HEADLINE_QUERIES[1:]:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for _ in range(HEADLINE_RUNS):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        med, iqr = _median_iqr(runs)
        timings[name] = med
        dispersion[name] = {
            "iqr": round(iqr, 3), "min": round(min(runs), 3),
            "max": round(max(runs), 3), "runs": len(runs),
        }
    return {
        "timings": {k: round(v, 3) for k, v in timings.items()},
        "dispersion": dispersion,
        "n_pages": n_pages,
        "pages_per_sec": round(pages_per_sec, 1),
        # box-state stamp: pure-Python ops/sec at 1 and at CPUS procs,
        # measured in this session — the hardware control for
        # cross-round comparisons.
        "cpu_control": {
            "procs_1": round(_cpu_control(1), 1),
            f"procs_{CPUS}": round(_cpu_control(CPUS), 1),
        },
    }


def single_run(master: str, sf_dir: str, n_pages: int | None = None,
               n_points: int | None = None) -> dict:
    # Fixed shuffle partitioning at both cluster sizes: the scaling
    # comparison must be a cores-only delta, not a partitioning delta.
    spark = _spark(master, shuffle_partitions=64)
    try:
        _warm_up(spark)
        # Steady state: first pass pays JVM JIT + page-cache warm; the
        # reported number is the best of three subsequent runs (what a
        # long-running cluster job sees).
        out = {"master": master}
        _, n = bench_encode_join(spark, sf_dir, n_pages)
        sec = min(bench_encode_join(spark, sf_dir, n_pages)[0] for _ in range(3))
        out["pages"] = {"master": master, "seconds": round(sec, 3), "rows": n,
                        "rows_per_sec": round(n / sec, 1)}
        if n_points:
            bench_points_encode_join(spark, n_points)
            sec = min(bench_points_encode_join(spark, n_points)[0] for _ in range(3))
            out["points"] = {"master": master, "seconds": round(sec, 3),
                             "rows": n_points,
                             "rows_per_sec": round(n_points / sec, 1)}
        return out
    finally:
        spark.stop()


SCALING_PAGES = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "16000000"))
SCALING_POINTS = int(os.environ.get("SPARK_GRAFT_SCALING_POINTS", "150000000"))


def _points_parquet(spark, n: int) -> str:
    """Materialize the extracted-points table (pid, lon, lat, lang) for
    the engine-stage scaling job; 512 files so task tails stay short."""
    from rhealpixdggs_spark.sources.pages import synthesize_points

    path = f"/tmp/rhp_bench_points_{n}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synthesize_points(spark, n, partitions=512).write.mode("overwrite").parquet(path)
    return path


def bench_points_encode_join(spark, n: int) -> tuple[float, int]:
    """Engine-stage scaling job: points scan -> res-9 encode -> res-2
    rollup aggregated with the full grid (one union-aggregate). No html
    decode: the UTF-16 decode of the raw scan is single-box
    memory-bandwidth-bound, which a real cluster scales with nodes, so
    the two-size comparison isolates the engine's own stages."""
    from rhealpixdggs_spark.pipeline import points_grid_rollup

    path = _points_parquet(spark, n)
    pts = spark.read.parquet(path)
    t0 = time.time()
    points_grid_rollup(spark, pts, resolution=9, tile_res=2).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.time() - t0, n


def _cpu_control(n_procs: int, seconds: float = 2.0) -> float:
    """Aggregate pure-Python CPU rate at n_procs — the hardware control
    for the single-box scaling ceiling (hypervisor steal + shared
    memory bus; a real 4x cluster multiplies both with node count)."""
    import multiprocessing as mp

    def burn(q):
        t0 = time.time()
        x = 0
        while time.time() - t0 < seconds:
            for _ in range(10000):
                x += 1
        q.put(x)

    q = mp.Queue()
    ps = [mp.Process(target=burn, args=(q,)) for _ in range(n_procs)]
    [p.start() for p in ps]
    total = sum(q.get() for _ in ps)
    [p.join() for p in ps]
    return total / seconds


def scaling_protocol(sf_dir: str, masters=(2, 8, 16, 32)) -> dict:
    """N -> 4N scaling evidence: identical jobs + inputs, cores-only
    delta, separate JVMs, fixed shuffle partitioning, steady-state
    (warm-up + best of 3), at four parallelism levels.

    The 2->8 pair is the headline N->4N criterion: both sizes sit
    below the single box's memory-bus ceiling, matching a real cluster
    where each node brings its own bus. The 8->16->32 points locate
    the single-box bandwidth knee; EVERY pair is reported with a
    pure-CPU control experiment (same process counts, measured in the
    same session) so the engine's share of any sub-linear step is
    separable from the box's own hypervisor-steal/shared-bus ceiling.

    Two stages per pair: the engine job over pre-extracted points and
    the full pipeline including the raw-pages scan."""
    results = {"points": {}, "pages": {}}
    for n in masters:
        out = subprocess.run(
            [sys.executable, __file__, "--single-run", f"--master=local[{n}]",
             f"--sf-dir={sf_dir}", f"--pages={SCALING_PAGES}",
             f"--points={SCALING_POINTS}"],
            capture_output=True, text=True, cwd=REPO, timeout=3600,
        )
        line = out.stdout.strip().splitlines()[-1]
        d = json.loads(line)
        results["points"][n] = d["points"]
        results["pages"][n] = d["pages"]

    def eff(stage, low, high):
        lo, hi = results[stage][low], results[stage][high]
        return round((hi["rows_per_sec"] / lo["rows_per_sec"]) / (high / low), 3)

    # best-of-3 per process count: a control depressed by a transient
    # neighbor-load spike would otherwise fabricate a super-linear
    # "hardware ceiling" for the next pair
    cpu = {n: max(_cpu_control(n) for _ in range(3)) for n in masters}
    pairs = {}
    for lo, hi in zip(masters, masters[1:]):
        pairs[f"{lo}to{hi}"] = {
            "encode_join_stage": eff("points", lo, hi),
            "full_pipeline": eff("pages", lo, hi),
            "pure_cpu_hardware_ceiling": round(
                (cpu[hi] / cpu[lo]) / (hi / lo), 3
            ),
        }
    return {
        "runs": results,
        "cpu_control_rates": {str(n): round(cpu[n], 1) for n in masters},
        "pairs": pairs,
        "cores_ratio": 4.0,
        "scaling_efficiency": eff("points", masters[0], masters[1]),
    }


def scaling_summary(artifact: str) -> dict | None:
    """The scaling protocol's headline from its artifact (a path
    relative to the checkout): the N->4N efficiency and the 2->8 pair.
    The runs, controls and history stay in the file the summary names."""
    path = os.path.join(REPO, artifact)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        sc = json.load(f)
    return {"scaling_efficiency": sc["scaling_efficiency"],
            "2to8": sc["pairs"].get("2to8"), "artifact": artifact}


def result_line(res: dict, sf: float) -> dict:
    """The default mode's stdout line: per-query medians and IQRs, the
    box's CPU control and the scaling summary. Its JSON stays within
    LINE_MAX chars; min/max/run counts go to HEADLINE_DETAIL."""
    out = {
        "metric": "headline suite wall time (encode+join pages pipeline "
                  "res9->res2 + spatial/dedup/similarity/relational queries; "
                  "median of %d runs per query)" % HEADLINE_RUNS,
        "value": round(sum(res["timings"].values()), 3),
        "unit": "sec",
        "queries": res["timings"],
        "iqr": {k: v["iqr"] for k, v in res["dispersion"].items()},
        "cpu_control": res["cpu_control"],
        "sf": sf,
        "n_pages": res["n_pages"],
        "pages_per_sec": res["pages_per_sec"],
        "detail": HEADLINE_DETAIL,
    }
    scaling = scaling_summary(SCALING_ARTIFACT)
    if scaling:
        out["scaling"] = scaling
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--master", default=f"local[{CPUS}]")
    ap.add_argument("--single-run", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--pages", type=int, default=None)
    ap.add_argument("--points", type=int, default=None)
    ap.add_argument(
        "--sf-mult", type=int, default=None,
        help="replicate --sf-dir by this factor (key-shifted, "
        "replicated_sf) and bench the scaled copy — the sf0.1 -> sf1 "
        "jump is --sf-dir /root/testdata/sf0.1 --sf-mult 10",
    )
    ap.add_argument(
        "--masters", default=None,
        help="comma-separated core counts for --scaling (default 2,8,16,32)",
    )
    ap.add_argument(
        "--scaling-out", default="scaling.json",
        help="artifact name under BENCH/ for --scaling",
    )
    args = ap.parse_args()

    if args.sf_mult:
        spark = _spark(args.master)
        try:
            scaled = replicated_sf(spark, args.sf_dir, args.sf_mult)
        finally:
            spark.stop()
        args.sf_dir = scaled

    if args.single_run:
        print(json.dumps(single_run(args.master, args.sf_dir, args.pages, args.points)))
        return
    if args.scaling:
        masters = (
            tuple(int(m) for m in args.masters.split(","))
            if args.masters
            else (2, 8, 16, 32)
        )
        res = scaling_protocol(args.sf_dir, masters=masters)
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        path = os.path.join(REPO, "BENCH", args.scaling_out)
        # Keep every prior protocol run in the artifact (run-to-run
        # spread is committed evidence, not something a rerun silently
        # replaces) — same convention as jobs/two_size_scaling.sh.
        if os.path.exists(path):
            with open(path) as f:
                prev = json.load(f)
            hist = prev.pop("history", [])
            hist.append(
                {
                    "pairs": prev.get("pairs"),
                    "cpu_control_rates": prev.get("cpu_control_rates"),
                    "scaling_efficiency": prev.get("scaling_efficiency"),
                    "repeat_run": prev.get("repeat_run", {}).get("pairs")
                    if isinstance(prev.get("repeat_run"), dict)
                    else None,
                }
            )
            res["history"] = hist
        with open(path, "w") as f:
            json.dump(res, f, indent=1)
        print(json.dumps(scaling_summary(os.path.relpath(path, REPO))))
        return

    spark = _spark(args.master)
    try:
        res = run_headline(spark, args.sf_dir)
    finally:
        spark.stop()
    if args.sf_mult:
        # replicated dir name ends with the BASE sf (replicated_sf)
        sf = str(float(args.sf_dir.rstrip("/").rsplit("_", 1)[-1]) * args.sf_mult)
    else:
        sf = args.sf_dir.rstrip("/").split("sf")[-1]
    out = result_line(res, float(sf))
    with open(os.path.join(REPO, HEADLINE_DETAIL), "w") as f:
        json.dump({"line": out, "result": res}, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
