#!/usr/bin/env python
"""16->32-core residual attribution (round-4 verdict item 3).

BENCH/scaling.json shows the engine-stage job (points scan -> res-9
encode -> res-2 rollup -> broadcast grid join) at 0.499 efficiency
16->32 while the pure-CPU ceiling sits at ~0.664. This probe splits
the job into cumulative phases and times each at local[16] vs
local[32] in SEPARATE processes (fresh JVMs), so the sub-linear step
is attributed to a phase instead of guessed:

  scan        — parquet scan + count (no Python)
  encode      — scan + Arrow res-9 encode, map-only noop write
  rollup      — encode + groupBy(res-2 key) agg (the one Exchange)
  full        — points_grid_rollup (rollup unioned with the grid's
                tile rows, one aggregation) + noop write

Knob sweeps on the rollup phase (the Exchange): shuffle partitions
{64, 256}, shuffle codec {lz4, zstd}, Arrow batch {10k (default),
65k}. Each phase is best-of-3 after one warm-up run; a pure-CPU
control (same process counts) stamps the box. Output: one JSON line
(written to BENCH/stage_attribution.json by --write).

Usage:
  python tools/stage_attribution.py --phase full --master local[32] ...
  python tools/stage_attribution.py            # orchestrates everything
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_POINTS = int(os.environ.get("SPARK_GRAFT_SCALING_POINTS", "150000000"))
PHASES = ["scan", "encode", "rollup", "full"]


def run_phase(master: str, phase: str, shuffle_partitions: int,
              codec: str, arrow_batch: int) -> dict:
    import bench as benchmod
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = (
        SparkSession.builder.appName("stage_attr").master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.io.compression.codec", codec)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        from rhealpixdggs_spark.functions.udfs import (
            rhp_encode_index,
            rhp_index_parent,
        )
        from rhealpixdggs_spark.pipeline import points_grid_rollup

        path = benchmod._points_parquet(spark, N_POINTS)
        pts = spark.read.parquet(path)

        def job():
            if phase == "scan":
                pts.select(F.count(F.lit(1))).collect()
            elif phase == "encode":
                pts.select(
                    rhp_encode_index(F.col("lon"), F.col("lat"), 9).alias("i")
                ).write.format("noop").mode("overwrite").save()
            elif phase == "rollup":
                enc = pts.select(
                    rhp_encode_index(F.col("lon"), F.col("lat"), 9).alias("i")
                )
                enc.groupBy(
                    rhp_index_parent("i", 9, 2).alias("t")
                ).count().write.format("noop").mode("overwrite").save()
            else:  # full
                points_grid_rollup(
                    spark, pts, resolution=9, tile_res=2
                ).write.format("noop").mode("overwrite").save()

        job()  # warm-up (JIT, Python workers, page cache)
        best = None
        for _ in range(3):
            t0 = time.time()
            job()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return {"seconds": round(best, 3), "rows_per_sec": round(N_POINTS / best, 1)}
    finally:
        spark.stop()


def orchestrate() -> dict:
    import bench as benchmod

    out: dict = {"n_points": N_POINTS, "phases": {}, "knobs": {}}
    base = dict(shuffle_partitions=64, codec="lz4", arrow_batch=10000)
    for phase in PHASES:
        out["phases"][phase] = {}
        for n in (16, 32):
            out["phases"][phase][n] = _sub(phase, f"local[{n}]", **base)
        lo, hi = out["phases"][phase][16], out["phases"][phase][32]
        out["phases"][phase]["eff_16to32"] = round(
            (hi["rows_per_sec"] / lo["rows_per_sec"]) / 2.0, 3
        )
    # knob sweeps on the rollup phase only
    for tag, kw in {
        "shuffle256": dict(base, shuffle_partitions=256),
        "zstd": dict(base, codec="zstd"),
        "arrow65k": dict(base, arrow_batch=65536),
    }.items():
        out["knobs"][tag] = {}
        for n in (16, 32):
            out["knobs"][tag][n] = _sub("rollup", f"local[{n}]", **kw)
        lo, hi = out["knobs"][tag][16], out["knobs"][tag][32]
        out["knobs"][tag]["eff_16to32"] = round(
            (hi["rows_per_sec"] / lo["rows_per_sec"]) / 2.0, 3
        )
    cpu = {n: max(benchmod._cpu_control(n) for _ in range(3)) for n in (16, 32)}
    out["pure_cpu_ceiling_16to32"] = round((cpu[32] / cpu[16]) / 2.0, 3)
    out["cpu_control_rates"] = {str(n): round(v, 1) for n, v in cpu.items()}
    return out


def _sub(phase: str, master: str, shuffle_partitions: int, codec: str,
         arrow_batch: int) -> dict:
    r = subprocess.run(
        [sys.executable, __file__, "--phase", phase, "--master", master,
         "--shuffle-partitions", str(shuffle_partitions), "--codec", codec,
         "--arrow-batch", str(arrow_batch)],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    if r.returncode != 0:
        raise RuntimeError(f"{phase}@{master}: {r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--phase", choices=PHASES, default=None)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--codec", default="lz4")
    ap.add_argument("--arrow-batch", type=int, default=10000)
    args = ap.parse_args()
    if args.phase:
        print(json.dumps(run_phase(
            args.master, args.phase, args.shuffle_partitions,
            args.codec, args.arrow_batch,
        )))
        return
    res = orchestrate()
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "stage_attribution.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
