#!/usr/bin/env python
"""Scale evidence for the DataFrame-native lock-step zone rasterizer
(round-5): run zone_tiles_many_df on spark.range-generated
vertex-table fleets of 1k and 10k zones and record wall time plus the
driver python process's VmRSS growth, which must stay flat as the
fleet grows 10x (geometry reaches the classify pass via an equi-join
on zone). zone_tiles_many (dict input) is an adapter over the same
plan, so it has no arm of its own; the committed
BENCH/zone_tiles_df_scale.json still holds the last dict-vs-df
comparison, run when zone_tiles_many had its own driver-side plan.

Writes BENCH/zone_tiles_df_scale.json.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RES_LIMIT = 3


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def df_fleet(spark, n: int):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("z"), F.col("id")).alias("zone"),
        F.lit(0).cast("int").alias("part"),
        F.lit(0).cast("int").alias("ring"),
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("vtx"),
        (F.col("id") % 50 * 6.0 - 160.0).alias("base"),
        (F.col("id") % 7 * 1.0).alias("jit"),
    ).select(
        "zone", "part", "ring", "vtx",
        (F.col("base") + F.when(F.col("vtx") == 1, 6.0).otherwise(
            F.when(F.col("vtx") == 2, 3.0).otherwise(0.0))).alias("lon"),
        (F.col("jit") + F.when(F.col("vtx") == 0, -20.0).otherwise(
            F.when(F.col("vtx") == 1, -22.0).otherwise(10.0))).alias("lat"),
    )


def main() -> None:
    from rhealpixdggs_spark.operators.tiling import zone_tiles_many_df
    from rhealpixdggs_spark.session import get_spark

    spark = get_spark(app_name="zone-tiles-scale", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    out = {"res_limit": RES_LIMIT, "runs": {}}
    # warm the code path so imports/JIT don't count as growth
    zone_tiles_many_df(spark, df_fleet(spark, 200), RES_LIMIT).write.format(
        "noop").mode("overwrite").save()

    for variant, runner in [
        ("df", lambda n: zone_tiles_many_df(
            spark, df_fleet(spark, n), RES_LIMIT)),
    ]:
        for n in (1_000, 10_000):
            gc.collect()
            rss0 = _rss_mb()
            t0 = time.time()
            df = runner(n)
            rows = df.count()
            wall = time.time() - t0
            gc.collect()
            rss1 = _rss_mb()
            out["runs"][f"{variant}_{n}"] = {
                "zones": n,
                "tiles": rows,
                "wall_sec": round(wall, 2),
                "driver_rss_before_mb": round(rss0, 1),
                "driver_rss_after_mb": round(rss1, 1),
                "driver_rss_delta_mb": round(rss1 - rss0, 1),
            }
            print(variant, n, out["runs"][f"{variant}_{n}"], flush=True)

    d = out["runs"]
    out["summary"] = {
        "df_delta_1k_mb": d["df_1000"]["driver_rss_delta_mb"],
        "df_delta_10k_mb": d["df_10000"]["driver_rss_delta_mb"],
        "df_wall_ratio_10x": round(
            d["df_10000"]["wall_sec"] / max(d["df_1000"]["wall_sec"], 1e-9),
            2,
        ),
        "note": (
            "DF-native zone rasterizer: driver RSS delta must stay "
            "~flat from 1k to 10k zones (fleet generated and consumed "
            "executor-side; geometry reaches classify via the zone "
            "equi-join). It runs <= res_limit+1 lock-step jobs; the "
            "wall ratio for 10x zones should be well under 10x "
            "(per-level fixed cost amortizes)."
        ),
    }
    path = os.path.join(
        os.path.dirname(__file__), "..", "BENCH", "zone_tiles_df_scale.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", os.path.normpath(path))


if __name__ == "__main__":
    main()
