#!/usr/bin/env python
"""Driver-memory evidence for the DataFrame-native polygon fleet
(round-4 VERDICT item 2): run polyfill_many_df (vertex-table fleet,
spark.range-generated) at 10k and 100k polygons and record the driver
python process's VmRSS growth. The fleet stays distributed
end-to-end, so driver RSS must stay flat as the fleet grows 10x.

Writes BENCH/fleet_df_memory.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RES = 2


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
    from rhealpixdggs_spark.operators.tiling import polyfill_many_df
    from rhealpixdggs_spark.session import get_spark

    spark = get_spark(app_name="fleet-mem", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    out = {"res": RES, "runs": {}}
    # warm the code path once so imports/JIT don't count as growth
    polyfill_many_df(spark, df_fleet(spark, 1000), RES).write.format(
        "noop").mode("overwrite").save()

    for variant, runner in [
        ("df", lambda n: polyfill_many_df(spark, df_fleet(spark, n), RES)),
    ]:
        for n in (10_000, 100_000):
            import gc

            gc.collect()
            rss0 = _rss_mb()
            t0 = time.time()
            df = runner(n)
            rows = df.count()
            wall = time.time() - t0
            gc.collect()
            rss1 = _rss_mb()
            out["runs"][f"{variant}_{n}"] = {
                "polygons": n,
                "tiles": rows,
                "wall_sec": round(wall, 2),
                "driver_rss_before_mb": round(rss0, 1),
                "driver_rss_after_mb": round(rss1, 1),
                "driver_rss_delta_mb": round(rss1 - rss0, 1),
            }
            print(variant, n, out["runs"][f"{variant}_{n}"], flush=True)

    d = out["runs"]
    out["summary"] = {
        "df_delta_10k_mb": d["df_10000"]["driver_rss_delta_mb"],
        "df_delta_100k_mb": d["df_100000"]["driver_rss_delta_mb"],
        "note": (
            "DF-native fleet: driver RSS delta must stay ~flat from "
            "10k to 100k polygons (the fleet is generated and "
            "consumed executor-side)."
        ),
    }
    os.makedirs(os.path.join(os.path.dirname(__file__), "..", "BENCH"),
                exist_ok=True)
    path = os.path.join(
        os.path.dirname(__file__), "..", "BENCH", "fleet_df_memory.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", os.path.normpath(path))


if __name__ == "__main__":
    main()
