#!/usr/bin/env python
"""Scale evidence for the DataFrame-native point-in-polygon join
(round-5): join a fixed 1M-point table against 10k and 100k
spark.range-generated vertex-table fleets through polygon_join_df and
record wall time and the driver's RSS growth, which must stay ~flat
as the fleet grows 10x. polygon_join (list input) is an adapter over
the same plan, so it has no arm of its own; the committed
BENCH/polygon_join_df_scale.json still holds the last list-vs-df
comparison, run when polygon_join had its own driver-side plan.

Writes BENCH/polygon_join_df_scale.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RES = 5
N_POINTS = 1_000_000


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def df_fleet(spark, n: int):
    from pyspark.sql import functions as F

    # parcel-like fleet: small distinct triangles on a 0.5-degree
    # pitch (660 lon slots x 90 lat slots), generated executor-side
    return spark.range(n).select(
        F.concat(F.lit("z"), F.col("id")).alias("zone"),
        F.lit(0).cast("int").alias("part"),
        F.lit(0).cast("int").alias("ring"),
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("vtx"),
        (F.col("id") % 660 * 0.5 - 165.0).alias("base"),
        (F.floor(F.col("id") / 660) % 90 * 0.5 - 22.5).alias("jit"),
    ).select(
        "zone", "part", "ring", "vtx",
        (F.col("base") + F.when(F.col("vtx") == 1, 0.4).otherwise(
            F.when(F.col("vtx") == 2, 0.2).otherwise(0.0))).alias("lon"),
        (F.col("jit") + F.when(F.col("vtx") == 2, 0.3).otherwise(0.0)
         ).alias("lat"),
    )


def points_table(spark):
    from pyspark.sql import functions as F

    # deterministic pseudo-random scatter over the fleets' lat band
    return spark.range(N_POINTS).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 2654435761 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("id") * 40503 % 50000) / 1000.0 - 25.0).alias("lat"),
    )


def main() -> None:
    from rhealpixdggs_spark.operators.joins import polygon_join_df
    from rhealpixdggs_spark.session import get_spark

    spark = get_spark(app_name="pjdf-scale", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    pts = points_table(spark)
    pts.write.format("noop").mode("overwrite").save()  # warm generator

    out = {"res": RES, "n_points": N_POINTS, "runs": {}}
    # warm the code path once so imports/JIT don't count as growth
    polygon_join_df(pts, df_fleet(spark, 1000), RES).write.format(
        "noop").mode("overwrite").save()

    for variant, runner in [
        ("df", lambda n: polygon_join_df(pts, df_fleet(spark, n), RES)),
    ]:
        for n in (10_000, 100_000):
            import gc

            gc.collect()
            rss0 = _rss_mb()
            t0 = time.time()
            matches = runner(n).count()
            wall = time.time() - t0
            gc.collect()
            rss1 = _rss_mb()
            out["runs"][f"{variant}_{n}"] = {
                "polygons": n,
                "matches": matches,
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
            "DF-native join: driver RSS delta must stay ~flat from "
            "10k to 100k polygons (the fleet is generated and "
            "consumed executor-side; candidates join on packed int64 "
            "keys)."
        ),
    }
    path = os.path.join(
        os.path.dirname(__file__), "..", "BENCH",
        "polygon_join_df_scale.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", os.path.normpath(path))


if __name__ == "__main__":
    main()
