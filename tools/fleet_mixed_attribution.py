#!/usr/bin/env python
"""polyfill_fleet_mixed dispersion attribution (round-4 verdict item 4).

BENCH_r04 showed the mixed-cap fleet at median 9.8 s with IQR 6.4 —
the widest in the suite. Hypotheses from the verdict: (a) cap-candidate
skew (all cap rows land on few partitions feeding the Gauss-Legendre
centroid pass), (b) GC pressure from the 900-point GL tensors, (c)
shared-VM noise. This probe separates them:

  band_only   — the 45 non-cap polygons through polyfill_many
  cap_only    — the 5 cap-reaching polygons through polyfill_many
  mixed       — the full 50-polygon bench query (the flagged number)

Each phase runs REPS times in one local[32] session (first run of the
session discarded as warm-up); per run we record wall seconds and the
JVM garbage-collection time delta (local mode: driver JVM == executor
JVM, so ManagementFactory's GC MXBeans see the executor-side GL
allocations). If the dispersion tracks cap_only and gc_frac is small,
it is the GL compute itself (cap work), not collection pauses; if
gc_frac is large, it is allocation pressure.

Skew check: the candidate rows that feed the centroid pass come out of
a distinct() Exchange hashed on (zone, _idx) — we reproduce the cap
candidate generator (the shared _part_candidate_idx helper) on the
same fleet and report rows per post-shuffle partition (max/mean = skew
factor). A factor near 1 exonerates partitioning.

Output: one JSON blob; --write stores BENCH/fleet_mixed_attribution.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPS = int(os.environ.get("SPARK_GRAFT_ATTR_REPS", "7"))
RES = 5


def _fleet(mode: str) -> dict:
    zones = {}
    for i in range(50):
        cap = i % 10 == 0
        if mode == "band_only" and cap:
            continue
        if mode == "cap_only" and not cap:
            continue
        top = 70.0 if cap else 10.0
        zones[f"z{i}"] = [([
            (-160.0 + i * 6.0, -20.0), (-154.0 + i * 6.0, -22.0),
            (-157.0 + i * 6.0, top),
        ], [])]
    return zones


def _gc_millis(spark) -> int:
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(b.getCollectionTime() for b in beans)


def _median_iqr(vals: list[float]) -> dict:
    qs = statistics.quantiles(vals, n=4) if len(vals) >= 3 else [
        min(vals), statistics.median(vals), max(vals)
    ]
    return {
        "median": round(statistics.median(vals), 3),
        "iqr": round(qs[2] - qs[0], 3),
        "min": round(min(vals), 3),
        "max": round(max(vals), 3),
        "runs": len(vals),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--master", default="local[32]")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from rhealpixdggs_spark.operators.tiling import polyfill_many

    spark = (
        SparkSession.builder.appName("fleet_mixed_attr").master(args.master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    out: dict = {"res": RES, "reps": REPS, "phases": {}, "gc": {}}

    # warm-up: JIT + Python worker pool
    polyfill_many(spark, _fleet("band_only"), RES).write.format(
        "noop"
    ).mode("overwrite").save()

    for mode in ["band_only", "cap_only", "mixed"]:
        zones = _fleet(mode)
        walls, gcs = [], []
        for _ in range(REPS):
            g0 = _gc_millis(spark)
            t0 = time.monotonic()
            polyfill_many(spark, zones, RES).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(time.monotonic() - t0)
            gcs.append((_gc_millis(spark) - g0) / 1000.0)
        out["phases"][mode] = _median_iqr(walls)
        out["gc"][mode] = {
            "gc_sec_median": round(statistics.median(gcs), 3),
            "gc_frac_of_wall": round(
                statistics.median(gcs) / statistics.median(walls), 3
            ),
        }

    # skew probe: the GL centroid + membership stage runs in the SAME
    # task set as the distinct() output (narrow select/filter chain),
    # so spark_partition_id() observed at the output IS the layout the
    # expensive Arrow UDF ran under — including any AQE coalescing of
    # the small post-shuffle data into few (or one) task.
    full = polyfill_many(spark, _fleet("mixed"), RES)
    per_part = (
        full.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in per_part]
    out["skew"] = {
        "partitions_running_centroid_stage": len(counts),
        "max_rows": max(counts),
        "mean_rows": round(sum(counts) / len(counts), 1),
        "skew_factor": round(max(counts) / (sum(counts) / len(counts)), 2),
        "note": (
            "natural (AQE-visible) layout of the distinct() output that "
            "feeds the GL centroid pass; 1 partition = serialized UDF"
        ),
    }

    m, c, b = (out["phases"][k] for k in ["mixed", "cap_only", "band_only"])
    out["attribution"] = {
        "cap_share_of_mixed_median": round(c["median"] / m["median"], 2),
        "mixed_iqr_over_median": round(m["iqr"] / m["median"], 2),
        "cap_iqr_over_median": round(c["iqr"] / c["median"], 2),
        "band_iqr_over_median": round(b["iqr"] / b["median"], 2),
    }
    print(json.dumps(out))
    if args.write:
        with open(os.path.join(REPO, "BENCH", "fleet_mixed_attribution.json"),
                  "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
