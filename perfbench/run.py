"""Spatial-engine benchmark: pages_rollup and fleet_join.

    python3 perfbench/run.py --workload fleet_join --seed 1 --seconds 10 --trace 0

Drives the engine only through its public functions, in one driver
process at local[nproc], with every session setting left at
session.get_spark's defaults apart from the driver heap (2g, through
get_spark's SPARK_DRIVER_MEMORY), console progress (off), the
scratch/temp directories (inside the checkout) and, in the traced run,
the event log. Each workload is a closed loop of one job at a time
over seeded parquet inputs written at the start of the run, outside
all timing (inputs.py). Every run's output is checked against
expectations derived off the Spark path.

End-to-end metrics (--trace 0):
  setup_s      launch of a new driver JVM through get_spark, plus a
               trivial Arrow-UDF job that starts the Python workers;
               median of SETUP_SAMPLES launches
  cold_run_s   the first workload run, in the JVM of the last launch,
               which has run nothing but the warm-up job: what a
               spark-submit job pays
  run_s        median wall time of the warm runs that follow (after
               WARMUP_RUNS untimed ones), for --seconds seconds and at
               least MIN_WARM_RUNS runs
  peak_rss_mb  peak RSS of the process tree (driver JVM, Python
               workers, this process) from the second launch on; the
               driver heap is pre-touched, so it counts as a fixed 2g
A run that raises, times out or fails the output check counts in
`failed`; the detail file carries fail_frac = failed / attempted, and
rows_per_s = input rows / run_s, which adds nothing to run_s but a
wider quartile spread. A metric with no successful run to measure is
left off the result line.

--trace 0 prints the end-to-end metrics; --trace 1 prints every
per-layer metric on every workload: standalone probe jobs per layer
(run on both workloads, including the layers the workload itself does
not call), the event-log split of the workload's own runs, and the
tracing overhead. Detail (samples, spans, event-log summary, host
stamp) goes to a JSON file under .perfbench_work/results/ named on the
line before the result.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import eventlog
import inputs
from tracing import PeakRss, Tracer, host_stamp, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("pages_rollup", "fleet_join")
# Each sample launches a new driver JVM: ~12 s with the worker warm-up
# on a 4-core box, so a third would push fleet_join runs past ~70 s.
# The first one also writes the inputs; the workload runs in the last.
SETUP_SAMPLES = 2
# Runs after the cold one that are checked but not timed. In the new
# JVM both workloads keep speeding up for many runs (pages_rollup: 2.3,
# 1.8, 1.7, 1.6, 1.6, 1.4, 1.3, 1.2 s; fleet_join: 5.5, 5.1, 4.7, 4.3 s).
# With one warm-up run, run_s spread 0.19 over ten seeds on
# pages_rollup, and 0.22 on fleet_join, whose 10 s loop timed two runs
# or three and so read the slower early runs in some seeds. So
# pages_rollup, whose runs are cheap, warms up longer, and fleet_join
# times at least three runs (~15 s). A second fleet_join warm-up run
# pushed its runs to 67-80 s on a 4-core box, too long for the
# benchmark's time budget. pages_rollup times about eight ~1.3 s runs.
WARMUP_RUNS = {"pages_rollup": 5, "fleet_join": 1}
MIN_WARM_RUNS = 3
# The traced run times two loops (untraced, then traced) of at least two
# runs each and then the probes, which keeps fleet_join's traced run
# near two minutes on a 4-core box, inside the 180 s a run may take.
MIN_TRACED_LOOP_RUNS = 2
# At get_spark's 16g default, G1 grows the driver heap by ~1.3 GB per
# fleet_join run, so run time and RSS never settle; a 2g heap fills
# early and holds every workload's inputs with room to spare.
DRIVER_MEMORY = "2g"
PROBE_REPS = 2
RUN_TIMEOUT_S = 60
GEN_TIMEOUT_S = 150


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let Python workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def stop_jvm(timeout_s: float = 30) -> None:
    """Stop the py4j JVM, which takes its Python worker daemon and
    workers down with it, and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    # the next get_spark launches a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.traced)
        self.data = os.path.join(WORK, "data", self.workload)
        self.spark = None
        self.samples = {"setup": [], "cold": None, "warm": [], "traced_warm": [],
                        "persisted_bytes": [], "plan_s": []}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.run_ids: list[str] = []
        self.layers: dict = {}
        self.eventlog_dir = os.path.join(WORK, "eventlog")
        self.phases: dict[str, float] = {}
        self._phase_t = time.perf_counter()

    # -- session -----------------------------------------------------

    def _conf(self, traced: bool) -> dict:
        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # A pre-touched heap: G1 otherwise grows it in steps whose
            # timing varies from run to run (driver RSS at peak 1.55-2.3
            # GB over five fleet_join seeds, a 0.18 quartile spread of
            # peak_rss_mb). So peak_rss_mb sees the heap as a fixed 2g
            # and moves with off-heap and Python memory; heap use shows
            # in spark.old_gen_peak_mb and spark.gc_s.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        if traced:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.rolling.maxFileSize": "256m",
            })
        return conf

    def start_session(self, traced: bool) -> None:
        """get_spark, which launches a new JVM when none runs, then one
        trivial Arrow-UDF job that starts the Python workers; records
        (start_s, warmup_s, total_s) as one setup sample."""
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import LongType

        from rhealpixdggs_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{self.nproc}]",
            extra_conf=self._conf(traced),
        )
        t1 = time.perf_counter()

        @pandas_udf(LongType())
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        got = self.spark.range(0, 64, numPartitions=self.nproc).select(
            plus_one(F.col("id")).alias("x")).agg(F.sum("x")).collect()[0][0]
        if got != 64 * 65 // 2:
            raise RuntimeError(f"warm-up job returned {got}")
        t2 = time.perf_counter()
        self.samples["setup"].append(
            {"start_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0})

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- workload ----------------------------------------------------

    def build(self):
        """The workload's public entry point over freshly read inputs."""
        from rhealpixdggs_spark import pipeline
        from rhealpixdggs_spark.operators.joins import polygon_join_df

        spark = self.spark
        d = self.data
        if self.workload == "pages_rollup":
            return pipeline.full_grid_rollup(
                spark, spark.read.parquet(os.path.join(d, "pages")),
                resolution=inputs.RES["pages_rollup"], tile_res=inputs.TILE_RES)
        return polygon_join_df(
            spark.read.parquet(os.path.join(d, "points")),
            spark.read.parquet(os.path.join(d, "fleet.parquet")),
            res=inputs.RES["fleet_join"])

    def check(self, pdf) -> list[str]:
        if self.workload == "fleet_join":
            return inputs.check_pairs(
                pdf["pid"].to_numpy(), pdf["zone"].to_numpy(),
                self.meta["expected"]["zones"], self.expected_keys)
        return inputs.check_rollup(pdf, self.meta["expected"])

    def old_gen_pools(self) -> list:
        """The driver heap's pools of long-lived objects (the ones that
        support usage thresholds: G1 Old Gen, not eden or survivor)."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans()
                if p.getType().name() == "HEAP" and p.isUsageThresholdSupported()]

    def gc_s(self) -> float:
        """Collection time of the driver JVM's garbage collectors so far;
        in local mode the driver JVM runs every task."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1e3

    def persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def run_once(self, run_id: str, traced: bool):
        """One timed workload run; returns its wall time or None when it
        raised, timed out or failed the output check."""
        sc = self.spark.sparkContext
        sc.setLocalProperty(eventlog.RUN_PROPERTY, run_id)
        self.attempted += 1
        watchdog = threading.Timer(RUN_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        try:
            with self.tracer.span("workload." + self.workload, run_id):
                t0 = time.perf_counter()
                df = self.build()
                if traced:
                    with self.tracer.span("spark.plan", run_id):
                        tp = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        self.samples["plan_s"].append(time.perf_counter() - tp)
                pdf = df.toPandas()
                elapsed = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            self._fail(run_id, traceback.format_exc(limit=3))
            return None
        finally:
            watchdog.cancel()
            sc.setLocalProperty(eventlog.RUN_PROPERTY, None)
        if elapsed > RUN_TIMEOUT_S:
            self._fail(run_id, f"run took {elapsed:.1f} s > {RUN_TIMEOUT_S} s")
            return None
        problems = self.check(pdf)
        if problems:
            self._fail(run_id, "; ".join(problems[:5]))
            return None
        self.samples["persisted_bytes"].append(self.persisted_bytes())
        self.run_ids.append(run_id)
        self.last_rows = len(pdf)
        return elapsed

    def _fail(self, run_id: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{run_id}: {why}")
        log(f"run {run_id} FAILED: {why}")

    def warm_loop(self, key: str, seconds: float, traced: bool) -> None:
        t_end = time.perf_counter() + seconds
        n = 0
        min_runs = MIN_TRACED_LOOP_RUNS if self.traced else MIN_WARM_RUNS
        while n < min_runs or time.perf_counter() < t_end:
            n += 1
            el = self.run_once(f"{key}-{n}", traced)
            if el is not None:
                self.samples[key].append(el)
            if self.failed > 3:
                break

    # -- probes (traced run) ----------------------------------------

    def probe(self, name: str, fn, reps: int = PROBE_REPS) -> float:
        """Median wall time of a standalone probe job."""
        sc = self.spark.sparkContext
        times = []
        for i in range(reps):
            sc.setLocalProperty(eventlog.RUN_PROPERTY, f"probe-{name}-{i}")
            try:
                with self.tracer.span("probe." + name, f"probe-{name}-{i}"):
                    t0 = time.perf_counter()
                    fn()
                    times.append(time.perf_counter() - t0)
            finally:
                sc.setLocalProperty(eventlog.RUN_PROPERTY, None)
        return median(times)

    def coords(self):
        """(lon, lat) of the workload's points (for pages: the tags)."""
        import pyarrow.parquet as pq

        src = "coords.parquet" if self.workload == "pages_rollup" else "points"
        t = pq.read_table(os.path.join(self.data, src), columns=["lon", "lat"])
        return t.column("lon").to_numpy(), t.column("lat").to_numpy()

    def run_probes(self) -> dict:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from rhealpixdggs_spark.functions.udfs import rhp_encode_index
        from rhealpixdggs_spark.kernel.constants import WGS84_003
        from rhealpixdggs_spark.operators import tiling
        from rhealpixdggs_spark.operators.joins import polygon_join_df
        from rhealpixdggs_spark.sources.pages import extract_geotags

        spark = self.spark
        res = inputs.RES[self.workload]
        m = {}

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        pages = os.path.join(self.data, "pages")
        m["sources.extract_s"] = self.probe("sources.extract", lambda: noop(
            extract_geotags(spark.read.parquet(pages)).where(F.col("lon").isNotNull())))
        scanned, kept = extract_geotags(spark.read.parquet(pages)).agg(
            F.count(F.lit(1)), F.count("lon")).first()
        m["sources.geotagged_frac"] = kept / scanned

        lon, lat = self.coords()
        with self.tracer.span("probe.kernel.encode_index", "probe-kernel"):
            ts = []
            for _ in range(PROBE_REPS):
                t0 = time.perf_counter()
                inputs.encode_chunked(lon, lat, res)
                ts.append(time.perf_counter() - t0)
        m["kernel.encode_index_s"] = median(ts)
        m["kernel.encode_mpts_per_s"] = lon.shape[0] / median(ts) / 1e6

        src = os.path.join(self.data, "coords.parquet" if self.workload == "pages_rollup"
                           else "points")
        m["functions.encode_job_s"] = self.probe("functions.encode_job", lambda: noop(
            spark.read.parquet(src).select(
                rhp_encode_index(F.col("lon"), F.col("lat"), res).alias("cell_idx"))))

        # the seeded fleet at fleet_join's resolution on both workloads
        fleet_res = inputs.RES["fleet_join"]
        fleet = spark.read.parquet(os.path.join(self.data, "fleet.parquet"))
        m["tiling.resolve_s"] = self.probe("tiling.resolve", lambda: noop(
            tiling.resolve_fleet_vertices(fleet, WGS84_003, None, "perfbench")))
        resolved = tiling.resolve_fleet_vertices(
            fleet, WGS84_003, None, "perfbench").persist(StorageLevel.MEMORY_AND_DISK)
        resolved.count()
        try:
            cand = tiling.fleet_candidate_idx(resolved, WGS84_003, fleet_res)
            m["tiling.candidates_s"] = self.probe("tiling.candidates", lambda: noop(cand))
            rows = cand.count()
            m["tiling.candidate_rows"] = rows
            m["tiling.candidate_distinct_frac"] = cand.distinct().count() / rows
        finally:
            resolved.unpersist()
        if self.workload == "pages_rollup":
            # the rollup joins nothing: joins.* come from one probe run
            # of polygon_join_df over the pages' geotags (its candidate
            # pairs from the event log, read after the session stops)
            matches = []
            self.probe("joins.polygon_join", lambda: matches.append(polygon_join_df(
                spark.read.parquet(src), fleet, res=fleet_res).count()), reps=1)
            m["joins.matches"] = matches[0]
        m["tiling.grid_s"] = self.probe("tiling.grid", lambda: noop(
            tiling.grid(spark, inputs.TILE_RES)))
        return m

    # -- main --------------------------------------------------------

    def phase(self, name: str) -> None:
        """Wall time since the previous phase ended, for the detail file."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def make_inputs(self) -> None:
        """The first setup sample launches a JVM that writes the input
        tables, outside all timing, and then stops; their expectations
        are pinned by inputs.py in a process without a JVM."""
        self.start_session(False)
        self.phase("setup-1")
        shutil.rmtree(self.data, ignore_errors=True)
        os.makedirs(self.data)
        inputs.write_tables(self.spark, self.data, self.workload, self.seed,
                            probes=self.traced)
        self.stop_session()
        stop_jvm()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), "--workload",
             self.workload, "--seed", str(self.seed), "--dir", self.data],
            check=True, timeout=GEN_TIMEOUT_S, stdout=sys.stderr,
        )
        self.phase("inputs")
        with open(os.path.join(self.data, "meta.json")) as f:
            self.meta = json.load(f)
        if self.workload == "fleet_join":
            import numpy as np

            self.expected_keys = np.load(os.path.join(self.data, "expected_keys.npy"))

    def run(self) -> dict:
        with PeakRss() as rss:
            # one JVM at a time: the workload runs in the last one
            for _ in range(SETUP_SAMPLES - 1):
                self.stop_session()
                stop_jvm()
                self.start_session(False)
            self.phase("setup")
            self.samples["cold"] = self.run_once("cold", False)
            self.phase("cold")
            for i in range(WARMUP_RUNS[self.workload]):
                self.run_once(f"warmup-{i + 1}", False)
            self.phase("warmup")
            warm_s = self.seconds / 2 if self.traced else self.seconds
            self.warm_loop("warm", warm_s, False)
            self.phase("warm")
            if self.traced:
                # the traced loop follows the untraced one in a new
                # session of the same JVM with the event log on; its
                # first run re-imports the engine in new Python workers
                # and is not timed
                self.stop_session()
                shutil.rmtree(self.eventlog_dir, ignore_errors=True)
                self.start_session(True)
                self.samples["setup"].pop()  # traced session: not a setup sample
                self.run_once("traced-first", True)
                for pool in self.old_gen_pools():
                    pool.resetPeakUsage()
                gc0, n0 = self.gc_s(), self.attempted
                self.warm_loop("traced_warm", self.seconds / 2, True)
                self.layers["spark.gc_s"] = (self.gc_s() - gc0) / (self.attempted - n0)
                self.layers["spark.old_gen_peak_mb"] = sum(
                    p.getPeakUsage().getUsed() for p in self.old_gen_pools()) / 2**20
                self.phase("traced")
                self.layers.update(self.run_probes())
                self.phase("probes")
                # what the session still holds after its runs: storage
                # that operators persisted and never released
                if self.samples["persisted_bytes"]:
                    self.layers["storage.persisted_bytes"] = self.samples["persisted_bytes"][-1]
                app_id = self.spark.sparkContext.applicationId
                self.stop_session()
                self.read_eventlog(app_id)
                self.phase("eventlog")
            else:
                self.stop_session()
        self.peak_rss = rss.peak
        self.peak_rss_by_process = rss.peak_by_name
        return self.metrics()

    def read_eventlog(self, app_id: str) -> None:
        app_dir = eventlog.find_app_dir(self.eventlog_dir, app_id)
        el = eventlog.EventLog(eventlog.read_events(app_dir))
        spans = {s["run"]: s["end"] - s["start"] for s in self.tracer.spans
                 if s["name"].startswith("workload.")}
        runs = [r for r in self.run_ids if r.startswith("traced_warm")]
        per_run = [el.run_metrics(r, spans[r], self.nproc) for r in runs]
        self.eventlog_runs = dict(zip(runs, per_run))
        for k in per_run[0] if per_run else ():
            self.layers.setdefault(k, median([p[k] for p in per_run]))
        if self.workload == "pages_rollup":
            self.layers["joins.candidate_pairs"] = el.run_metrics(
                JOINS_PROBE_RUN, 0.0, self.nproc)["joins.candidate_pairs"]
        shutil.rmtree(app_dir, ignore_errors=True)

    def metrics(self) -> dict:
        setup = self.samples["setup"]
        warm = self.samples["warm"]
        if not self.traced:
            m = {"setup_s": (median([s["total_s"] for s in setup]), "s"),
                 "peak_rss_mb": (self.peak_rss / 2**20, "MB")}
            if self.samples["cold"] is not None:
                m["cold_run_s"] = (self.samples["cold"], "s")
            if warm:
                m["run_s"] = (median(warm), "s")
            return m
        lay = dict(self.layers)
        lay["session.start_s"] = median([s["start_s"] for s in setup])
        lay["session.worker_warmup_s"] = median([s["warmup_s"] for s in setup])
        if self.samples["plan_s"][1:]:
            lay["spark.plan_s"] = median(self.samples["plan_s"][1:])
        if warm and self.samples["traced_warm"]:
            lay["trace.run_s"] = median(self.samples["traced_warm"])
            lay["trace.overhead_s"] = lay["trace.run_s"] - median(warm)
        if self.workload == "fleet_join" and self.run_ids:
            lay["joins.matches"] = self.last_rows
        if lay.get("joins.candidate_pairs") and "joins.matches" in lay:
            lay["joins.refine_selectivity"] = lay["joins.matches"] / lay["joins.candidate_pairs"]
        self.all_layers = {
            k: (int(round(lay[k])) if unit in ("count", "bytes") else lay[k], unit)
            for k, (unit, _) in PER_LAYER.items() if k in lay}
        return {k: v for k, v in self.all_layers.items() if k not in DETAIL_ONLY}


def main() -> int:
    ap = argparse.ArgumentParser(description="rhp-spark spatial-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _prepare_env()
    try:
        import rhealpixdggs_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2

    bench = Bench(args)
    try:
        bench.make_inputs()
        metrics = bench.run()
    finally:
        bench.stop_session()
        stop_jvm()
    if bench.attempted - bench.failed < 1:
        log("no run succeeded")
        return 1

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    detail_path = os.path.join(
        WORK, "results",
        f"{args.workload}-s{args.seed}-trace{args.trace}-{int(time.time())}.json")
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_stamp(ROOT, bench.nproc),
        "inputs": {k: v for k, v in bench.meta.items() if k != "expected"},
        "samples": bench.samples, "attempted": bench.attempted, "failed": bench.failed,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in bench.peak_rss_by_process.items()},
        "fail_frac": bench.failed / bench.attempted, "failures": bench.failures,
        "rows_per_s": (bench.meta["rows"] / median(bench.samples["warm"])
                       if bench.samples["warm"] else None),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "layers": {k: {"value": v, "unit": u, "moves": PER_LAYER[k][1]}
                   for k, (v, u) in getattr(bench, "all_layers", {}).items()},
        "phases_s": bench.phases,
        "spans": bench.tracer.spans,
        "eventlog_runs": getattr(bench, "eventlog_runs", {}),
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"perfbench detail: {os.path.relpath(detail_path, ROOT)}")
    # compact separators keep the traced line under 2,000 characters, so a reader that keeps only the tail of
    # stdout still gets all of it
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":")))
    return 0


# Per-layer metric -> (unit, the end-to-end metric and workload it
# should move). Probe times are standalone costs of a layer's public
# function (Spark fuses layers into shared stages, so they do not sum
# to run_s), measured on both workloads: a layer that a workload does
# not call reads as a cost its runs do not pay. The spark.*,
# functions.python_worker_s/bytes_* and joins.candidate_pairs figures
# are the event-log split of the workload's own traced runs; on
# pages_rollup, which joins nothing, joins.* come from JOINS_PROBE_RUN.
PER_LAYER = {
    "session.start_s": ("s", "setup_s, all workloads"),
    "session.worker_warmup_s": ("s", "setup_s, all workloads"),
    "sources.extract_s": ("s", "run_s on pages_rollup only (fleet_join: "
                          "standalone cost over its seed's pages)"),
    "sources.geotagged_frac": ("ratio", "run_s on pages_rollup (rows kept / scanned)"),
    "kernel.encode_index_s": ("s", "run_s on pages_rollup more than on fleet_join"),
    "kernel.encode_mpts_per_s": ("Mpts/s", "as kernel.encode_index_s"),
    "functions.encode_job_s": ("s", "run_s on pages_rollup, then fleet_join"),
    "functions.python_worker_s": ("s", "run_s on pages_rollup, then fleet_join"),
    "functions.bytes_to_python": ("bytes", "run_s on pages_rollup, then fleet_join"),
    "functions.bytes_from_python": ("bytes", "run_s on pages_rollup, then fleet_join"),
    "tiling.resolve_s": ("s", "run_s, cold_run_s on fleet_join (pages_rollup: standalone "
                         "cost over its seed's fleet)"),
    "tiling.candidates_s": ("s", "run_s, cold_run_s on fleet_join"),
    "tiling.candidate_rows": ("count", "run_s on fleet_join"),
    "tiling.candidate_distinct_frac": ("ratio", "run_s on fleet_join (distinct / emitted)"),
    "tiling.grid_s": ("s", "flat on every workload"),
    "joins.candidate_pairs": ("count", "run_s on fleet_join (pages_rollup: the joins probe "
                              "over its geotags)"),
    "joins.matches": ("count", "fixed by the inputs"),
    "joins.refine_selectivity": ("ratio", "run_s on fleet_join (matches / candidate pairs)"),
    "spark.plan_s": ("s", "run_s, fleet_join first"),
    "spark.jobs": ("count", "run_s, fleet_join first (per-run fixed cost)"),
    "spark.stages": ("count", "run_s, fleet_join first (per-run fixed cost)"),
    "spark.tasks": ("count", "run_s, fleet_join first (per-run fixed cost)"),
    "spark.executor_run_s": ("s", "run_s, fleet_join first"),
    "spark.executor_cpu_s": ("s", "run_s, fleet_join first"),
    "spark.gc_s": ("s", "run_s, fleet_join first (driver JVM collection time per traced "
                   "warm run)"),
    "spark.task_gc_s": ("s", "as spark.gc_s (the tasks' own GC time, often 0)"),
    "spark.old_gen_peak_mb": ("MB", "spark.gc_s and run_s, fleet_join first (peak use of the "
                              "driver's old generation over the traced warm runs)"),
    "spark.shuffle_write_bytes": ("bytes", "run_s, fleet_join first"),
    "spark.shuffle_read_bytes": ("bytes", "run_s, fleet_join first"),
    "spark.shuffle_fetch_wait_s": ("s", "run_s, fleet_join first"),
    "spark.spill_bytes": ("bytes", "run_s, fleet_join first"),
    "spark.task_skew": ("ratio", "run_s, fleet_join first (max / median task, longest stage)"),
    "spark.cores_busy_frac": ("ratio", "run_s, fleet_join first (executor time / wall x cores)"),
    "storage.persisted_bytes": ("bytes", "spark.old_gen_peak_mb and run_s on fleet_join"),
    "trace.run_s": ("s", "none: traced run_s"),
    "trace.overhead_s": ("s", "none: traced minus untraced run_s"),
}
# Fixed by the inputs, derived from a printed metric, or equal to
# another (read bytes to write bytes) or to 0 (fetch wait) in local
# mode: kept in the detail file, left off the result line so that it
# stays under 2,000 characters.
DETAIL_ONLY = {"sources.geotagged_frac", "kernel.encode_mpts_per_s",
               "functions.bytes_from_python", "joins.matches", "spark.shuffle_read_bytes",
               "spark.shuffle_fetch_wait_s", "spark.task_gc_s", "trace.run_s"}
# The run id of the joins probe on pages_rollup.
JOINS_PROBE_RUN = "probe-joins.polygon_join-0"


if __name__ == "__main__":
    sys.exit(main())
