"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
skew-join splitting and partition coalescing), shuffle partitions sized
to cores rather than the 200 default, Arrow batches large enough to
amortize the JVM->Python hop for the tiny encode kernel
(SURVEY.md section 4.2: ArrowEvalPythonExec is the engine's only
process boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tune_sql_conf(spark: SparkSession, shuffle_partitions: int | None = None) -> None:
    """Apply the engine's runtime-settable SQL tuning to an EXISTING
    session — for spark-submit jobs, where the session master/memory
    come from the submit command and must not be overridden. Sets
    shuffle partitions to the cluster's default parallelism (cores in
    local mode, total executor cores on a cluster), AQE with skew-join
    splitting, and the measured-optimal 64k Arrow batch (BENCH/
    BASELINE.md config sweep)."""
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    for k, v in {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    }.items():
        spark.conf.set(k, v)


def _engine_on_worker_path() -> bool:
    """Whether a Python worker launched by this driver's JVM in local
    mode can import the engine: Spark starts the daemon with
    ``python -m`` in the driver's cwd and with the driver's PYTHONPATH,
    on the same interpreter."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == os.path.realpath(root) for p in paths)


def get_spark(
    app_name: str = "rhealpixdggs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or return) the engine's session.

    Python workers fork from ``rhealpixdggs_spark.worker_daemon``
    (``spark.python.daemon.module``) rather than the stock
    ``pyspark.daemon``. The stock worker re-reads the directories of
    pyspark.zip, the py4j zip and the Spark jar at the start of every
    task (``importlib.invalidate_caches``), ~0.19 s per task; the
    engine's daemon re-reads an archive only when its size or mtime
    changed. The daemon starts before any task runs, so the engine
    must be importable from the worker interpreter's path at session
    start: the driver's cwd or PYTHONPATH, as for the tests, perfbench
    and bench.py run from the checkout. Otherwise, and on non-local
    masters, whose executors may not have the engine, the stock daemon
    is kept. spark-submit jobs that ship the engine with --py-files
    (jobs/) build their own session and keep the stock daemon: a
    --py-files zip is importable only once a task has run
    setup_spark_files, after the daemon is up.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[len("local[") : -1] if master.startswith("local[") else str(cpus)
        shuffle_partitions = (os.cpu_count() or 8) if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if (master == "local" or master.startswith("local[")) and _engine_on_worker_path():
        b = b.config("spark.python.daemon.module", "rhealpixdggs_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
