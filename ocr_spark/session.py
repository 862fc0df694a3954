"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload: wide binary ``html`` column flowing into
Arrow-vectorized pandas UDFs.  The same config block is what we would ship in
``spark-submit --conf`` on a real multi-executor cluster; in this sandbox the
master is ``local[N]``.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# Arrow batches carry the raw html bytes (2–200 KB/doc, long-tailed).  The
# default 10k rows/batch would make multi-GB batches; 512 rows * ~20 KB avg
# keeps a batch ~10 MB — small enough for the Python worker heap, large
# enough to amortize the JVM<->Python Arrow channel.
ARROW_BATCH_ROWS = 512


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _daemon_finds_ocr_spark() -> bool:
    """Will ``python -m ocr_spark.worker_daemon``, started with this
    process's working directory and environment, import this package?  A
    script that only put ocr_spark on its own ``sys.path`` (workers then get
    it per task through ``addPyFile``) keeps the stock daemon."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    search = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return root in {os.path.realpath(p) for p in search + site.getsitepackages() if p}


def build_session(
    app_name: str = "ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    use_submit_master: bool = False,
) -> SparkSession:
    """``use_submit_master=True`` leaves the master unset so a
    ``spark-submit --master`` launch controls it (cluster mode).  A
    spark-submit launch is ALSO auto-detected (``PYSPARK_GATEWAY_PORT``
    marks the submit-provided JVM gateway, which already carries the
    submitted conf): builder options override submit conf, so setting
    ``builder.master`` here would silently clobber ``--master yarn`` and
    run the "cluster" job on the driver host at local[N]."""
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder
    if not use_submit_master:
        use_submit_master = "PYSPARK_GATEWAY_PORT" in os.environ
    if not use_submit_master:
        builder = builder.master(f"local[{cores}]")
        # ---- Python worker daemon (local master only) --------------------
        # Spark's stock daemon starts workers with pyspark.zip, the py4j zip
        # and the spark-core jar ahead of site-packages, and pyspark's
        # per-task setup (``importlib.invalidate_caches()``) makes every
        # zipimporter re-read its archive: ~0.25 s of every Python task
        # (0.16-0.48 s over 28 tasks, 4-vCPU host).  The module
        # ``ocr_spark.worker_daemon`` drops the archives whose packages are
        # installed at the same version, so workers load the installed
        # pyspark and the setup takes 0.1-0.3 ms.  A trivial arrow UDF job
        # (1,000 rows, 4 tasks, local[4]) went from 0.53 s to 0.32 s;
        # without Python it takes 0.18 s.  Only the builder-created local
        # master gets the daemon: there it runs with the driver's working
        # directory and environment, where it can import ocr_spark.  Under
        # spark-submit, ``--py-files`` reach workers per task, after the
        # daemon has started, so the stock daemon stays.
        if _daemon_finds_ocr_spark():
            builder = builder.config("spark.python.daemon.module", "ocr_spark.worker_daemon")
    builder = (
        builder.appName(app_name)
        # ---- planner / AQE ------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ---- Arrow / pandas-UDF channel ----------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # ---- determinism for the DuckDB oracle ---------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # ---- scan splitting sized for sandbox fixtures -------------------
        # 4 MB: the 158 MB bench tier fans out to ~40 tasks (2-3 waves at
        # local[16], balanced vs the long-tailed doc sizes) and the 30 MB
        # small tier still spreads across 8 cores.  The earlier 1 MB
        # setting over-split the bench input into ~316 tiny tasks whose
        # scheduling + Arrow-channel overhead cost ~40% throughput at
        # local[16].  A production 100 TB table has >128 MB files and
        # keeps the 128m default.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("OCR_SPARK_MAX_PARTITION_BYTES", "4194304"),
        )
        .config("spark.sql.files.openCostInBytes", "65536")
        # ---- planning a read lists its files on the driver ---------------
        # Above this many paths Spark lists them in a parallel Spark job,
        # one task per path.  icelite reads pass the manifest's own file
        # list (up to tasks x buckets files per write until compact runs),
        # so that job only re-learns what the manifest says: planning a
        # 767-file table read took 5.4 s with the job and 0.36 s listed on
        # the driver (48 files: 0.48 s vs 0.08 s; local[4], local disk).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # ---- stragglers: extraction time varies ~100x by doc size --------
        .config("spark.speculation", "true")
        # ---- local-mode memory (driver == the one JVM) -------------------
        .config("spark.driver.memory", os.environ.get("OCR_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
