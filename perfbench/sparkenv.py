"""The benchmark's Spark session: local[n] with n ≤ nproc, a heap sized to
sit beside the Python workers, every temp file inside the work dir."""

from __future__ import annotations

import os


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def redirect_temp(work: str) -> None:
    """Point every temp-file user (Python ``tempfile``, Spark local dirs,
    the JVMs' java.io.tmpdir) at the work dir. Call before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def make_spark(work: str, n_cores: int, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        # local mode: the driver heap is the executor heap; 2 GB keeps the
        # whole process tree near 3.5 GB with four Python workers
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            # -Xms = -Xmx: the heap never resizes mid-run; no hsperfdata
            # file under /tmp
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData "
            f"-XX:ParallelGCThreads={n_cores} "
            f"-XX:ConcGCThreads={max(1, n_cores // 4)}",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n_cores))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{event_log_dir}")
            # one plain JSON-lines file: eventlog.py reads it directly
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (the
    gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
