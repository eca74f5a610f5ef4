"""The Spark session the benchmark runs in, and its shutdown."""

from __future__ import annotations

import os
import subprocess
import time

from stats import process_tree


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# The JVM holds plans, shuffled sketch blobs and checkpointed partials;
# the sketch work runs in Python. A fixed 1 GiB heap (Spark's default
# size, committed up front) keeps the JVM's resident size from following
# G1's heap-growth decisions, so peak_rss_mb is steady.
HEAP = "1g"


def start_spark(work: str, event_log: str | None):
    from pyspark.sql import SparkSession
    cpus = _host_cpus()
    b = (SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.driver.memory", HEAP)
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
         # no JVM perf-data file; JVM temp files go to the work directory
         .config("spark.driver.extraJavaOptions",
                 f"-XX:-UsePerfData -Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it ran in, and wait for every
    process this one started to end."""
    from pyspark import SparkContext
    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
