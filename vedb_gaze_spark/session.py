"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
builder applies (master comes from spark-submit). Defaults chosen for the
100 TB target: AQE on (runtime coalesce + skew-join split), Arrow for every
pandas exchange, and shuffle partitions sized by the environment rather
than hardcoded in operators.
"""

from __future__ import annotations

import os
import site
from collections.abc import Mapping

from pyspark.sql import SparkSession

# the package's parent directory: a Python process can import the package
# when this directory is on its sys.path
_ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def local_master_conf(env: Mapping[str, str], cwd: str) -> dict[str, str]:
    """Builder settings that apply only when this process picks the
    master. None with SPARK_MASTER_OVERRIDE_DISABLED set: spark-submit's
    --master wins, and executors may get this package only through
    --py-files, which a daemon cannot import before its first task.
    Otherwise ``local[$SPARK_GRAFT_CPUS]``, plus vedb_gaze_spark/pydaemon.py
    as the Python-worker daemon when that daemon can import this
    package: the driver JVM starts it from `cwd` with `env`'s PYTHONPATH."""
    if env.get("SPARK_MASTER_OVERRIDE_DISABLED"):
        return {}
    conf = {"spark.master": f"local[{env.get('SPARK_GRAFT_CPUS', '32')}]"}
    daemon_path = [
        cwd, *env.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()
    ]
    if _ROOT in {os.path.realpath(p) for p in daemon_path if p}:
        conf["spark.python.daemon.module"] = "vedb_gaze_spark.pydaemon"
    return conf


def default_driver_memory(page_size: int, phys_pages: int) -> str:
    """The driver heap when SPARK_DRIVER_MEMORY is unset: 48g, capped at
    half the host's physical memory (``page_size * phys_pages`` bytes)
    so a local session leaves room for its Python workers and other
    processes. In whole megabytes. A cgroup or container memory limit
    is not read: inside a container capped below half the host, set
    SPARK_DRIVER_MEMORY."""
    half_mb = page_size * phys_pages // 2 // (1 << 20)
    return f"{min(48 << 10, half_mb)}m"


def get_spark(app_name: str = "vedb-gaze-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the generated-class cache defaults to 100 entries; a session
        # running the full registry (60+ queries x several codegen stages
        # each) thrashes it, so later queries re-compile every stage and
        # compute-dense plans run on cold, un-JITed classes (measured:
        # the same query 3.4 s early in a 24-query session, 31 s late).
        # r9: 2000 → 5000 — the headline queue reached 113 queries and
        # the widest plan (dedup_agreement, three near-dup kernels in
        # one union job) measured 52 s at queue position 101 vs 11-20 s
        # isolated: the r6 eviction signature again, one size up.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # local mode runs executors inside the driver JVM: size the heap
        # for all $SPARK_GRAFT_CPUS task threads, not a lone driver, but
        # within the host (a 48g heap grew a tier-1 JVM on a 16 GB host
        # to 7.7 GB RSS before the kernel's OOM killer stopped it)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(
                os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_PHYS_PAGES")
            ),
        )
        # JIT CodeCache headroom: measured 112 MB of compiled nmethods
        # after only 40 small-SF registry queries (r9 probe), so the
        # full 113-query sf0.1 session plausibly crosses the 240 MB
        # default — at which point UseCodeCacheFlushing DISCARDS hot
        # compiled methods and compute-dense late-queue plans re-run
        # interpreted (the layer below PERF_NOTES' generated-class
        # cache thrash). 512 MB removes that failure mode; it is NOT
        # the whole in-session variance story for the widest plans
        # (dedup_agreement re-JITs its union job per session — see
        # PERF_NOTES r9).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        # With SPARK_GRAFT_CHECKPOINT_DIR set, every iterative spine
        # switches to reliable df.checkpoint (BPE every 6 merges, HITS
        # twice per iteration, CC per round — iter_checkpoint), and
        # Spark never deletes reliable checkpoint data unless the
        # ContextCleaner is told to — unbounded checkpoint-dir growth
        # across jobs on cluster deployments (ADVICE r10). Static conf,
        # so it must be on the builder, not a live session; harmless in
        # local mode where localCheckpoint is used instead.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    # In tests / local runs there is no cluster manager; on a real
    # cluster spark-submit's --master wins because getOrCreate reuses
    # the existing session.
    for k, v in local_master_conf(os.environ, os.getcwd()).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Cluster deployments set SPARK_GRAFT_CHECKPOINT_DIR to a
    # fault-tolerant path and every iterative spine switches from
    # localCheckpoint to reliable df.checkpoint through
    # functions/core.py:iter_checkpoint — the one session-level opt-in
    # (SURVEY §4). Local mode leaves it unset: nothing to survive.
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark
