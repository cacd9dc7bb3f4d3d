"""session.py and pydaemon.py: the local master's Python-worker daemon
re-reads a zip archive's directory at task start only when the archive
changed, a session whose master comes from spark-submit keeps pyspark's
own daemon, and the default driver heap fits the host."""

import os

import pandas as pd

from vedb_gaze_spark.session import _ROOT, default_driver_memory, local_master_conf

DAEMON = "spark.python.daemon.module"


def test_task_start_rereads_only_changed_archives(spark, tmp_path):
    """Inside a Python task, importlib.invalidate_caches() (which the
    worker runs before every task) reads no zip directory while every
    archive on sys.path is unchanged; a rewritten archive is re-read and
    its new modules import."""
    assert spark.conf.get(DAEMON) == "vedb_gaze_spark.pydaemon"
    zp = str(tmp_path / "vgs_mods.zip")

    # nested so the Python workers get it by value: they cannot import
    # the test module
    def task(batches):
        import importlib
        import sys
        import zipfile
        import zipimport

        def write(n):
            with zipfile.ZipFile(zp, "w") as z:
                for i in range(n):
                    z.writestr(f"vgs_zipmod{i}.py", f"X = {i}\n")

        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
            unchanged = len(reads)
            write(1)
            sys.path.insert(0, zp)
            x0 = importlib.import_module("vgs_zipmod0").X
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
            settled = len(reads)
            write(2)
            importlib.invalidate_caches()
            rewritten = reads.count(zp)
            x1 = importlib.import_module("vgs_zipmod1").X
        finally:
            zipimport._read_directory = read
            if zp in sys.path:
                sys.path.remove(zp)
            for m in ("vgs_zipmod0", "vgs_zipmod1"):
                sys.modules.pop(m, None)
            sys.path_importer_cache.pop(zp, None)
        yield pd.DataFrame({"unchanged": [unchanged], "settled": [settled],
                            "rewritten": [rewritten], "x": [x0 + 10 * x1]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        task, "unchanged long, settled long, rewritten long, x long").collect()
    assert [r.asDict() for r in rows] == [
        {"unchanged": 0, "settled": 0, "rewritten": 1, "x": 10}]


def test_daemon_is_set_for_the_local_master_only(tmp_path):
    assert local_master_conf({"SPARK_MASTER_OVERRIDE_DISABLED": "1"}, _ROOT) == {}
    assert local_master_conf({"SPARK_GRAFT_CPUS": "3"}, _ROOT) == {
        "spark.master": "local[3]", DAEMON: "vedb_gaze_spark.pydaemon"}
    # started elsewhere, the daemon finds the package only on PYTHONPATH
    elsewhere = str(tmp_path)
    assert DAEMON not in local_master_conf({}, elsewhere)
    assert local_master_conf({"PYTHONPATH": os.pathsep.join(["/nonexistent", _ROOT])},
                             elsewhere)[DAEMON] == "vedb_gaze_spark.pydaemon"


def test_driver_memory_default_is_half_the_host_up_to_48g():
    gib = 1 << 30
    assert default_driver_memory(4096, 16 * gib // 4096) == "8192m"
    assert default_driver_memory(16384, 15 * gib // 16384) == "7680m"
    assert default_driver_memory(4096, 96 * gib // 4096) == "49152m"
    assert default_driver_memory(4096, 512 * gib // 4096) == "49152m"
