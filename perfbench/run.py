#!/usr/bin/env python3
"""Benchmark runner for vedb_gaze_spark.

    python3 perfbench/run.py --workload gaze_session --seed 1 --seconds 5 --trace 0

Runs one workload (gaze_session or ann_serve_grow) in one process against
`local[$(nproc)]`, from the root of a checkout of the repository. Inputs
are generated from scratch (`datagen.py`); the seed permutes key order
and picks serving batches and append chunks.

Set-up is measured SETUPS (3) times in the run; the first one launches
the JVM, and `setup_s` is the median. Every operation is then called
once, untimed ("first calls"), and passes are timed until `--seconds` of
work is done (at least two passes of gaze_session, one round of
ann_serve_grow). Every output is checked.

Prints a detail line (environment, per-operation samples, every named
end-to-end metric with its unit) and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, read from Spark's status store by job group.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from typing import Any  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gaze_session", "ann_serve_grow")
SETUPS = 3
DRIVER_MEMORY = "4g"


def pin_env(work: str) -> dict[str, str]:
    """Environment every run uses, set before the JVM starts."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    for var in ("SPARK_SQL_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CHECKPOINT_DIR",
                "SPARK_GRAFT_SF_DIR", "SPARK_MASTER_OVERRIDE_DISABLED"):
        os.environ.pop(var, None)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    return env


def source_identity() -> dict[str, str]:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "vedb_gaze_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def process_tree(pid: int) -> list[int]:
    """pid and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sizes (VmHWM) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid)[1:] if proc else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for p in tree:
            while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{p}"):
                os.kill(p, signal.SIGKILL)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentiles(xs: list[float]) -> dict[str, float]:
    """Median and the highest percentile with at least ten samples beyond it."""
    out = {"n": len(xs), "p50": median(xs)}
    if len(xs) >= 20:
        q = 100 * (1 - 10 / len(xs))
        p = max(v for v in (90, 95, 99, 99.9) if v <= q) if q >= 90 else int(q)
        out[f"p{p}"] = statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1]
    return out


def end_to_end(res) -> dict[str, float]:
    """The result line's metrics: median set-up, median pass time (a pass
    is one call of every key, or one serve/append round), and the median
    operation latency (a key's build + collect, or a served batch)."""
    ops = [op for p in res.passes for op in p if op.kind in ("key", "serve")]
    return {
        "setup_s": median([a + b for a, b in res.setups]),
        "wall_s": median([sum(op.seconds for op in p) for p in res.passes]),
        "op_p50_s": median([op.seconds for op in ops]),
    }


def named_metrics(res, e2e: dict[str, float], failed_ratio: float,
                  rss_mb: float) -> dict[str, dict[str, Any]]:
    """Every end-to-end metric that applies to the workload, with its unit
    and, for latencies, the sample count and highest supported percentile."""
    out = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    for kind in ("serve", "append"):
        xs = [op.seconds for p in res.passes for op in p if op.kind == kind]
        if xs:
            pct = percentiles(xs)
            for k, v in pct.items():
                if k != "n":
                    out[f"{kind}_{k}_s"] = {"value": v, "unit": "s", "n": pct["n"]}
    if "index_build_s" in res.info:
        out["index_build_s"] = {"value": res.info["index_build_s"], "unit": "s", "n": 1}
    out["failed_ratio"] = {"value": failed_ratio, "unit": "ratio"}
    out["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    return out


def per_layer(res, rss_mb: float) -> dict[str, float]:
    import workloads as W

    def per_pass(fn):
        return median([fn(p) for p in res.passes])

    def ctr(ops, k):
        return sum(op.counters.get(k, 0.0) for op in ops)

    m = {
        "session.cold_start_s": sum(res.setups[0]),
        "session.start_s": median([a for a, _ in res.setups]),
        "session.warm_s": median([b for _, b in res.setups]),
        "session.first_pass_s": sum(op.seconds for op in res.first),
        "session.peak_rss_mb": rss_mb,
        "plans.build_s": per_pass(lambda p: sum(op.build_s for op in p)),
        "plans.collect_s": per_pass(lambda p: sum(op.collect_s for op in p)),
        "plans.build_jobs": per_pass(lambda p: sum(op.build_jobs for op in p)),
        "spark.jobs": per_pass(lambda p: ctr(p, "jobs")),
        "spark.stages": per_pass(lambda p: ctr(p, "stages")),
        "spark.tasks": per_pass(lambda p: ctr(p, "tasks")),
        "spark.executor_run_s": per_pass(lambda p: ctr(p, "run_s")),
        "spark.executor_cpu_s": per_pass(lambda p: ctr(p, "cpu_s")),
        "spark.gc_s": per_pass(lambda p: ctr(p, "gc_s")),
        "spark.shuffle_write_mb": per_pass(lambda p: ctr(p, "shuffle_write_b") / 1e6),
        "spark.spill_mb": per_pass(lambda p: ctr(p, "spill_b") / 1e6),
        "sources.input_mb": per_pass(lambda p: ctr(p, "input_b") / 1e6),
    }

    keyed = {op.name: op for op in res.first if op.kind == "key"}
    drift = set()
    for p in res.passes:
        for op in p:
            if op.kind == "key" and any(
                    op.counters.get(c) != keyed[op.name].counters.get(c)
                    for c in ("jobs", "tasks", "shuffle_write_b")):
                drift.add(op.name)
    m["plans.pass_drift_keys"] = float(len(drift))
    for key in W.GAZE_KEYS + W.CORPUS_KEYS:
        def of(p, key=key):
            return [op for op in p if op.name == key]
        m[f"plans.{key}.wall_share"] = per_pass(
            lambda p, of=of: sum(op.seconds for op in of(p)) / max(sum(op.seconds for op in p), 1e-9))
        m[f"plans.{key}.jobs"] = per_pass(lambda p, of=of: ctr(of(p), "jobs"))
        m[f"plans.{key}.tasks"] = per_pass(lambda p, of=of: ctr(of(p), "tasks"))
        m[f"plans.{key}.first_jobs"] = ctr(of(res.first), "jobs")
        m[f"plans.{key}.first_tasks"] = ctr(of(res.first), "tasks")

    def grouped(p):
        return [op for op in p if op.name in W.GROUPED_KEYS]

    m["functions.grouped.tasks"] = per_pass(lambda p: ctr(grouped(p), "tasks"))
    m["functions.grouped.empty_task_ratio"] = per_pass(
        lambda p: ctr(grouped(p), "empty_tasks") / max(ctr(grouped(p), "tasks"), 1.0))
    m["functions.grouped.py_wait_share"] = per_pass(
        lambda p: (ctr(grouped(p), "run_s") - ctr(grouped(p), "cpu_s"))
        / max(ctr(grouped(p), "run_s"), 1e-9) if grouped(p) else 0.0)

    serves = [op for p in res.passes for op in p if op.kind == "serve"]
    appends = [op for p in res.passes for op in p if op.kind == "append"]
    cells = res.info.get("cells_on_disk", 0)
    n_files, n_bytes = W.index_files(res.info["index_path"]) if "index_path" in res.info else (0, 0)
    m.update({
        "sources.read_mb_per_batch": median([op.counters.get("input_b", 0.0) / 1e6 for op in serves]),
        "sources.pruned_ratio": median([op.extra.get("probed_cells", 0) / cells for op in serves]) if cells else 0.0,
        "sources.write_mb_per_append": median([op.counters.get("output_b", 0.0) / 1e6 for op in appends]),
        "sources.index_files": float(n_files),
        "sources.index_mb": n_bytes / 1e6,
        "streaming.serving.probe_share": median([op.extra.get("probe_s", 0.0) / op.seconds for op in serves]),
        "streaming.serving.batch_jobs": median([op.counters.get("jobs", 0.0) for op in serves]),
        "streaming.serving.append_jobs": median([op.counters.get("jobs", 0.0) for op in appends]),
    })
    return m


def write_digests(spark, data_dir: str) -> None:
    """Record (row count, digest) of every checked key without an oracle."""
    import workloads as W
    from vedb_gaze_spark.plans.queries import ORACLES, QUERIES

    out = {}
    for key in W.GAZE_KEYS + W.CORPUS_KEYS:
        if key not in ORACLES:
            out[key] = list(W.row_digest(QUERIES[key](spark, data_dir).collect()))
    with open(W.DIGESTS_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true",
                    help="record the digests of the keys without an oracle and exit")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "vedb_gaze_spark", "session.py")):
        print(f"perfbench: no vedb_gaze_spark package under {ROOT}", file=sys.stderr)
        return 2

    marks = [("start", time.perf_counter())]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    env = pin_env(work)
    os.chdir(work)
    sys.path.insert(0, ROOT)
    import datagen
    import workloads as W
    from spans import Tracer

    data_dir = os.path.join(work, "data")
    tables = W.INPUTS[args.workload]
    datagen.write_tables(data_dir, datagen.TABLES if args.write_digests else tables)
    spark = None
    try:
        from vedb_gaze_spark.session import get_spark

        if args.write_digests:
            spark = get_spark("perfbench-digests")
            write_digests(spark, data_dir)
            return 0
        keys = W.batch_keys(args.workload, bool(args.trace))
        expect = W.expected_outputs(keys, data_dir, tables,
                                    os.path.join(ROOT, ".perfbench_cache")) if keys else None

        marks.append(("inputs", time.perf_counter()))
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            t1 = time.perf_counter()
            W.warm_sources(spark, data_dir, tables)
            setups.append((t1 - t0, time.perf_counter() - t1))

        marks.append(("setups", time.perf_counter()))
        ctx = W.Context(spark, Tracer(spark, bool(args.trace)), data_dir, work,
                        args.seed, args.seconds)
        res = W.run_workload(args.workload, ctx, expect)
        res.setups = setups
        marks.append(("workload", time.perf_counter()))
        from pyspark import SparkContext

        rss = peak_rss_mb(process_tree(SparkContext._gateway.proc.pid))
        e2e = end_to_end(res)
        layers = per_layer(res, rss) if args.trace else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
        marks.append(("stop", time.perf_counter()))

    ops = res.first + [op for p in res.passes for op in p]
    failed = [op for op in ops if not op.ok]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {**env, **source_identity(), "data": datagen.describe()},
        "passes": len(res.passes),
        "failures": [f"{op.name}: {op.error or 'output mismatch'}" for op in failed],
        "metrics": named_metrics(res, e2e, len(failed) / len(ops), rss),
        "info": {k: v for k, v in res.info.items() if k != "index_path"},
        "phases_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
        "setups_s": res.setups,
        "first_calls": [[op.name, round(op.seconds, 4), op.counters] for op in res.first],
        "ops": [[op.name, round(op.build_s, 4), round(op.collect_s, 4), op.ok, op.counters]
                for p in res.passes for op in p],
    }
    print(json.dumps(detail))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}), flush=True)
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith("_per_batch") or name.endswith("_per_append"):
        return "MB"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
