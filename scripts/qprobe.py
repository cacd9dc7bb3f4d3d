#!/usr/bin/env python
"""Per-key cost probe: one JSON line per registry key.

Usage: python scripts/qprobe.py KEY [KEY ...] --sf DIR [--n 2] [--noop]
       python scripts/qprobe.py --all --sf DIR
       python scripts/qprobe.py KEY [KEY ...] --sf DIR --plan OUT_DIR

Each key gets one untimed warm call (codegen compile, JIT steady state),
then one call traced in two parts through vedb_gaze_spark/tracing.py:
`build`, the registry call that constructs the DataFrame (which runs
the eager count/collect actions of convergence loops and trainers, and
the shuffle stages behind every localCheckpoint), and `collect`, the
final action. Both carry jobs, stages, tasks, executor run and CPU
seconds, shuffle-write and spill bytes, JVM GC seconds and wall
seconds. `walls` holds the wall seconds of that call and of n-1 more
calls; `best_s` is their minimum. Jobs and tasks are load-insensitive;
read wall times on a quiet host only.

--noop   the final action is `write.format("noop")` (computes every
         column of every row, no collect-to-driver cost) instead of
         `collect()`; use it to decompose time, not for floors.
--all    every registry key; a key that raises prints its error and
         the pass goes on (any key's error is captured the same way).
--plan   write `explain("formatted")` of each key's DataFrame to
         OUT_DIR/<key>.txt and report the build only: no warm call, no
         final action.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def probe_key(spark, name: str, sf: str, n: int, noop: bool, plan_dir: str | None) -> dict:
    from vedb_gaze_spark.plans.queries import QUERIES
    from vedb_gaze_spark.tracing import trace

    def build():
        return QUERIES[name](spark, sf)

    def finish(df) -> None:
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    if plan_dir is not None:
        b = trace(spark, build)
        path = os.path.join(plan_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(b.result._sc._jvm.PythonSQLUtils.explainString(
                b.result._jdf.queryExecution(), "formatted"
            ))
        return {"build": b.counters(), "plan": path}
    finish(build())
    spark._jvm.System.gc()
    b = trace(spark, build)
    c = trace(spark, lambda: finish(b.result))
    walls = [round(b.wall_s + c.wall_s, 3)]
    for _ in range(n - 1):
        spark._jvm.System.gc()
        walls.append(round(trace(spark, lambda: finish(build())).wall_s, 3))
    return {"build": b.counters(), "collect": c.counters(), "walls": walls, "best_s": min(walls)}


def main(argv: list[str] | None = None, spark=None) -> None:
    """Probe the keys named in `argv`; with `spark` given, run in that
    session and leave it running."""
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plan", metavar="OUT_DIR")
    args = ap.parse_args(argv)

    from vedb_gaze_spark.plans.queries import QUERIES
    from vedb_gaze_spark.session import get_spark

    keys = list(QUERIES) if args.all else args.keys
    if args.plan is not None:
        os.makedirs(args.plan, exist_ok=True)
    own = spark is None
    spark = spark or get_spark("vgs-qprobe")
    try:
        for name in keys:
            line: dict = {"key": name, "sf": args.sf}
            try:
                line.update(probe_key(spark, name, args.sf, args.n, args.noop, args.plan))
            except Exception as exc:  # one broken key must not end the pass
                traceback.print_exc()
                line["error"] = f"{type(exc).__name__}: {exc}"[:300]
            print(json.dumps(line), flush=True)
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    main()
