"""Per-key pandas kernels: one Python pass per shuffle partition.

A grouped pandas UDF pays its Python-worker cost per task, not per key:
about 0.06 s per task, empty or not, of which about 5 ms is CPU (4-core
host; PERF_NOTES "Python-worker task start"), against well under a
second of numeric work for 1,500 TPS fits.
So the key is hashed into the session's ``spark.sql.shuffle.partitions``
partitions (at cluster scale the task count follows that setting), and
one mapInPandas task per partition walks its key-sorted rows, holding
one Arrow batch plus one key's rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_per_key(
    df: DataFrame, key: str, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str
) -> DataFrame:
    """Run fn once per distinct non-null value of `key` and concatenate
    the results. fn gets that key's rows, indexed 0..n-1, in no
    particular order."""

    def emit(groups: list[list[pd.DataFrame]]) -> Iterator[pd.DataFrame]:
        outs = [fn(pd.concat(g, ignore_index=True)) for g in groups]
        outs = [o for o in outs if len(o)]
        if outs:
            yield pd.concat(outs, ignore_index=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: list[pd.DataFrame] = []  # the last key seen may go on in the next batch
        for pdf in batches:
            if pdf.empty:
                continue
            k = pdf[key].to_numpy()
            cuts = [0, *(np.flatnonzero(k[1:] != k[:-1]) + 1), len(pdf)]
            groups = [[pdf.iloc[s:e]] for s, e in zip(cuts, cuts[1:])]
            if held and held[0][key].iat[0] == k[0]:
                groups[0] = held + groups[0]
            elif held:
                groups.insert(0, held)
            held = groups.pop()
            yield from emit(groups)
        yield from emit([held] if held else [])

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # hash(key), not the bare key: on an input already hashpartitioning(
    # key, n) (an upstream window) the optimizer drops repartition(n, key)
    # and the kernels run in one task behind the window's AQE-coalesced
    # exchange. A numPartitions repartition is exempt from coalescing.
    keyed = df.where(F.col(key).isNotNull()).repartition(n, F.hash(key))
    return keyed.sortWithinPartitions(key).mapInPandas(run, schema=schema)
