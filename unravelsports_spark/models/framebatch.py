"""The grouped-map path every per-frame model kernel runs on.

Pressing intensity, both graph converters and EFPI share one shape: a
relational pipeline hashes rows onto a few group keys, and one Arrow
grouped-map pandas UDF per group re-sorts the rows, cuts them into runs (one
frame, or one EFPI segment) and loops a NumPy kernel over the runs. Calling
Python once per batch of frames rather than once per 23-row frame amortizes
the UDF overhead, while the group keys keep full parallelism across matches.

A kernel states only its :class:`Runs` spec (sort order, the columns whose
change starts a new run, the columns a run carries), a per-batch function
from runs to output rows, and the output schema; :func:`map_runs` owns the
shuffle, the sort, the split and the output frame.

Spark's groupBy does not preserve row order, so the order a kernel depends
on is re-established inside each group with a stable sort.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import Column
from ..session import repartition_for_kernel

#: Frames per grouped-map call when a kernel groups by frame range. Groups
#: stay bounded, so executor memory is flat however long a match runs.
BATCH_FRAMES = 20_000


@dataclass(frozen=True)
class Runs:
    """How one group's rows become runs.

    The rows are stable-sorted on ``sort_by`` (``ascending`` as in
    ``DataFrame.sort_values``, nulls last) and a new run starts wherever
    any ``split_on`` value changes; two nulls count as equal. Each run is a
    dict mapping every name in ``columns`` and ``split_on`` to a NumPy
    slice, so a run's key values are ``run[key][0]``.
    """

    sort_by: Sequence[str]
    split_on: Sequence[str]
    columns: Sequence[str]
    ascending: bool | Sequence[bool] = True

    def split(self, pdf: pd.DataFrame) -> Iterator[dict]:
        if pdf.empty:
            return
        pdf = pdf.sort_values(
            by=list(self.sort_by), ascending=self.ascending, na_position="last", kind="stable"
        )
        names = dict.fromkeys([*self.columns, *self.split_on])
        arrays = {c: pdf[c].to_numpy() for c in names}
        changed = np.zeros(len(pdf) - 1, dtype=bool)
        for c in self.split_on:
            k = arrays[c]
            ne = k[1:] != k[:-1]
            if ne.any():
                ne &= ~(pd.isna(k[1:]) & pd.isna(k[:-1]))
            changed |= ne
        bounds = np.flatnonzero(np.r_[True, changed, True])
        for s, e in zip(bounds[:-1], bounds[1:]):
            yield {c: v[s:e] for c, v in arrays.items()}


def map_runs(
    df: DataFrame,
    runs: Runs,
    per_batch: Callable[[Iterator[dict]], Iterable],
    schema: T.StructType,
    keys: Sequence[str] | None = None,
) -> DataFrame:
    """Group ``df`` on ``keys`` and apply ``per_batch`` to each group's runs.

    ``per_batch`` yields output rows as tuples in ``schema``'s field order.
    ``keys=None`` groups by game, period and a ``BATCH_FRAMES`` frame range.
    The explicit repartition on exactly the group keys keeps the kernel at
    one shuffle (see ``session.repartition_for_kernel``).
    """
    if keys is None:
        df = df.withColumn("_chunk", (F.col(Column.FRAME_ID) / BATCH_FRAMES).cast("long"))
        keys = [Column.GAME_ID, Column.PERIOD_ID, "_chunk"]
    names = schema.fieldNames()

    def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(list(per_batch(runs.split(pdf))), columns=names)

    return (
        repartition_for_kernel(df, keys)
        .groupBy(*keys)
        .applyInPandas(run_batch, schema=schema)
    )
