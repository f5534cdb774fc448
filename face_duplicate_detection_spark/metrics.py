"""Per-stage metrics and per-partition lineage.

The reference samples CPU/RAM/GPU per item and keeps scalar counters
(``/root/reference/duplicate_face.py:17-25,29-32,153-155,191-193``).
The Spark re-expression (SURVEY.md §2.10 B4) is a ``lineage`` table
with one row per (stage, partition): rows seen and wall time, produced
by a pass-through ``mapInPandas`` wrapper — the north_rule's
"per-partition lineage and metrics" requirement.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """One row per partition: (stage, partition_id, rows_in, wall_ms).

    A separate accounting pass over the stage's input (cheap: column-
    pruned to nothing but partition iteration).
    """

    def account(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.time()
        n = 0
        for pdf in batches:
            n += len(pdf)
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        yield pd.DataFrame(
            {
                "stage": [stage],
                "partition_id": [pid],
                "rows_in": [n],
                "wall_ms": [int((time.time() - t0) * 1000)],
            }
        )

    return df.mapInPandas(account, schema=LINEAGE_SCHEMA)
