"""Exact all-pairs oracle (test-scale only).

The reference's exact path IS an all-pairs computation
(selfclean/cleaner/selfclean_cleaner.py:121-146, blocked cross join);
this operator reproduces it Spark-side as the small-N oracle the recall
gate compares against (FIXTURES.md §4, SURVEY.md J1 "Exact small-scale
oracle: crossJoin + vectorized UDF (test only)").

NEVER run this at scale — it is O(N²) by construction.  Its value is
that predicted edges can be checked against exact truth with the same
shingle config, entirely inside Spark (the pytest suite also maintains
an independent DuckDB oracle so the two implementations cross-check).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from selfclean_spark.config import SignatureConfig
from selfclean_spark.functions import sketches
from selfclean_spark.functions.worker import worker_task

ORACLE_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
        StructField("jaccard", DoubleType(), False),
    ]
)


def exact_all_pairs(
    df: DataFrame,
    cfg: SignatureConfig,
    id_col: str = "id",
    text_col: str = "content",
    max_rows: int = 10_000,
) -> DataFrame:
    """All (id_a < id_b) pairs with exact shingle-set Jaccard.

    Guarded by ``max_rows`` (driver-side count) so it cannot be pointed
    at a production table by accident.
    """
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"exact_all_pairs is O(N²); refusing N={n} > max_rows={max_rows}"
        )
    left = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("content_a")
    )
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("content_b")
    )
    crossed = left.crossJoin(right).filter(F.col("id_a") < F.col("id_b"))

    @worker_task
    def jaccard_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, np.ndarray] = {}

        def sh(key: int, text: str) -> np.ndarray:
            s = cache.get(key)
            if s is None:
                s = cache[key] = sketches.shingle(text, cfg)
            return s

        for pdf in batches:
            jac = np.empty(len(pdf), dtype=np.float64)
            ids_a = pdf["id_a"].to_numpy()
            ids_b = pdf["id_b"].to_numpy()
            ca = pdf["content_a"].to_numpy()
            cb = pdf["content_b"].to_numpy()
            for i in range(len(pdf)):
                jac[i] = sketches.exact_jaccard(
                    sh(ids_a[i], ca[i]), sh(ids_b[i], cb[i])
                )
            yield pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "jaccard": jac})

    return crossed.mapInPandas(jaccard_batches, schema=ORACLE_SCHEMA)
