"""The one way the package materializes an intermediate frame.

Iterative graph loops and self-joined dedup frames cut their lineage with
``checkpoint``; ``fork`` gives one materialized frame fresh attribute ids
per reference inside a single plan.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint of ``df``; on failure, cache + count instead.

    Spark 4.1 localCheckpoint intermittently throws NoSuchElementException
    on plans that self-join an already-checkpointed frame (attribute-id
    collision in the checkpoint plan copy; execution itself is fine). The
    fallback keeps the lineage but still materializes once, so callers
    that reference the result several times do not recompute it. Every
    fallback is logged as a WARNING naming the exception class.
    """
    try:
        return df.localCheckpoint(eager=True)
    except Exception as exc:
        log.warning(
            "localCheckpoint failed (%s); falling back to cache + count",
            type(exc).__name__,
        )
        df = df.cache()
        df.count()
        return df


def fork(df: DataFrame) -> DataFrame:
    """Fresh-attribute copy of a frame (double alias projection).

    Spark 4.1's checkpoint/cache plan canonicalization intermittently
    throws NoSuchElementException when one checkpointed frame is
    referenced several times in a plan (self-join + anti-join + union) —
    the references share attribute ids. Re-aliasing through temp names
    allocates new ids per reference, which reliably avoids it.
    """
    cols = df.columns
    tmp = [f"__fork_{c}" for c in cols]
    return df.toDF(*tmp).select(
        *[F.col(t).alias(c) for t, c in zip(tmp, cols)]
    )
