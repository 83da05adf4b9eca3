"""The one way the package materializes an intermediate frame.

Iterative graph loops and self-joined dedup frames cut their lineage with
``checkpoint``; ``checkpoint_observed`` also returns aggregates of the
checkpointed rows from the same job, so a loop can test convergence without
an action of its own. ``fork`` gives one materialized frame fresh attribute
ids per reference inside a single plan.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation, functions as F

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


def checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``checkpoint(df)`` plus ``metrics``, aggregates over df's rows.

    An Observation rides the checkpoint's own job (the cache + count
    fallback runs the observed plan too), so reading the metrics costs no
    further Spark job. Returns (checkpointed frame, {alias: value}).
    """
    obs = Observation()
    cp = checkpoint(df.observe(obs, *metrics))
    return cp, obs.get


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
