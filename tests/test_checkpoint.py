"""The package's single checkpoint helper and its visible fallback."""

from __future__ import annotations

import ast
import logging
import pathlib

import thesaurus_based_ner_spark
import pytest
from pyspark.sql import functions as F

from thesaurus_based_ner_spark.operators.checkpoint import (
    checkpoint,
    checkpoint_observed,
)


def test_checkpoint_fallback_is_logged_and_cached(spark, monkeypatch, caplog):
    df = spark.range(10).selectExpr("id", "id * id AS sq")
    want = sorted(map(tuple, df.collect()))

    def boom(self, eager=True):
        raise RuntimeError("localCheckpoint unavailable")

    monkeypatch.setattr(type(df), "localCheckpoint", boom)
    with caplog.at_level(logging.WARNING):
        out = checkpoint(df)
    try:
        warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
        assert len(warnings) == 1, caplog.records
        assert "RuntimeError" in warnings[0].getMessage()
        assert out.is_cached
        assert sorted(map(tuple, out.collect())) == want
    finally:
        out.unpersist()


@pytest.mark.parametrize("fallback", [False, True])
def test_checkpoint_observed_metrics_ride_the_checkpoint_job(spark, monkeypatch, fallback):
    """The observed aggregates come back from the checkpoint's own job,
    on the localCheckpoint path and on the cache + count fallback."""
    df = spark.range(10).selectExpr("id", "id % 3 AS k")
    if fallback:
        def boom(self, eager=True):
            raise RuntimeError("localCheckpoint unavailable")

        monkeypatch.setattr(type(df), "localCheckpoint", boom)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(fn):
        before = dag.numTotalJobs()
        out = fn()
        return out, dag.numTotalJobs() - before

    plain, plain_jobs = jobs(lambda: checkpoint(df))
    (out, metrics), observed_jobs = jobs(
        lambda: checkpoint_observed(
            df, F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")
        )
    )
    try:
        assert metrics == {"n": 10, "s": 9}
        # reading the metrics runs no job beyond the checkpoint's own
        assert observed_jobs == plain_jobs
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
    finally:
        plain.unpersist()
        out.unpersist()


def test_local_checkpoint_is_called_only_by_the_helper():
    pkg = pathlib.Path(thesaurus_based_ner_spark.__file__).parent
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "localCheckpoint(" in p.read_text()
    )
    assert callers == ["operators/checkpoint.py"], callers


def test_no_silent_except_exception_handler():
    """An `except Exception` handler must log or re-raise: a body that is
    only `pass` or `return ...` hides the failure."""
    pkg = pathlib.Path(thesaurus_based_ner_spark.__file__).parent
    silent = sorted(
        f"{p.relative_to(pkg)}:{node.lineno}"
        for p in pkg.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.ExceptHandler)
        and isinstance(node.type, ast.Name)
        and node.type.id == "Exception"
        and all(isinstance(stmt, (ast.Pass, ast.Return)) for stmt in node.body)
    )
    assert silent == [], silent
