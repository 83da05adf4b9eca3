"""The package's single checkpoint helper and its visible fallback."""

from __future__ import annotations

import logging
import pathlib

import thesaurus_based_ner_spark
from thesaurus_based_ner_spark.operators.checkpoint import checkpoint


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


def test_local_checkpoint_is_called_only_by_the_helper():
    pkg = pathlib.Path(thesaurus_based_ner_spark.__file__).parent
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "localCheckpoint(" in p.read_text()
    )
    assert callers == ["operators/checkpoint.py"], callers
