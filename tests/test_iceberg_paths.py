"""use_iceberg=True code paths, driven against a mocked V2 surface.

No Iceberg runtime ships in this container (documented in README), so
these tests pin the BRANCH WIRING — which V2 calls fire with which
arguments — by recording DataFrame.writeTo / spark.sql instead of
executing them. The parquet fallback paths are exercised for real by
the rest of the suite; swapping the backend is config, not code.
"""

from __future__ import annotations

import logging

import pyspark.sql
import pytest

from thesaurus_based_ner_spark.sources import catalog as catalog_mod
from thesaurus_based_ner_spark.sources.catalog import Catalog


class _WriteToRecorder:
    def __init__(self, calls, table, df):
        self.calls = calls
        self.table = table
        self.df = df

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", self.table, len(cols)))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace", self.table))
        # run the plan into a noop sink, so the write's Observation is
        # filled as a real table write would fill it
        self.df.write.format("noop").mode("overwrite").save()

    def append(self):
        self.calls.append(("append", self.table))


@pytest.fixture()
def icat(spark, tmp_path, monkeypatch):
    calls: list = []
    sqls: list[str] = []

    class _Result:
        def __init__(self, snapshot_id):
            self._id = snapshot_id

        def collect(self):
            return [{"snapshot_id": self._id}]

    def fake_sql(query, *a, **kw):
        sqls.append(query)
        if ".files" in query:  # lineage probe: no metadata table → caught
            raise RuntimeError("no iceberg metadata in mock")
        if ".refs" in query:  # authoritative head: the main-branch ref
            return _Result(5151)
        if ".snapshots" in query:  # committed_at fallback (must NOT win)
            return _Result(4242)
        return None

    monkeypatch.setattr(spark, "sql", fake_sql, raising=False)
    # patch the CONCRETE DataFrame class (pyspark 4's classic subclass
    # overrides base-class methods, so patching pyspark.sql.DataFrame
    # would be shadowed)
    concrete_df_cls = type(spark.range(1))
    monkeypatch.setattr(
        concrete_df_cls,
        "writeTo",
        lambda self, tbl: calls.append(("writeTo", tbl))
        or _WriteToRecorder(calls, tbl, self),
        raising=False,
    )

    monkeypatch.setattr(
        pyspark.sql.catalog.Catalog, "tableExists", lambda self, t: True, raising=False
    )
    read_back = spark.range(1).selectExpr("CAST(id AS INT) AS k", "'x' AS v")
    monkeypatch.setattr(spark, "table", lambda name: read_back, raising=False)

    cat = Catalog(spark, str(tmp_path / "kgcat"), use_iceberg=True)
    return cat, calls, sqls


def test_iceberg_autodetect_from_catalog_conf(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(spark, "sql", lambda q, *a, **kw: None, raising=False)
    monkeypatch.setattr(
        spark.conf,
        "get",
        lambda key, default=None: (
            "org.apache.iceberg.spark.SparkSessionCatalog"
            if key == "spark.sql.catalog.spark_catalog"
            else default
        ),
        raising=False,
    )
    assert Catalog(spark, str(tmp_path / "auto")).use_iceberg is True


def test_iceberg_write_uses_v2_create_or_replace(spark, icat):
    cat, calls, sqls = icat
    assert any("CREATE NAMESPACE" in q for q in sqls)  # __init__ branch
    df = spark.range(3).selectExpr("CAST(id AS INT) AS k", "'x' AS v")
    out = cat.write("triples", df, partition_by=["k"], stage="s")
    table = f"{cat.namespace}.triples"
    assert ("writeTo", table) in calls
    assert ("partitionedBy", table, 1) in calls
    assert ("createOrReplace", table) in calls
    assert out.columns == ["k", "v"]  # read-back via spark.table
    meta = cat._read_meta("triples")
    assert meta["stage"] == "s" and meta["partitions"] == []
    assert meta["observed"] == {"rows": 3}
    # snapshot-id lineage: the head comes from the main-branch ref (random
    # snapshot ids are not monotonic, so committed_at ordering is only a
    # last resort — ADVICE r5), NOT from the .snapshots fallback
    assert meta["snapshot_id"] == 5151
    assert any(".refs" in q and "name = 'main'" in q for q in sqls)
    assert not any(".snapshots" in q for q in sqls)


def test_iceberg_replace_groups_deletes_then_appends(spark, icat):
    cat, calls, sqls = icat
    df = spark.range(2).selectExpr("CAST(id AS INT) AS k", "'z' AS v")
    cat.write("men", df)
    cat.replace_groups("men", df, group_keys=["k"])
    deletes = [q for q in sqls if q.startswith("DELETE FROM")]
    assert len(deletes) == 1 and f"{cat.namespace}.men" in deletes[0]
    assert ("append", f"{cat.namespace}.men") in calls
    # DELETE+append refreshes the sidecar with the post-commit snapshot
    assert cat._read_meta("men")["snapshot_id"] == 5151
    assert cat._read_meta("men")["stage"] == "replace:men"


def test_swap_write_crash_recovery(spark, tmp_path):
    """A crash between _swap_write's two renames leaves the live dir
    missing and name__upsert_old complete; the next replace_groups must
    RESTORE the old table and replace into it — not silently rewrite the
    table from the incoming batch alone."""
    import os
    import shutil

    cat = Catalog(spark, str(tmp_path / "cat"))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    cat.write("t", base)
    # simulate the torn state: live renamed aside, tmp never swapped in
    os.rename(cat.path("t"), cat.path("t__upsert_old"))
    os.makedirs(cat.path("t__upsert_tmp"), exist_ok=True)
    assert not os.path.isdir(cat.path("t"))

    inc = spark.createDataFrame([(3, "c2"), (4, "d")], "k int, v string")
    out = {(r.k, r.v) for r in cat.replace_groups("t", inc, ["k"]).collect()}
    # all prior rows survive; group 3 replaced, group 4 appended
    assert out == {(1, "a"), (2, "b"), (3, "c2"), (4, "d")}
    assert not os.path.isdir(cat.path("t__upsert_old"))
    assert not os.path.isdir(cat.path("t__upsert_tmp"))

    # superseded-old state (crash after swap, before cleanup): old removed
    shutil.copytree(cat.path("t"), cat.path("t__upsert_old"))
    out2 = {(r.k, r.v) for r in cat.replace_groups("t", inc, ["k"]).collect()}
    assert out2 == out
    assert not os.path.isdir(cat.path("t__upsert_old"))


def test_snapshot_head_fallback_chain(spark, tmp_path, monkeypatch, caplog):
    """Head resolution degrades refs -> history -> committed_at ordering:
    a catalog without refs/history metadata tables still pins a snapshot,
    and the history path filters to current-ancestor rows. Every tier it
    skips over is logged as a WARNING naming the exception class."""
    sqls: list[str] = []

    def make_sql(serve: set):
        class _Result:
            def __init__(self, sid):
                self._sid = sid

            def collect(self):
                return [{"snapshot_id": self._sid}]

        def fake_sql(query, *a, **kw):
            sqls.append(query)
            if ".refs" in query:
                if "refs" in serve:
                    return _Result(11)
                raise RuntimeError("no refs metadata table")
            if ".history" in query:
                if "history" in serve:
                    return _Result(22)
                raise RuntimeError("no history metadata table")
            if ".snapshots" in query:
                return _Result(33)
            return None

        return fake_sql

    cat = Catalog(spark, str(tmp_path / "fb"))
    cat.use_iceberg = True

    def warnings():
        out = [
            r.getMessage() for r in caplog.records if r.levelno == logging.WARNING
        ]
        caplog.clear()
        return out

    caplog.set_level(logging.WARNING, logger=catalog_mod.__name__)
    monkeypatch.setattr(spark, "sql", make_sql({"refs", "history"}), raising=False)
    assert cat._iceberg_snapshot_id("t") == 11
    assert warnings() == []

    monkeypatch.setattr(spark, "sql", make_sql({"history"}), raising=False)
    assert cat._iceberg_snapshot_id("t") == 22
    assert any(".history" in q and "is_current_ancestor" in q for q in sqls)
    (w,) = warnings()
    assert ".refs" in w and "RuntimeError" in w

    monkeypatch.setattr(spark, "sql", make_sql(set()), raising=False)
    assert cat._iceberg_snapshot_id("t") == 33
    assert any(
        ".snapshots" in q and "ORDER BY committed_at DESC, snapshot_id DESC" in q
        for q in sqls
    )
    w_refs, w_hist = warnings()
    assert ".refs" in w_refs and "RuntimeError" in w_refs
    assert ".history" in w_hist and "RuntimeError" in w_hist

    # no tier answers: the head is None, and the last tier is logged too
    def no_sql(query, *a, **kw):
        raise ValueError("no metadata tables")

    monkeypatch.setattr(spark, "sql", no_sql, raising=False)
    assert cat._iceberg_snapshot_id("t") is None
    w = warnings()
    assert len(w) == 3 and ".snapshots" in w[2]
    assert all("ValueError" in m for m in w)

    # per-file lineage: an unreadable .files table yields [] and a warning
    assert cat._iceberg_file_counts("t") == []
    (w,) = warnings()
    assert ".files" in w and "ValueError" in w


def test_snapshot_head_resolution_order_and_short_circuit(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 Next #6: no Iceberg jar exists in this sandbox (and the
    network is closed), so the refs→history→snapshots chain cannot run
    against a real catalog — pin the resolution ORDER itself instead.
    refs must be attempted first; when it answers, the lower tiers must
    not be queried at all; when every tier but snapshots fails, the
    attempt sequence must be exactly refs, history, snapshots."""
    sqls: list[str] = []

    def make_sql(serve: set):
        class _Result:
            def __init__(self, sid):
                self._sid = sid

            def collect(self):
                return [{"snapshot_id": self._sid}]

        def fake_sql(query, *a, **kw):
            sqls.append(query)
            for tier, sid in ((".refs", 11), (".history", 22), (".snapshots", 33)):
                if tier in query:
                    if tier in serve:
                        return _Result(sid)
                    raise RuntimeError(f"no {tier} metadata table")
            return None

        return fake_sql

    cat = Catalog(spark, str(tmp_path / "order"))
    cat.use_iceberg = True

    # refs answers -> short-circuit: zero history/snapshots queries
    monkeypatch.setattr(
        spark, "sql", make_sql({".refs", ".history", ".snapshots"}), raising=False
    )
    assert cat._iceberg_snapshot_id("t") == 11
    assert any(".refs" in q for q in sqls)
    assert not any(".history" in q or ".snapshots" in q for q in sqls)

    # all tiers but snapshots fail -> attempts in exactly chain order
    sqls.clear()
    monkeypatch.setattr(spark, "sql", make_sql({".snapshots"}), raising=False)
    assert cat._iceberg_snapshot_id("t") == 33
    tiers = [
        t for q in sqls for t in (".refs", ".history", ".snapshots") if t in q
    ]
    assert tiers == [".refs", ".history", ".snapshots"], tiers
