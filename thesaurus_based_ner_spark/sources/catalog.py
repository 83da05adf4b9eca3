"""Checkpoint catalog: per-stage materialized tables + lineage + resume.

The reference memoizes every stage into content-hash-named buffer dirs and
skips recompute when the output exists (/root/reference/src/utils/
string_match.py:16-54, src/ner_model/typer/data_translator.py:463-483,
makefiles/variables/targets.mk:1-34). We reproduce that with a stage
catalog:

- in production: Iceberg tables (`df.writeTo(ns.table).createOrReplace()`),
  snapshot ids as lineage anchors;
- in this sandbox (no Iceberg jars): parquet directories + a `_SUCCESS`
  marker and a JSON lineage sidecar. The API is identical, so swapping the
  backend is a config change, not a code change.

Resume contract: `materialize(name, build_fn)` returns the existing table if
its fingerprint matches, otherwise (re)builds — a killed run restarts and
reuses every finished stage (north_rule resumability).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

log = logging.getLogger(__name__)


class Catalog:
    """Per-stage materialization + lineage over parquet or Iceberg.

    KNOWN LIMITATION (permanent for this sandbox; verified rounds 3-8):
    the `use_iceberg=True` branch (writeTo / DELETE+append / snapshot-id
    lineage / refs->history->snapshots head resolution) has never run
    against a real Iceberg catalog here because no iceberg-spark-runtime
    jar exists in the container and none can be fetched offline (round-8
    attempt: no maven/ivy cache, pip cache clean, index unreachable).
    Every Iceberg statement shape, the DataFrameWriterV2 call order, and
    the snapshot-resolution ORDER are pinned by mocked-catalog tests
    (tests/test_iceberg_paths.py); the parquet branch is the one
    exercised end-to-end. Deploying against a real catalog: add
    `--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>`
    and the usual spark_catalog conf — autodetect below then flips the
    branch on with no code change.
    """

    def __init__(self, spark: SparkSession, root: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        if use_iceberg is None:
            # autodetect: the session catalog impl is an Iceberg class when
            # the Iceberg runtime jars + conf are present
            use_iceberg = "iceberg" in spark.conf.get(
                "spark.sql.catalog.spark_catalog", ""
            ).lower()
        self.use_iceberg = use_iceberg
        # Iceberg namespace derived from the catalog root dir name
        self.namespace = os.path.basename(root.rstrip("/")) or "kg"
        if self.use_iceberg:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.namespace}")

    def _table(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    # -- paths -------------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._lineage.json")

    def exists(self, name: str, fingerprint: str | None = None) -> bool:
        meta = self._read_meta(name)
        if meta is None:
            return False
        if fingerprint is not None and meta.get("fingerprint") != fingerprint:
            return False
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._table(name))
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))

    def _read_meta(self, name: str) -> dict | None:
        p = self._meta_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # -- io ------------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(self._table(name))
        return self.spark.read.parquet(self.path(name))

    def write(
        self,
        name: str,
        df: DataFrame,
        fingerprint: str = "",
        partition_by: list[str] | None = None,
        stage: str = "",
    ) -> DataFrame:
        """Materialize df as a checkpoint table with lineage counters.

        Lineage records: stage, fingerprint, wall-clock, rows per output
        partition file (per-partition lineage per north_rule). Row counts
        come from the parquet footers — no extra job.
        """
        t0 = time.time()
        # A9 per-stage counter metrics: an Observation rides the write job
        # itself (no extra action) and lands in the lineage sidecar.
        obs = Observation(f"obs_{name}_{int(t0 * 1000)}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if self.use_iceberg:
            # Iceberg backend: namespaced table, snapshot = lineage anchor.
            wt = df.writeTo(self._table(name))
            if partition_by:
                wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
            wt.createOrReplace()
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self.path(name))
        elapsed = time.time() - t0
        meta = {
            "table": name,
            "stage": stage or name,
            "fingerprint": fingerprint,
            "wall_s": round(elapsed, 3),
            "written_at": time.time(),
            "partitions": (
                self._iceberg_file_counts(name)
                if self.use_iceberg
                else self._partition_counts(name)
            ),
        }
        meta["rows_out"] = sum(p["rows"] for p in meta["partitions"])
        if self.use_iceberg:
            # snapshot id = the lineage anchor: pin WHICH committed state
            # this stage produced, so downstream readers / incremental
            # refresh can time-travel or diff against it.
            meta["snapshot_id"] = self._iceberg_snapshot_id(name)
        meta["observed"] = {"rows": obs.get["rows"]}
        with open(self._meta_path(name), "w") as f:
            json.dump(meta, f, indent=1)
        return self.read(name)

    def _iceberg_snapshot_id(self, name: str):
        """Current HEAD snapshot id for the table's main branch.

        Snapshot ids are random longs, not monotonic, so ordering
        `.snapshots` by (committed_at, snapshot_id) is only deterministic,
        not correct, for two commits in the same millisecond (ADVICE r5).
        The authoritative head is the `main` ref (`.refs`), with the last
        `.history` row (is_current_ancestor, made_current_at) as the
        fallback; the committed_at ordering remains the last resort for
        catalogs that cannot serve refs/history metadata tables."""
        tbl = self._table(name)
        tiers = (
            ("refs", f"SELECT snapshot_id FROM {tbl}.refs WHERE name = 'main'"),
            (
                "history",
                f"SELECT snapshot_id FROM {tbl}.history "
                "WHERE is_current_ancestor "
                "ORDER BY made_current_at DESC LIMIT 1",
            ),
            (
                "snapshots",
                f"SELECT snapshot_id FROM {tbl}.snapshots "
                "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1",
            ),
        )
        for tier, sql in tiers:
            try:
                rows = self.spark.sql(sql).collect()
            except Exception as exc:
                log.warning(
                    "snapshot head of %s: .%s unreadable (%s)",
                    tbl, tier, type(exc).__name__,
                )
                continue
            if rows:
                return rows[0]["snapshot_id"]
        return None

    def _update_meta_snapshot(self, name: str, stage: str) -> None:
        """Refresh the lineage sidecar after an in-place Iceberg commit
        (replace_groups' DELETE+append does not go through write())."""
        meta = self._read_meta(name) or {"table": name}
        meta["stage"] = stage
        meta["written_at"] = time.time()
        meta["snapshot_id"] = self._iceberg_snapshot_id(name)
        with open(self._meta_path(name), "w") as f:
            json.dump(meta, f, indent=1)

    def _iceberg_file_counts(self, name: str) -> list[dict]:
        """Per-file lineage from the Iceberg `.files` metadata table."""
        try:
            rows = self.spark.sql(
                f"SELECT file_path AS file, record_count AS rows "
                f"FROM {self._table(name)}.files"
            ).collect()
            return [{"file": r["file"], "rows": r["rows"]} for r in rows]
        except Exception as exc:
            log.warning(
                "file lineage of %s: .files unreadable (%s)",
                self._table(name), type(exc).__name__,
            )
            return []

    def _partition_counts(self, name: str) -> list[dict]:
        import pyarrow.parquet as pq

        out = []
        base = self.path(name)
        for dirpath, _, files in os.walk(base):
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    fp = os.path.join(dirpath, fn)
                    out.append(
                        {
                            "file": os.path.relpath(fp, base),
                            "rows": pq.ParquetFile(fp).metadata.num_rows,
                        }
                    )
        return out

    def _recover_swap(self, name: str) -> None:
        """Heal a crash mid-_swap_write before touching the table again.

        The sibling names keep their historical `__upsert_*` suffix, so a
        torn swap left by an older build heals too. States a crash can
        leave behind:
        - live dir MISSING, name__upsert_old present → crashed between the
          two renames: restore old as the live table. Without this, the
          next replace_groups sees exists()==False and writes the incoming
          batch as the WHOLE table, silently dropping all prior rows.
        - live dir present, name__upsert_old present → crashed after the
          swap but before cleanup: old is superseded, remove it.
        - stale name__upsert_tmp → incomplete write, remove it.
        """
        old = self.path(f"{name}__upsert_old")
        tmp = self.path(f"{name}__upsert_tmp")
        live = self.path(name)
        if os.path.isdir(old):
            if not os.path.isdir(live):
                os.rename(old, live)
            else:
                shutil.rmtree(old)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        tmp_meta = self._meta_path(f"{name}__upsert_tmp")
        if os.path.exists(tmp_meta):
            os.remove(tmp_meta)

    def _swap_write(self, name: str, merged: DataFrame, stage: str) -> DataFrame:
        """Write merged to a sibling dir and swap it in via rename-aside:
        the live directory is never absent-without-replacement (Spark
        cannot overwrite a path it is scanning). A crash between the two
        renames leaves name missing but name__upsert_old complete —
        recoverable, unlike rmtree-then-rename where the old data is
        already gone."""
        tmp = f"{name}__upsert_tmp"
        self.write(tmp, merged, stage=stage)
        old = self.path(f"{name}__upsert_old")
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path(name), old)
        os.rename(self.path(tmp), self.path(name))
        shutil.rmtree(old)
        meta = self._read_meta(tmp) or {}
        meta["table"] = name
        meta["stage"] = stage
        with open(self._meta_path(name), "w") as f:
            json.dump(meta, f, indent=1)
        os.remove(self._meta_path(tmp))
        return self.read(name)

    def replace_groups(
        self,
        name: str,
        df: DataFrame,
        group_keys: list[str],
        stage: str = "",
    ) -> DataFrame:
        """Group-wise replacement — the re-crawl refresh primitive when a
        group owns a VARIABLE number of rows (all mentions/triples of a
        url): every existing row whose group key appears in the incoming
        frame is dropped, then ALL incoming rows are appended. Whole
        row-sets are replaced, so a page whose re-fetch yields fewer
        mentions sheds the stale ones; groups absent from df keep their
        rows, and new groups are appended. The Catalog's only in-place
        update.

        Iceberg backend: DELETE on matching groups + append (two
        snapshot-isolated commits). Parquet fallback: anti-join + union +
        rename-aside swap (_swap_write); a crash mid-swap leaves the old
        table recoverable (_recover_swap).
        """
        if not self.use_iceberg:
            self._recover_swap(name)
        if not self.exists(name):
            return self.write(name, df, stage=stage or f"replace:{name}")
        if self.use_iceberg:
            view = f"__replace_src_{name}"
            df.createOrReplaceTempView(view)
            keys_sql = ", ".join(group_keys)
            self.spark.sql(
                f"DELETE FROM {self._table(name)} WHERE ({keys_sql}) IN "
                f"(SELECT DISTINCT {keys_sql} FROM {view})"
            )
            df.writeTo(self._table(name)).append()
            self._update_meta_snapshot(name, stage or f"replace:{name}")
            return self.read(name)
        existing = self.read(name)
        keep = existing.join(
            df.select(*group_keys).distinct(), group_keys, "left_anti"
        )
        merged = keep.unionByName(df.select(*existing.columns))
        return self._swap_write(name, merged, stage or f"replace:{name}")

    def materialize(
        self,
        name: str,
        build_fn,
        fingerprint: str = "",
        partition_by: list[str] | None = None,
        stage: str = "",
    ) -> DataFrame:
        """Return cached table if fingerprint matches, else build + write."""
        if self.exists(name, fingerprint or None):
            return self.read(name)
        return self.write(
            name, build_fn(), fingerprint=fingerprint, partition_by=partition_by, stage=stage
        )

    def lineage(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.root)):
            if fn.endswith("._lineage.json"):
                with open(os.path.join(self.root, fn)) as f:
                    out.append(json.load(f))
        return out

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table(name)}")
        shutil.rmtree(self.path(name), ignore_errors=True)
        p = self._meta_path(name)
        if os.path.exists(p):
            os.remove(p)
