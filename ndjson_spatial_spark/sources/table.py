"""Iceberg-API-shaped table layer with a parquet fallback writer.

The engine's production input is "an Iceberg table of interleaved text +
media documents" (BASELINE.json input_hint).  No Iceberg runtime jar ships
with this sandbox's PySpark, so this module implements the Iceberg surface
the engine needs — namespaced table identifiers, append/overwrite commits,
snapshot history with per-snapshot row counts and schema, and
snapshot-id time travel — over Iceberg's own storage split: immutable
parquet data directories + a JSON metadata file listing, per snapshot,
the data directories it contains (a manifest list).  On a cluster with
real Iceberg jars the call sites map 1:1 onto `spark.table(...)` /
`df.writeTo(...).append()/.overwritePartitions()` and
`VERSION AS OF <snapshot>`.

Commit protocol (crash-safe like Iceberg's): data directories are written
FIRST; the metadata file is then replaced atomically (os.replace of a
temp file), so a crash mid-write leaves the previous snapshot current and
orphaned data files that a rerun simply rewrites.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

__all__ = ["TableCatalog"]

METADATA = "metadata.json"


class TableCatalog:
    """Catalog of named tables under one warehouse directory.

    Usage:
        cat = TableCatalog(spark, "/data/warehouse")
        cat.write("raw.documents", docs)                  # snapshot 1
        cat.write("raw.documents", more, mode="append")   # snapshot 2
        df = cat.read("raw.documents")                    # current
        old = cat.read("raw.documents", snapshot_id=1)    # time travel
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ---------------------------------------------------------- paths

    def _table_dir(self, name: str) -> str:
        if not all(p.replace("_", "").isalnum() for p in name.split(".")):
            raise ValueError(f"invalid table identifier: {name!r}")
        return os.path.join(self.warehouse, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), METADATA)

    def _meta(self, name: str) -> dict:
        p = self._meta_path(name)
        if not os.path.exists(p):
            raise ValueError(f"table not found: {name!r}")
        with open(p) as f:
            return json.load(f)

    # ------------------------------------------------------- catalog

    def table_names(self) -> list[str]:
        out = []
        for entry in sorted(os.listdir(self.warehouse)):
            if os.path.exists(os.path.join(self.warehouse, entry, METADATA)):
                out.append(entry)
        return out

    def exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot history, oldest first: id, operation, rows, schema,
        committed_at, data dirs."""
        return self._meta(name)["snapshots"]

    # ------------------------------------------------------- commits

    def write(self, name: str, df: DataFrame, mode: str = "overwrite",
              stats_cols: list[str] | None = None,
              _operation: str | None = None) -> int:
        """Commit `df` as a new snapshot; returns the snapshot id.

        mode='append' -> the new snapshot lists the previous snapshot's
        data directories plus the new one (Iceberg fast-append);
        mode='overwrite' -> only the new directory.

        `stats_cols` (round-4): record per-FILE min/max of the named
        columns in the snapshot manifest (read from the parquet footers,
        driver-side — the Iceberg manifest column-stats analogue).  A
        `scan(name, col, lo, hi)` then prunes whole data files from the
        manifest before Spark ever lists them — file-level skipping on a
        Z-order clustered layout (plans/layout.py), which row-group
        pushdown alone cannot do."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported mode {mode!r}")
        d = self._table_dir(name)
        os.makedirs(d, exist_ok=True)
        prev = []
        snap_id = 1
        if os.path.exists(self._meta_path(name)):
            meta = self._meta(name)
            snaps = meta["snapshots"]
            snap_id = snaps[-1]["id"] + 1
            if mode == "append":
                prev = snaps[-1]["data_dirs"]
        else:
            meta = {"table": name, "snapshots": []}
        data_dir = os.path.join(d, f"snap-{snap_id:06d}")
        df.write.mode("errorifexists").parquet(data_dir)
        written = self.spark.read.parquet(data_dir)
        snapshot = {
            "id": snap_id,
            "operation": _operation or mode,
            "data_dirs": prev + [data_dir],
            "rows_added": written.count(),
            "schema": written.schema.simpleString(),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        if stats_cols:
            snapshot["file_stats"] = self._footer_stats(data_dir, stats_cols)
        meta["snapshots"].append(snapshot)
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path(name))  # atomic commit
        return snap_id

    @staticmethod
    def _footer_stats(data_dir: str, cols: list[str]) -> dict:
        """Per-file min/max of `cols` from the parquet footers (no data
        read — statistics only)."""
        import pyarrow.parquet as pq

        out: dict = {}
        for fn in sorted(os.listdir(data_dir)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(data_dir, fn)).metadata
            names = {md.schema.column(i).name: i
                     for i in range(md.num_columns)}
            stats: dict = {}
            for c in cols:
                if c not in names:
                    continue
                lo = hi = None
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(names[c]).statistics
                    if s is None or not s.has_min_max:
                        lo = hi = None
                        break
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
                if lo is not None:
                    stats[c] = [lo, hi]
            out[fn] = stats
        return out

    # --------------------------------------------------- maintenance

    def compact(self, name: str, target_bytes: int = 128 << 20,
                stats_cols: list[str] | None = None) -> int:
        """Small-file compaction (Iceberg's ``rewrite_data_files``):
        rewrite the CURRENT snapshot's rows into ~``target_bytes`` files
        and commit the result as a new ``replace`` snapshot.  Row content
        is identical; prior snapshots stay time-travelable until
        ``expire_snapshots``.

        The 100 TB rationale: streaming/append ingestion leaves thousands
        of KB-size files per partition; every reader then pays per-file
        open cost and the scheduler drowns in splits.  Compaction is the
        standing maintenance job that keeps scan parallelism proportional
        to bytes, not to commit count.

        When ``stats_cols`` is given the rewrite uses
        ``repartitionByRange`` + ``sortWithinPartitions`` on those
        columns, so compaction PRESERVES (re-establishes) the clustered
        layout and the rewritten manifest stats stay file-prunable —
        compacting a Z-ordered table must not destroy its pruning.
        Returns the new snapshot id."""
        snap = self.snapshots(name)[-1]
        total = 0
        for d in snap["data_dirs"]:
            for fn in os.listdir(d):
                if fn.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(d, fn))
        n_files = max(1, -(-total // target_bytes))
        df = self.read(name)
        if stats_cols:
            from pyspark.sql import functions as F

            cols = [F.col(c) for c in stats_cols]
            df = df.repartitionByRange(n_files, *cols) \
                   .sortWithinPartitions(*cols)
        else:
            df = df.repartition(n_files)
        return self.write(name, df, mode="overwrite",
                          stats_cols=stats_cols, _operation="replace")

    def expire_snapshots(self, name: str, keep_last: int = 1) -> int:
        """Iceberg's ``expire_snapshots``: drop all but the last
        ``keep_last`` snapshots from the metadata and DELETE data
        directories no longer referenced by any kept snapshot.  Returns
        the number of data directories removed.  The metadata commit is
        atomic and happens BEFORE the deletes, so a crash mid-expire
        leaves only unreferenced orphan directories (exactly Iceberg's
        guarantee)."""
        import shutil

        meta = self._meta(name)
        snaps = meta["snapshots"]
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        # dirs backing a kept snapshot's carried merge files stay live
        live = {d for s in kept for d in s["data_dirs"]} | {
            os.path.dirname(p) for s in kept
            for p in s.get("data_files", [])}
        dead = [d for s in dropped
                for d in s["data_dirs"] if d not in live]
        meta["snapshots"] = kept
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path(name))
        removed = 0
        for d in dict.fromkeys(dead):  # unique, stable order
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed += 1
        return removed

    def merge_into(self, name: str, updates: DataFrame, key: str,
                   when_matched: str = "update",
                   stats_cols: list[str] | None = None) -> int:
        """MERGE INTO (Iceberg copy-on-write): apply `updates` to the
        current snapshot keyed on `key`.

        Semantics: matched target rows are REPLACED by their update row
        (`when_matched='update'`, the upsert; unmatched update rows are
        inserted) or REMOVED (`when_matched='delete'`; unmatched update
        rows are ignored).  `updates` must share the table schema for
        'update'.

        The 100 TB shape — and the reason manifests exist: only data
        files whose recorded [min, max] of `key` overlaps the update-key
        range are read and rewritten; every other file CARRIES OVER into
        the new snapshot untouched (file-level copy-on-write, like
        Iceberg's merge-on-read's write side).  A merge of 1k updated
        docs against a 10^12-doc table rewrites a handful of files, not
        the table.  Files without recorded stats are conservatively
        treated as affected.  Prune counts land in ``self.last_merge`` =
        {files_total, rewritten, carried}.  Returns the new snapshot id.
        """
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError(f"unsupported when_matched {when_matched!r}")
        meta = self._meta(name)
        snaps = meta["snapshots"]
        snap = snaps[-1]
        fstats = snap.get("file_stats", {})
        b = updates.agg(F.min(key).alias("lo"),
                        F.max(key).alias("hi")).collect()[0]
        lo, hi = b["lo"], b["hi"]

        files = []
        for dd in snap["data_dirs"]:
            for fn in sorted(os.listdir(dd)):
                if fn.endswith(".parquet"):
                    files.append(os.path.join(dd, fn))
        files += snap.get("data_files", [])

        def _key_stats(p):
            st = fstats.get(p) or fstats.get(os.path.basename(p)) or {}
            return st.get(key)

        if lo is None:                       # empty update set
            affected, carried = [], list(files)
        else:
            affected, carried = [], []
            for p in files:
                st = _key_stats(p)
                if st is None or (st[0] <= hi and st[1] >= lo):
                    affected.append(p)
                else:
                    carried.append(p)

        if affected:
            tgt = self.spark.read.parquet(*affected)
        else:
            tgt = self.read(name).where(F.lit(False))
        survivors = tgt.join(
            F.broadcast(updates.select(key).distinct()), key, "left_anti")
        merged = (survivors.unionByName(updates)
                  if when_matched == "update" else survivors)

        d = self._table_dir(name)
        snap_id = snap["id"] + 1
        data_dir = os.path.join(d, f"snap-{snap_id:06d}")
        merged.write.mode("errorifexists").parquet(data_dir)
        written = self.spark.read.parquet(data_dir)

        import pyarrow.parquet as pq

        carried_rows = sum(pq.ParquetFile(p).metadata.num_rows
                           for p in carried)
        rewritten_rows = written.count()
        cols = stats_cols or [key]
        new_stats = self._footer_stats(data_dir, cols)
        for p in carried:                    # re-key carried stats by path
            st = fstats.get(p) or fstats.get(os.path.basename(p))
            if st:
                new_stats[p] = st
        snapshot = {
            "id": snap_id,
            "operation": "merge",
            "data_dirs": [data_dir],
            "data_files": carried,
            "rows_added": rewritten_rows,
            "rows_total": rewritten_rows + carried_rows,
            "schema": written.schema.simpleString(),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "file_stats": new_stats,
        }
        meta["snapshots"].append(snapshot)
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path(name))
        self.last_merge = {"files_total": len(files),
                           "rewritten": len(affected),
                           "carried": len(carried)}
        return snap_id

    # --------------------------------------------------------- reads

    def scan(self, name: str, col: str, lo, hi,
             snapshot_id: int | None = None) -> DataFrame:
        """Range scan `lo <= col <= hi` with MANIFEST file pruning: data
        files whose recorded [min, max] (see `write(stats_cols=...)`) miss
        the range are never given to Spark.  Falls back to a full file
        list when a file has no recorded stats for `col` (safe superset).
        Prune counts land in `self.last_scan` =
        {files_total, files_scanned, pruned}."""
        snaps = self.snapshots(name)
        snap = snaps[-1] if snapshot_id is None else next(
            s for s in snaps if s["id"] == snapshot_id)
        fstats = snap.get("file_stats", {})
        paths, total = [], 0
        for d in snap["data_dirs"]:
            for fn in sorted(os.listdir(d)):
                if not fn.endswith(".parquet"):
                    continue
                total += 1
                st = fstats.get(fn, {}).get(col)
                if st is None or (st[0] <= hi and st[1] >= lo):
                    paths.append(os.path.join(d, fn))
        for p in snap.get("data_files", []):
            total += 1
            st = fstats.get(p, {}).get(col)
            if st is None or (st[0] <= hi and st[1] >= lo):
                paths.append(p)
        self.last_scan = {"files_total": total,
                          "files_scanned": len(paths),
                          "pruned": total - len(paths)}
        from pyspark.sql import functions as F

        if not paths:
            return self.read(name, snapshot_id).where(F.lit(False))
        df = self.spark.read.parquet(*paths)
        return df.where(F.col(col).between(F.lit(lo), F.lit(hi)))

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """Current table state, or `VERSION AS OF snapshot_id`."""
        snaps = self.snapshots(name)
        if snapshot_id is None:
            snap = snaps[-1]
        else:
            match = [s for s in snaps if s["id"] == snapshot_id]
            if not match:
                raise ValueError(
                    f"snapshot {snapshot_id} not found for {name!r} "
                    f"(have {[s['id'] for s in snaps]})"
                )
            snap = match[0]
        paths = snap["data_dirs"] + snap.get("data_files", [])
        return self.spark.read.parquet(*paths)

    def row_count(self, name: str) -> int:
        """Metadata-only current row count (sum of snapshot line items for
        the directories the current snapshot references) — a lineage
        check that needs no data scan."""
        snaps = self.snapshots(name)
        if "rows_total" in snaps[-1]:
            return snaps[-1]["rows_total"]
        cur_dirs = set(snaps[-1]["data_dirs"])
        total = 0
        for s in snaps:
            new_dir = s["data_dirs"][-1]
            if new_dir in cur_dirs:
                total += s["rows_added"]
        return total
