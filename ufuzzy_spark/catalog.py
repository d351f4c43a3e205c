"""Iceberg-shaped local table catalog.

No Iceberg runtime jar exists in this container (SURVEY.md §7), so
tables are written in an Iceberg-*layout* directory scheme the rest
of the pipeline treats as the table abstraction:

    <root>/<table>/
        snapshot-00000001/part-*.parquet
        snapshot-00000002/part-*.parquet
        _LATEST              (text file: current snapshot id)

Swap ``LocalParquetCatalog`` for a real Iceberg catalog by replacing
this module's backend only — call sites use read/write/append/
snapshots. Snapshot history is what enables incremental dedup
(streaming/incremental.py) and resume (pipeline lineage).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class LocalParquetCatalog:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _reg_name(self, table: str, snap: int) -> str:
        """Session-catalog identifier for a bucketed snapshot. Unique
        per (catalog root, table, snapshot) so two catalogs in one
        SparkSession never collide."""
        digest = hashlib.md5(str(self.root.resolve()).encode()).hexdigest()[:8]
        return f"ufz_state_{digest}_{table}_{snap}"

    # -- snapshot bookkeeping -------------------------------------- #

    def _tdir(self, table: str) -> Path:
        return self.root / table

    def snapshots(self, table: str) -> list[int]:
        t = self._tdir(table)
        if not t.exists():
            return []
        return sorted(
            int(p.name.split("-")[1])
            for p in t.iterdir()
            if p.is_dir() and p.name.startswith("snapshot-")
        )

    def latest_snapshot(self, table: str) -> int | None:
        """Highest committed snapshot. The directory RENAME in
        ``write`` is the commit point; ``_LATEST`` is a cache that may
        lag by one if a writer died between rename and marker update,
        so take the max of both (a lagging marker must never make the
        next write reuse a committed snapshot id)."""
        vals = []
        marker = self._tdir(table) / "_LATEST"
        if marker.exists():
            # tolerate a TORN marker (writer died mid-write_text before
            # the tmp+replace protocol landed): the dir scan is the
            # source of truth, the marker only a cache
            txt = marker.read_text().strip()
            if txt.isdigit():
                vals.append(int(txt))
        snaps = self.snapshots(table)
        if snaps:
            vals.append(snaps[-1])
        return max(vals) if vals else None

    def _snap_path(self, table: str, snap: int) -> Path:
        return self._tdir(table) / f"snapshot-{snap:08d}"

    # -- I/O -------------------------------------------------------- #

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by=None,
        mode: str = "full",
        bucket_by: tuple[list[str], int] | None = None,
    ) -> int:
        """New snapshot. ``mode='full'`` holds the whole table state;
        ``mode='delta'`` holds only rows added since the previous
        snapshot (see ``append``/``read_all``). Returns snapshot id.

        ``bucket_by=(cols, n)`` writes the snapshot hash-bucketed on
        ``cols`` into ``n`` files per writer (Spark ``bucketBy`` — the
        layout contract docs/PLANS.md claims for state tables at
        cluster scale): a later equi-join on ``cols`` reads the state
        side WITHOUT an Exchange (only the probe side shuffles, so the
        memo joins never shuffle O(state) bytes), and literal ``=``/
        ``IN`` predicates prune to matching buckets
        (SelectedBucketsCount in .explain). Bucketing metadata lives
        in the session catalog, so bucketed snapshots are (re-)
        registered on read — ``_META.json`` carries the spec across
        sessions. Only FULL snapshots are worth bucketing (delta
        chains union away the property until compaction).

        Writes are CRASH-ATOMIC: files land in a ``_tmp-snapshot-*``
        staging dir (invisible to every read path — ``snapshots``
        matches only ``snapshot-`` names) and a single directory
        rename commits the snapshot once data AND ``_META.json`` are
        complete. A writer dying mid-write leaves only staging
        garbage, never a half-readable snapshot — the same
        stage-then-atomically-commit protocol Iceberg/Delta use
        (metadata-file swap), here expressed as a POSIX rename. On
        object stores the rename becomes the catalog backend's commit
        primitive. Single writer per catalog assumed (as everywhere
        in this module); stale staging dirs from a crashed writer are
        reclaimed on the next write."""
        snap = (self.latest_snapshot(table) or 0) + 1
        path = self._snap_path(table, snap)
        staging = self._tdir(table) / f"_tmp-snapshot-{snap:08d}"
        if staging.exists():
            shutil.rmtree(staging)  # crashed predecessor's leftovers
        if bucket_by and partition_by:
            raise ValueError("bucket_by and partition_by are exclusive")
        if bucket_by:
            cols, n_buckets = bucket_by
            name = self._reg_name(table, snap)
            spark = df.sparkSession
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.format("parquet")
                .bucketBy(n_buckets, *cols)
                .sortBy(*cols)
                .option("path", str(staging))
                .mode("overwrite")
                .saveAsTable(name)
            )
            # registration points at the staging path; drop it and let
            # _read_snap re-register from _META.json at the final path
            # (external table: DROP removes metadata only, not files)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(str(staging))
        meta = {
            "snapshot": snap,
            "ts": time.time(),
            "schema": df.schema.json(),
            "partition_by": partition_by or [],
            "mode": mode,
            "bucket_by": list(bucket_by[0]) if bucket_by else None,
            "n_buckets": bucket_by[1] if bucket_by else None,
        }
        (staging / "_META.json").write_text(json.dumps(meta))
        os.rename(staging, path)  # the commit point
        marker = self._tdir(table) / "_LATEST"
        tmp = marker.with_suffix(".tmp")
        tmp.write_text(str(snap))
        os.replace(tmp, marker)  # never leave a torn marker
        return snap

    def append(self, df: DataFrame, table: str, partition_by=None) -> int:
        """Delta snapshot: only the NEW rows. The append-only-table
        write path (incremental dedup state grows, never mutates) —
        O(delta) I/O instead of rewriting cumulative state. Read the
        logical table back with ``read_all``; compact by periodically
        ``write``-ing the union as a fresh full snapshot."""
        return self.write(df, table, partition_by, mode="delta")

    def _snap_meta(self, table: str, snap: int) -> dict:
        meta = self._snap_path(table, snap) / "_META.json"
        if meta.exists():
            return json.loads(meta.read_text())
        return {}  # pre-delta snapshots hold full state, unbucketed

    def _snap_mode(self, table: str, snap: int) -> str:
        return self._snap_meta(table, snap).get("mode", "full")

    def _read_snap(
        self, spark: SparkSession, table: str, snap: int
    ) -> DataFrame:
        """One snapshot, through the session catalog when bucketed (a
        plain ``spark.read.parquet`` of the same files would be correct
        but would forget the bucket layout — the join/prune properties
        live in the table metadata, not the files)."""
        meta = self._snap_meta(table, snap)
        path = self._snap_path(table, snap)
        cols = meta.get("bucket_by")
        if not cols:
            return spark.read.parquet(str(path))
        name = self._reg_name(table, snap)
        if not spark.catalog.tableExists(name):
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(meta["schema"]))
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(cols)}) "
                f"INTO {meta['n_buckets']} BUCKETS "
                f"LOCATION '{path}'"
            )
        return spark.table(name)

    def read_all(self, spark: SparkSession, table: str) -> DataFrame:
        """The logical table: the most recent FULL snapshot unioned
        with every later delta snapshot. Catalogs written before the
        delta layout read identically (their snapshots are full)."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no snapshots")
        start = 0
        for i in range(len(snaps) - 1, -1, -1):
            if self._snap_mode(table, snaps[i]) == "full":
                start = i
                break
        chain = snaps[start:]
        base = self._read_snap(spark, table, chain[0])
        if len(chain) == 1:
            return base  # bucketed full snapshot keeps its layout
        # deltas union away the bucket property until the next
        # compaction folds them into a fresh (bucketed) full snapshot
        deltas = spark.read.parquet(
            *(str(self._snap_path(table, s)) for s in chain[1:])
        )
        return base.unionByName(deltas)

    def read(
        self, spark: SparkSession, table: str, snapshot: int | None = None
    ) -> DataFrame:
        snap = snapshot if snapshot is not None else self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no snapshots")
        return self._read_snap(spark, table, snap)

    def diff_new(
        self,
        spark: SparkSession,
        table: str,
        since: int,
        key: str = "url",
    ) -> DataFrame:
        """Rows in latest snapshot whose key is absent at ``since`` —
        the incremental-ingest seam (Iceberg snapshot diff)."""
        latest = self.read(spark, table)
        old = self.read(spark, table, since)
        return latest.join(old.select(key), key, "left_anti")

    def deltas_since_full(self, table: str) -> int:
        """Length of the delta chain read_all must union (snapshots
        after the most recent FULL snapshot)."""
        snaps = self.snapshots(table)
        n = 0
        for s in reversed(snaps):
            if self._snap_mode(table, s) == "full":
                break
            n += 1
        return n

    def maybe_compact(
        self,
        spark: SparkSession,
        table: str,
        max_deltas: int = 16,
        transform=None,
        bucket_by: tuple[list[str], int] | None = None,
    ) -> bool:
        """Compact the delta chain into a fresh FULL snapshot once it
        exceeds ``max_deltas`` (unbounded chains grow snapshot-listing
        and scan cost forever — VERDICT r3 missing #4). ``transform``
        optionally folds the union before writing (e.g. aggregating
        refcount deltas to their running sums); it must preserve the
        table's LOGICAL content. Returns True if compaction ran.

        Reads enumerate the old snapshot dirs lazily while the write
        targets a new dir, so the rewrite is safe in-place; read_all
        afterwards starts from the new full snapshot.
        """
        if self.deltas_since_full(table) < max_deltas:
            return False
        df = self.read_all(spark, table)
        if transform is not None:
            df = transform(df)
        self.write(df, table, bucket_by=bucket_by)
        return True

    def exists(self, table: str) -> bool:
        return self.latest_snapshot(table) is not None

    # -- ingest journal --------------------------------------------- #
    #
    # Single snapshots are crash-atomic (the rename in `write`), but
    # one INGEST commits several tables (sigs/normed/verdicts/
    # pair_cnt/clusters) and those renames cannot be made jointly
    # atomic on a filesystem. The journal makes the multi-table unit
    # detectable instead: `journal_begin` before the first table
    # mutation, `journal_commit` after the last. An id that is begun
    # but never committed marks TORN state (some tables hold the
    # ingest, others do not) — readers must refuse rather than build
    # on it. A COMMITTED id makes re-application detectable, which is
    # what gives Structured Streaming's replay-last-epoch recovery
    # exactly-once semantics (streaming/stream.py): the replayed
    # foreachBatch sees its epoch already committed and no-ops.
    # Marker files are tiny driver-side JSON, like _META.json — on an
    # object store they are single-object PUTs (atomic there too).

    def _journal_path(self, ingest_id: str) -> Path:
        # hash the id for the filename (ids are caller-chosen strings,
        # not necessarily path-safe); the real id lives in the JSON
        digest = hashlib.md5(ingest_id.encode()).hexdigest()
        return self.root / "_ingests" / f"{digest}.json"

    def _journal_done_path(self, ingest_id: str) -> Path:
        # committed records live in a subdir so the torn-state scan
        # (run at the top of EVERY ingest) touches only in-flight
        # files — O(in-flight), not O(stream lifetime)
        digest = hashlib.md5(ingest_id.encode()).hexdigest()
        return self.root / "_ingests" / "committed" / f"{digest}.json"

    def journal_begin(self, ingest_id: str, payload: dict | None = None):
        p = self._journal_path(ingest_id)
        p.parent.mkdir(exist_ok=True)
        rec = {
            "ingest_id": ingest_id,
            "status": "begun",
            "ts": time.time(),
            **(payload or {}),
        }
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps(rec))
        os.replace(tmp, p)

    def journal_commit(self, ingest_id: str):
        done = self._journal_done_path(ingest_id)
        if done.exists():
            return  # idempotent re-commit
        p = self._journal_path(ingest_id)
        rec = json.loads(p.read_text())
        rec["status"] = "committed"
        rec["committed_ts"] = time.time()
        done.parent.mkdir(exist_ok=True)
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps(rec))
        os.replace(tmp, done)  # the commit point: done-file existence
        p.unlink(missing_ok=True)  # crash here is healed by torn_ingests

    def journal_status(self, ingest_id: str) -> str | None:
        """None (never begun) | 'begun' | 'committed'."""
        if self._journal_done_path(ingest_id).exists():
            return "committed"
        p = self._journal_path(ingest_id)
        if not p.exists():
            return None
        return json.loads(p.read_text())["status"]

    def torn_ingests(self) -> list[str]:
        """Ingest ids begun but never committed — each marks state
        where some tables hold the ingest's rows and others may not.

        Scans only the in-flight dir (committed records move to
        ``committed/`` at commit time), so the per-ingest cost is
        O(in-flight ids), not O(every ingest the stream ever ran).
        Heals two leftovers in passing: a begun file whose committed
        twin exists (writer died between the commit replace and the
        unlink) and legacy pre-subdir committed records."""
        d = self.root / "_ingests"
        if not d.exists():
            return []
        out = []
        for p in sorted(d.glob("*.json")):
            done = d / "committed" / p.name
            if done.exists():
                # commit landed; in-flight cleanup died. missing_ok:
                # a concurrent scan (or journal_commit's own unlink)
                # may heal the same leftover first (ADVICE r5)
                p.unlink(missing_ok=True)
                continue
            try:
                rec = json.loads(p.read_text())
                if rec["status"] == "committed":
                    # legacy flat layout — migrate so future scans skip it
                    done.parent.mkdir(exist_ok=True)
                    os.replace(p, done)
                    continue
            except FileNotFoundError:
                # a concurrent commit or healer moved p after the glob:
                # it is no longer in flight
                continue
            out.append(rec["ingest_id"])
        return out
