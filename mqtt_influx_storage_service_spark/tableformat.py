"""Snapshot table: the table-format seam for MERGE-shaped sinks.

The reference mutates two dimensions in place — the device registry
dict (influx_service.py:330-342, under ``devices_lock``) and the
per-device transducer list (:215-274, under a per-key lock so creation
is exactly-once). On a cluster those semantics belong to a table
format (Delta/Iceberg ``MERGE INTO``). Neither is installable in this
environment, so this module implements the same contract on plain
parquet with a tiny manifest log:

    table_dir/
      _manifest/v00000042.json   <- atomic pointer: data dir + applied
                                    batch ids (os.rename is atomic on
                                    POSIX; the highest v* wins)
      data-<token>/*.parquet     <- immutable snapshot

Properties the tests pin (tests/test_tableformat.py):

- **Atomic swap**: readers always see a complete snapshot — a manifest
  is only visible after its data dir is fully written (write data,
  then rename manifest into place), mirroring the reference's lock
  around the dict swap.
- **Idempotent replay**: ``merge(..., batch_id=b)`` applied twice is a
  no-op the second time — the manifest records applied batch ids, so
  a foreachBatch retry after a crash (Structured Streaming replays the
  last uncommitted batch) converges instead of double-applying. This
  is the checkpoint-side half of exactly-once.
- **Single writer**: Structured Streaming serializes foreachBatch
  calls per query, which is the only writer this module supports. A
  multi-writer deployment graduates to Delta/Iceberg optimistic
  commits; every call site goes through this seam, so that swap is
  one class.

At 100 TB the snapshot dimensions here stay small (device registry,
transducer catalog); the POINT data never goes through rewrite-on-merge
— it stays on the append-only streaming file sink. ``compact`` is the
log-safe rewrite: a new coalesced data dir + manifest bump, never an
in-place file mutation under a live reader.

Re-adding a Delta or Iceberg adapter: see MIGRATION.md.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifest"


class SnapshotTable:
    """A keyed dimension table with snapshot isolation + idempotent
    MERGE on plain parquet. ``key_cols`` define the MERGE identity."""

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 schema: str | None = None) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.schema = schema
        os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:08d}.json")

    def _current(self) -> dict:
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        versions = sorted(
            int(f[1:9]) for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        if not versions:
            return {"version": 0, "data_dir": None, "batch_ids": []}
        with open(self._manifest_path(versions[-1])) as fh:
            return json.load(fh)

    def _commit(self, manifest: dict) -> None:
        """Write-then-rename: the manifest becomes visible atomically,
        and only after its data dir is complete."""
        tmp = self._manifest_path(manifest["version"]) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, self._manifest_path(manifest["version"]))

    # -- read --------------------------------------------------------------

    def version(self) -> int:
        return self._current()["version"]

    def applied_batch_ids(self) -> set[int]:
        return set(self._current()["batch_ids"])

    def read(self, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or — time travel — a specific
        retained version (raises if that manifest was vacuumed)."""
        if version is None:
            cur = self._current()
        else:
            mpath = self._manifest_path(version)
            if not os.path.exists(mpath):
                raise FileNotFoundError(
                    f"version {version} of {self.path} not retained "
                    "(vacuumed or never written)"
                )
            with open(mpath) as fh:
                cur = json.load(fh)
        if cur["data_dir"] is None:
            if self.schema is None:
                raise ValueError(
                    f"empty SnapshotTable at {self.path} needs an explicit schema"
                )
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.parquet(os.path.join(self.path, cur["data_dir"]))

    # -- write -------------------------------------------------------------

    def _publish(self, df: DataFrame, batch_id: int | None,
                 prev: dict, target_files: int | None = None) -> None:
        data_dir = f"data-{uuid.uuid4().hex}"
        out = df if target_files is None else df.coalesce(target_files)
        out.write.mode("overwrite").parquet(os.path.join(self.path, data_dir))
        batch_ids = list(prev["batch_ids"])
        if batch_id is not None:
            batch_ids.append(batch_id)
        self._commit({
            "version": prev["version"] + 1,
            "data_dir": data_dir,
            "batch_ids": batch_ids,
        })

    def overwrite(self, df: DataFrame) -> None:
        """Replace the snapshot wholesale (bootstrap load, A9)."""
        self._publish(df, None, self._current())

    def merge(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        combine=None,
        insert_only: bool = False,
    ) -> bool:
        """MERGE ``batch`` into the snapshot; returns False if
        ``batch_id`` was already applied (idempotent replay no-op).

        Default combine is upsert: batch rows replace current rows
        with the same key. ``insert_only=True`` keeps the CURRENT row
        on key collision — first-writer-wins, the reference's
        create-if-absent transducer semantics (:215-274) where a
        concurrent duplicate create must not clobber the original.
        ``combine`` overrides entirely with
        ``f(current_df, batch_df) -> DataFrame`` (e.g. apply_cdc's
        last-writer-wins delete handling).
        """
        prev = self._current()
        if batch_id is not None and batch_id in prev["batch_ids"]:
            return False
        current = self.read()
        if combine is not None:
            merged = combine(current, batch)
        elif insert_only:
            merged = current.unionByName(
                batch.join(current.select(self.key_cols), self.key_cols,
                           "left_anti")
            )
        else:
            merged = batch.unionByName(
                current.join(batch.select(self.key_cols), self.key_cols,
                             "left_anti")
            )
        self._publish(merged, batch_id, prev)
        return True

    def delete(self, condition) -> None:
        """Delete every row matching ``condition`` (a Column
        predicate) as ONE new snapshot version — atomic, snapshot-
        isolated (readers of the old version are untouched), and
        time-travelable like every other write. The InfluxQL
        DELETE/DROP MEASUREMENT surface lands here.

        SQL DELETE semantics: rows where the predicate is NULL are
        KEPT (only condition IS TRUE deletes), matching Delta's
        delete(condition)."""
        prev = self._current()
        keep = ~F.coalesce(condition, F.lit(False))
        self._publish(self.read().filter(keep), None, prev)

    def compact(self, target_files: int = 8) -> None:
        """Log-safe small-file rewrite: same rows, fewer files, new
        snapshot version — concurrent readers keep their old manifest
        until they re-resolve; nothing is mutated under them."""
        prev = self._current()
        self._publish(self.read(), None, prev, target_files=target_files)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data dirs (and manifests) older than the last
        ``keep_last`` versions; returns removed dirs. Safe only once
        readers of those versions are gone — same contract as Delta
        VACUUM."""
        import shutil

        mdir = os.path.join(self.path, _MANIFEST_DIR)
        versions = sorted(
            int(f[1:9]) for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        removed: list[str] = []
        keep = set(versions[-keep_last:]) if keep_last else set()
        live_dirs = set()
        for v in versions:
            with open(self._manifest_path(v)) as fh:
                m = json.load(fh)
            if v in keep and m["data_dir"]:
                live_dirs.add(m["data_dir"])
        for v in versions:
            if v in keep:
                continue
            with open(self._manifest_path(v)) as fh:
                m = json.load(fh)
            if m["data_dir"] and m["data_dir"] not in live_dirs:
                shutil.rmtree(os.path.join(self.path, m["data_dir"]),
                              ignore_errors=True)
                removed.append(m["data_dir"])
            os.remove(self._manifest_path(v))
        return removed


# --------------------------------------------------------------------------
# Point-data compaction (the streaming sink's small-files problem)
# --------------------------------------------------------------------------

def compact_point_partitions(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    partition_col: str = "ingest_date",
    target_bytes: int = 128 << 20,
    only: "list[str] | None" = None,
) -> dict:
    """Bronze→silver small-file compaction for the streaming POINT
    sink's output: every micro-batch appends one file per partition, so
    a long-running ingest (reference dataflow A8) accumulates thousands
    of KB-sized files per day — the classic parquet-lake pathology that
    makes a 100 TB scan metadata-bound.

    Contract (the part a naive rewrite gets wrong):

    - **Never in-place.** ``src_dir`` is governed by the sink's
      ``_spark_metadata`` transaction log; batch readers of that path
      list files THROUGH the log, so rewriting files under it corrupts
      exactly-once reads. Compaction writes to a SEPARATE serving root
      (``dst_dir``), the standard bronze→silver layout.
    - **Per-partition atomic swap.** Each partition is rewritten to a
      dot-prefixed temp dir and published with ``os.replace``-style
      renames (same discipline as ``streaming.journal``): a reader of
      ``dst_dir`` sees the old file set or the new one, never a mix.
    - **Idempotent & incremental.** A ``_COMPACTED`` marker in each
      output partition records the md5 fingerprint of the SOURCE file
      set (names + sizes); a re-run skips partitions whose fingerprint
      is unchanged and rewrites only partitions that received new
      micro-batch files. Safe to run from cron against a live sink:
      closed partitions (yesterday and older) converge in one run.

    Output file count per partition is ceil(bytes / target_bytes) —
    at 100 TB this is the knob that turns a 10⁶-file day into ~800
    scan-sized files. Returns per-partition stats.
    """
    import hashlib
    import math
    import shutil

    stats: dict[str, dict] = {}
    os.makedirs(dst_dir, exist_ok=True)
    for entry in sorted(os.listdir(src_dir)):
        if not entry.startswith(f"{partition_col}="):
            continue
        # ``only``: restrict to the named partition VALUES (a closed-
        # partition promotion job names yesterday; None = full sweep)
        if only is not None and entry.split("=", 1)[1] not in only:
            continue
        src_part = os.path.join(src_dir, entry)
        files = sorted(
            f for f in os.listdir(src_part)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not files:
            continue
        sizes = [os.path.getsize(os.path.join(src_part, f)) for f in files]
        fp = hashlib.md5(
            json.dumps(list(zip(files, sizes))).encode()
        ).hexdigest()
        dst_part = os.path.join(dst_dir, entry)
        marker = os.path.join(dst_part, "_COMPACTED")
        if os.path.exists(marker):
            with open(marker) as fh:
                if fh.read().strip() == fp:
                    stats[entry] = {"skipped": True, "files_in": len(files)}
                    continue
        n_out = max(1, math.ceil(sum(sizes) / target_bytes))
        df = spark.read.parquet(*[os.path.join(src_part, f) for f in files])
        tmp = os.path.join(dst_dir, f".{entry}.compacting-{uuid.uuid4().hex}")
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_COMPACTED"), "w") as fh:
            fh.write(fp + "\n")
        old = None
        if os.path.exists(dst_part):
            # Dot-prefixed so Spark's hidden-path filter skips it while
            # it exists: a non-hidden "<partition>.old-*" sibling would
            # be discovered as a distinct partition VALUE during the
            # swap window and double-read (ADVICE r5).
            old = os.path.join(
                dst_dir, f".{entry}.old-{uuid.uuid4().hex}"
            )
            os.rename(dst_part, old)
        os.rename(tmp, dst_part)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        stats[entry] = {
            "skipped": False,
            "files_in": len(files),
            "files_out": n_out,
            "bytes": sum(sizes),
        }
    return stats
