"""Idempotent keyed parquet sink — last-write-wins upsert.

Re-expresses the reference's two physical upsert sinks as one keyed merge:

- MongoDB ``bulk_write(UpdateOne({sensor_id, window_start}, $set, upsert=True))``
  inside foreachBatch (spark_streaming/streaming_job.py:461-533, wired at
  :733-739), and
- PostgreSQL ``INSERT ... ON CONFLICT (sensor_id, window_start) DO UPDATE``
  (spark_streaming/mongo_to_postgres_sync.py:378-399).

Both are "latest row per key survives".  Here the merge is pure DataFrame
algebra: union(current, batch) -> row_number over key ordered by epoch desc
-> keep first.  Replaying a batch (same epoch, same rows — Structured
Streaming's failure contract) reproduces the identical table, which is what
makes checkpoint + foreachBatch exactly-once end-to-end.

Scale posture: with ``partition_col`` set (one of the key columns, e.g. the
window date), the merge is PARTITION-PRUNED like a Delta/Iceberg MERGE:
only partitions containing changed keys are re-merged and rewritten; every
untouched partition's files carry into the new version byte-identical
without being read, decoded, or shuffled.  A day of late data into a
year-sized table costs one day's rewrite, not 365.  Without partition_col
the rewrite is whole-table — still fine for the bounded aggregate stream it
serves (<=100 sensors x a handful of open 5-minute windows, README.md:10).
The merge itself is one hash shuffle on the key columns; the only
driver-side data is the batch's distinct partition-value list (bounded by
#touched partitions — the same class of scalar as the incremental-refresh
watermark).

Per micro-batch cost: the foreach_batch adapter runs the epoch's plan once
(sinks/micro_batch.py) and its empty-batch fast path skips an empty epoch
on the materialized frame, so the merge never re-executes the stream's
stateful operators.  Every version, partitioned or not, ships its
write-time schema in _sinkschema.json, so reading the live table back for
the next merge (or for read()) launches no schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .micro_batch import micro_batch

_EPOCH_COL = "_epoch"
_SCHEMA_FILE = "_sinkschema.json"


class KeyedParquetSink:
    """Parquet-backed keyed table with last-write-wins upsert.

    Directory layout: a ``CURRENT`` pointer file names the live version dir;
    each upsert writes the merged table to a fresh version dir and atomically
    replaces the pointer, so readers never observe a half-written table and a
    crashed upsert leaves the previous table intact.  The previous version is
    retained one upsert longer (GC lag 1), so a reader that resolved the old
    pointer immediately before a commit can still finish its lazy scan;
    out-of-band readers must consume within one upsert interval (single
    writer assumed — the streaming foreachBatch contract).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        partition_col: str | None = None,
        merge_schema: bool = False,
    ):
        """partition_col enables partition-pruned merges.  It must be one of
        key_cols (a key must never move between partitions, or last-write-
        wins could keep both versions) and should hold date/int/string
        values so Spark's partition-directory round-trip is lossless.

        merge_schema enables ADDITIVE schema evolution (Delta's
        mergeSchema): a batch may introduce columns the table lacks (old
        rows read back NULL) or omit columns the table has (the batch's
        rows get NULL) — the merged schema is the union by name.  Off by
        default: an unexpected schema drift then fails the batch loudly
        instead of silently widening the table."""
        if partition_col is not None and partition_col not in key_cols:
            raise ValueError(
                f"partition_col {partition_col!r} must be one of key_cols "
                f"{key_cols} (keys must not move between partitions)"
            )
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.partition_col = partition_col
        self.merge_schema = merge_schema
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _current(self) -> str | None:
        """Resolve the live table directory via the pointer file (the single
        atomically-replaced piece of state — a crash at ANY point leaves the
        pointer referencing a complete previous version)."""
        try:
            with open(self._pointer) as f:
                version = f.read().strip()
        except FileNotFoundError:
            return None
        path = os.path.join(self.root, version)
        return path if os.path.isdir(path) else None

    def exists(self) -> bool:
        return self._current() is not None

    def _read_version(self, path: str) -> DataFrame:
        """Read one version dir with the exact write-time schema every
        version ships (_sinkschema.json).  The file spares each read a
        schema-inference job over the parquet footers and, for partitioned
        versions, stops partition-value type inference from retyping the
        partition column (a string '2024-01-01' would come back as DATE,
        breaking both the read() contract and the merge union).  Only a
        table last written before unpartitioned versions carried the file
        still infers."""
        schema_file = os.path.join(path, _SCHEMA_FILE)
        if os.path.exists(schema_file):
            with open(schema_file) as f:
                schema = T.StructType.fromJson(json.load(f))
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.read.parquet(path)

    @staticmethod
    def _write_schema(out: str, schema: T.StructType) -> None:
        with open(os.path.join(out, _SCHEMA_FILE), "w") as f:
            json.dump(schema.jsonValue(), f)

    def read(self) -> DataFrame:
        """The live table (without the internal epoch column)."""
        current = self._current()
        if current is None:
            raise FileNotFoundError(f"no data written yet under {self.root}")
        return self._read_version(current).drop(_EPOCH_COL)

    def upsert(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge `batch_df` into the table, keyed last-write-wins (higher
        epoch wins; replay of the same epoch is a no-op by value).  Mirrors
        streaming_job.py:586-603; its empty-batch fast path lives in the
        foreach_batch adapter, which skips an empty epoch without running
        its plan twice (sinks/micro_batch.py).  Called directly, upsert
        merges whatever it is given, an empty frame included.

        Commit protocol: write the merged table to a fresh version dir,
        fsync a temp pointer, os.replace it over CURRENT (atomic on POSIX),
        then garbage-collect older versions.  Readers and crashed writers
        can never observe a partial table."""
        incoming = batch_df.withColumn(_EPOCH_COL, F.lit(int(epoch_id)))
        current = self._current()
        prev_version = os.path.basename(current) if current is not None else None
        pcol = self.partition_col
        if current is not None:
            existing = self._read_version(current)
            if pcol is not None:
                # Partition-pruned merge: only read (and re-merge) the
                # partitions the batch touches.  The isin filter is a
                # partition filter, so Spark's partition discovery prunes
                # untouched directories out of the scan entirely.
                touched = [
                    r[0] for r in incoming.select(pcol).distinct().collect()
                ]
                existing = existing.filter(F.col(pcol).isin(touched))
            merged = existing.unionByName(
                incoming, allowMissingColumns=self.merge_schema
            )
        else:
            merged = incoming
        w = Window.partitionBy(*self.key_cols).orderBy(F.col(_EPOCH_COL).desc())
        deduped = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        version = f"v{int(epoch_id)}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, version)
        if pcol is not None:
            deduped.write.mode("overwrite").partitionBy(pcol).parquet(out)
            if current is not None:
                self._carry_untouched_partitions(current, out)
        else:
            deduped.write.mode("overwrite").parquet(out)
        self._write_schema(out, deduped.schema)
        self._commit(version, prev_version)

    def _commit(self, version: str, prev_version: str | None) -> None:
        """Atomically swing CURRENT to `version`, then GC with a lag of 1
        (ADVICE r02): keep the version the pointer referenced until this
        commit, so a reader that resolved the OLD pointer just before the
        swap can finish its lazy parquet scan.  An out-of-band reader is
        safe as long as it consumes within one commit interval; the
        streaming foreachBatch driver (single writer) is always safe."""
        tmp_ptr = self._pointer + ".tmp"
        with open(tmp_ptr, "w") as f:
            f.write(version)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_ptr, self._pointer)  # the one atomic commit point
        keep = {version, prev_version}
        for entry in os.listdir(self.root):
            path = os.path.join(self.root, entry)
            if (
                os.path.isdir(path)
                and entry not in keep
                and (entry.startswith("v") or entry.startswith(".w"))
            ):
                shutil.rmtree(path, ignore_errors=True)

    def _carry_untouched_partitions(self, current: str, out: str) -> None:
        """Copy every partition directory the merge did NOT rewrite from the
        previous version into the new one, file-for-file.  'Touched' is
        decided by directory presence in the freshly written version, so the
        comparison uses Spark's own partition-path encoding on both sides
        (no value-to-dirname re-encoding to get subtly wrong).  The copy is
        a byte-level file operation — untouched data is never read, decoded,
        or shuffled; on an object store this is a server-side copy (or a
        metadata-only move in a real table format)."""
        prefix = f"{self.partition_col}="
        for entry in os.listdir(current):
            src = os.path.join(current, entry)
            if (
                entry.startswith(prefix)
                and os.path.isdir(src)
                and not os.path.exists(os.path.join(out, entry))
            ):
                shutil.copytree(src, os.path.join(out, entry))

    def compact(self, max_files_per_partition: int = 1) -> dict:
        """Small-file compaction — the maintenance half of every streaming
        sink: each micro-batch merge writes one file per shuffle task per
        touched partition, so a month of 30-second batches leaves thousands
        of KB-sized files per partition and read amplification grows
        unbounded (the OPTIMIZE / rewrite_data_files operation of the
        Delta/Iceberg world, reduced to its parquet-directory essence).

        Partitions whose parquet file count exceeds `max_files_per_partition`
        are rewritten to single files; every other partition's files carry
        into the new version BYTE-IDENTICAL without being read or decoded.
        The rewrite is per-partition-directory local — data never shuffles
        and the partition column never round-trips through value encoding.
        Commits through the same atomic CURRENT-pointer swap as upsert, so
        readers see either the old or the compacted table, never a mix, and
        a crash mid-compaction leaves the table untouched.  Returns
        {"compacted": n, "skipped": n} partition counts (whole-table
        semantics when the sink is unpartitioned)."""
        current = self._current()
        if current is None:
            return {"compacted": 0, "skipped": 0}
        prev_version = os.path.basename(current)

        def _nfiles(d: str) -> int:
            return sum(
                1
                for fn in os.listdir(d)
                if fn.endswith(".parquet") and not fn.startswith("_")
            )

        version = f"v{prev_version}-compact-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.root, version)
        if self.partition_col is None:
            if _nfiles(current) <= max_files_per_partition:
                return {"compacted": 0, "skipped": 1}
            df = self._read_version(current)
            df.coalesce(max_files_per_partition).write.mode("overwrite").parquet(out)
            self._write_schema(out, df.schema)
            self._commit(version, prev_version)
            return {"compacted": 1, "skipped": 0}

        prefix = f"{self.partition_col}="
        part_dirs = [
            e
            for e in sorted(os.listdir(current))
            if e.startswith(prefix) and os.path.isdir(os.path.join(current, e))
        ]
        todo = [
            e for e in part_dirs if _nfiles(os.path.join(current, e)) > max_files_per_partition
        ]
        if not todo:
            return {"compacted": 0, "skipped": len(part_dirs)}
        os.makedirs(out, exist_ok=True)
        for entry in part_dirs:
            src = os.path.join(current, entry)
            if entry in set(todo):
                # Leaf-directory read: the partition column lives in the
                # dirname, not the files, and writing back under the same
                # dirname preserves the layout without re-encoding values.
                df = self.spark.read.parquet(src)
                df.coalesce(max_files_per_partition).write.mode(
                    "overwrite"
                ).parquet(os.path.join(out, entry))
            else:
                shutil.copytree(src, os.path.join(out, entry))
        schema_src = os.path.join(current, _SCHEMA_FILE)
        if os.path.exists(schema_src):
            shutil.copy(schema_src, os.path.join(out, _SCHEMA_FILE))
        self._commit(version, prev_version)
        return {"compacted": len(todo), "skipped": len(part_dirs) - len(todo)}

    def foreach_batch(self, retry_attempts: int = 1, compact_every: int = 0):
        """Adapter for writeStream.foreachBatch.  retry_attempts > 1 wraps
        the upsert in exponential-backoff retry (sinks/retry.py), mirroring
        the reference's tenacity wrapper around each Mongo batch write
        (streaming_job.py:535-550) — a transient sink failure retries
        without killing the streaming query; a persistent one still fails
        the batch so checkpointing can replay it.

        compact_every > 0 runs compact() after every Nth epoch — inline
        maintenance so a long-running stream can't fragment its own table
        unboundedly.  Keyed on epoch_id (not a call counter) so replays
        stay idempotent: re-running epoch N re-runs the same maintenance
        decision.  Compaction failures propagate like upsert failures —
        the batch replays, and compact() is a no-op when already tight."""
        from .retry import with_retry

        @micro_batch
        def _fn(batch_df: DataFrame, epoch_id: int) -> None:
            if retry_attempts <= 1:
                self.upsert(batch_df, epoch_id)
            else:
                with_retry(
                    lambda: self.upsert(batch_df, epoch_id),
                    max_attempts=retry_attempts,
                )
            if compact_every > 0 and int(epoch_id) % compact_every == (
                compact_every - 1
            ):
                self.compact()

        return _fn
