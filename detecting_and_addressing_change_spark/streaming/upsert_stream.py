"""Streaming CDC maintenance: a changelog stream folded into a queryable
latest-wins snapshot via foreachBatch — the streaming arm of
operators/upsert.py (x25) and the canonical T3-style stateful sink
(SURVEY §2.6; the reference's closest analogue is the prequential
foreachBatch loop, streams/run_stream_supervised.py:41-85).

Design for scale:
- State lives in PARQUET (versioned snapshot directories, write-new then
  flip), not in executor memory — snapshot size is unbounded by design.
- Tombstones (winning deletes) are RETAINED in the snapshot and filtered
  only on read: a late-arriving upsert with a lower version can never
  resurrect a deleted key, so the result equals the batch
  apply_changelog over the full log for ANY arrival order (given unique
  (key, version) pairs). Compaction = dropping tombstones once upstream
  guarantees no older versions remain in flight.
- Each micro-batch costs one key-shuffle over (snapshot ∪ batch). On a
  real table both sides would be bucketed by key (sinks/parquet.py) so
  the merge is Exchange-free; at 100 TB you would additionally partition
  the snapshot and rewrite only partitions the batch touches
  (merge-on-read, the Delta/Iceberg MERGE pattern minus the manifest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _columns(schema: T.StructType) -> dict[str, str]:
    # name -> type, ignoring order (the merge is by name) and nullability
    # (parquet reads every column back as nullable)
    return {f.name: f.dataType.simpleString() for f in schema.fields}


class ChangelogSnapshot:
    """Fold a keyed changelog stream into a parquet snapshot.

    Rows must carry ``version`` (unique per key) and ``op`` ('U'/'D')
    columns. Attach with ``stream.writeStream.foreachBatch(
    snap.process_batch)``; read the current state with ``snapshot()``."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        version_col: str = "version",
        op_col: str = "op",
        delete_op: str = "D",
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = key_cols
        self.version_col = version_col
        self.op_col = op_col
        self.delete_op = delete_op
        # restart recovery: the snapshot epoch is re-derived from the state
        # directory, so a restarted query (same checkpointLocation) resumes
        # merging into the state it left behind — Structured Streaming
        # replays nothing already committed, and the epoch write below is
        # the idempotent "write new, then advance" half of that contract
        self.epoch = self._recover_epoch()
        # schema of the stored epoch; after a restart it is read from disk
        self._state_schema: T.StructType | None = None

    def _recover_epoch(self) -> int:
        try:
            versions = [
                int(d[1:])
                for d in os.listdir(self.state_dir)
                if d.startswith("v") and d[1:].isdigit()
                and os.path.exists(
                    os.path.join(self.state_dir, d, "_SUCCESS")
                )
            ]
        except FileNotFoundError:
            return 0
        return max(versions, default=0)

    def _path(self, epoch: int) -> str:
        return os.path.join(self.state_dir, f"v{epoch}")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        parts = batch_df
        if self.epoch > 0:
            # a batch whose columns or types differ from the stored epoch
            # would read the old state through the wrong schema (a dropped
            # column vanishes from every stored row); the check costs one
            # footer-inference job after a restart, none per later epoch
            stored = self._state_schema
            if stored is None:
                stored = self.spark.read.parquet(self._path(self.epoch)).schema
            if _columns(stored) != _columns(batch_df.schema):
                raise ValueError(
                    f"batch schema {batch_df.schema.simpleString()} does not "
                    f"match the stored epoch v{self.epoch} at "
                    f"{self.state_dir!r}: {stored.simpleString()}"
                )
            prev = self.spark.read.schema(batch_df.schema).parquet(
                self._path(self.epoch)
            )
            parts = prev.unionByName(batch_df)
        self._state_schema = batch_df.schema
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.desc(self.version_col)
        )
        merged = (
            parts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        merged.write.mode("overwrite").parquet(self._path(self.epoch + 1))
        self.epoch += 1

    def snapshot(self) -> DataFrame:
        """Current state: latest non-deleted row per key (tombstones and
        merge metadata stripped)."""
        if self.epoch == 0:
            raise ValueError("no batches processed yet")
        sch = self._state_schema
        reader = self.spark.read.schema(sch) if sch else self.spark.read
        cur = reader.parquet(self._path(self.epoch))
        return cur.filter(F.col(self.op_col) != self.delete_op).drop(
            self.version_col, self.op_col
        )
