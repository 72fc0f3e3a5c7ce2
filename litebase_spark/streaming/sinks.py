"""Streaming sinks beyond the built-ins: foreachBatch upsert.

The built-in file sink is append-only; production pipelines usually
MERGE each microbatch into a serving table (idempotent upsert keyed by
the batch's natural key). Spark's hook for that is foreachBatch — each
microbatch arrives as a batch DataFrame plus a monotonically increasing
batch_id for idempotence (re-delivered batches after a restart carry
the same id and must not double-apply).

On Delta this body is one `MERGE INTO`; on plain parquet each batch
commits the merged table as a new version of the Engine's store, like
any SQL write. State contract at scale: the upsert keys per batch are
bounded by the trigger interval, and the target table rewrite cost is
what Delta's log/file-pruning would remove — the swap point is the
`apply` function alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from litebase_spark.engine import Engine


class ForeachBatchUpsertSink:
    """Merge every microbatch into a table of `engine`, idempotently."""

    def __init__(self, engine: Engine, table: str, keys: list[str]) -> None:
        self.engine = engine
        self.table = table
        self.keys = keys
        self.applied_batches: list[int] = []

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.applied_batches:
            return  # replayed batch after restart: already applied
        target = self.engine.spark.table(self.table)
        # last-write-wins inside the batch: one row per key
        deduped = batch_df.dropDuplicates(self.keys)
        kept = target.join(deduped, on=self.keys, how="left_anti")
        self.engine.commit({self.table: kept.unionByName(deduped)})
        self.applied_batches.append(batch_id)

    def attach(self, stream: DataFrame, **trigger_kwargs):
        """Start the stream writing through this sink."""
        return (
            stream.writeStream.foreachBatch(self.apply)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start()
        )
