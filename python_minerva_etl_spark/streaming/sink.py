"""Exactly-once streaming MERGE sink into a snapshot table.

The reference's "streaming" ingest is a polling loop that upserts each
harvested batch transactionally into PostgreSQL (``INSERT … ON
CONFLICT DO UPDATE``).  The Structured-Streaming analog is
``foreachBatch`` + :class:`storage.snaptable.SnapTable.merge` — but
foreachBatch is at-least-once: after a crash between the merge commit
and the checkpoint commit, the restarted query re-delivers the same
``batch_id``.  Exactly-once needs the sink to be idempotent per batch
id, which SnapTable provides via the ``txn`` ledger carried in every
manifest (the Delta ``txn`` action pattern): a re-delivered
``(query_name, batch_id)`` is recognized and skipped, so the merge
applies exactly once no matter how many times the batch is retried.

At 100 TB this is the write path for continuous ingest: each
micro-batch rewrites only the key-range-overlapping files of the
snapshot, concurrent batch loaders conflict-detect instead of
corrupting, and replaying a checkpoint range is safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..storage.snaptable import SnapTable


def merge_stream(stream: DataFrame, table_path: str, key: list[str],
                 seq_col: str, query_name: str,
                 checkpoint_dir: str,
                 available_now: bool = True) -> StreamingQuery:
    """Start a streaming query that MERGEs every micro-batch into the
    SnapTable at ``table_path`` exactly once.  ``seq_col`` breaks ties
    within a batch (later rows of the same key win via the merge's
    last-writer-wins contract)."""
    table = SnapTable(table_path)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df.sparkSession, batch_df, key, seq_col,
                    txn=(query_name, int(batch_id)))

    writer = (stream.writeStream
              .foreachBatch(_merge)
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
