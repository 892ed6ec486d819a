"""Streaming incremental-merge sink: the reference's "delta mode +
upsert" (J1 + S7) as a Structured Streaming façade.

``foreachBatch`` gives each micro-batch as a normal DataFrame, merged
into a snapshot table through the same ``sinks.store`` upsert the batch
path uses — the key-upsert (plus the optional ``txn`` fence) makes
re-delivered batches idempotent, the contract the reference gets from
ON CONFLICT DO UPDATE (``database/db_client.py:69-90``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _start_batches(
    stream_df: DataFrame,
    process,
    query_name: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    app_id: str | None = None,
    **targets: str | None,
):
    """The one foreachBatch runner: start a query that runs
    ``process(batch_df, epoch_id, txn)`` per micro-batch, where ``txn``
    is ``(app_id, epoch_id)`` when ``app_id`` arms the snapshot txn
    fence and None otherwise. ``available_now=True`` drains what is
    pending and stops (cron-style incremental ingest).

    The query is checked at setup, so a misconfigured one fails here
    instead of at its first micro-batch: no table named in ``targets``
    may be a legacy swap table (keyed writes commit only snapshot
    tables), and a fenced query needs a durable ``checkpoint_dir`` (a
    fresh checkpoint restarts epochs at 0, and the stale watermark
    would fence every new batch as a replay). Filesystem probes only."""
    from ..sinks.store import require_snapshot

    if app_id is not None and not checkpoint_dir:
        raise ValueError(
            "app_id (txn fencing) requires a durable checkpoint_dir: "
            "without one every run restarts epoch_id at 0 and the "
            "prior watermark silently drops each new batch as a replay"
        )
    for path in targets.values():
        if path is not None:
            require_snapshot(path)

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        process(batch_df, epoch, None if app_id is None else (app_id, epoch))

    writer = stream_df.writeStream.foreachBatch(run).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert(
    stream_df: DataFrame,
    path: str,
    key: str | Sequence[str],
    checkpoint_dir: str | None = None,
    query_name: str = "stream_upsert",
    available_now: bool = True,
    app_id: str | None = None,
):
    """Start a streaming query that MERGEs every micro-batch into the
    snapshot table at ``path`` (``sinks.store.upsert_store``).
    ``available_now=True`` drains what's currently available and stops
    scheduling new triggers (incremental batch semantics — run it on a
    cron like the reference's CLI).

    foreachBatch is at-least-once: after a crash between the sink
    write and the checkpoint commit, Structured Streaming REDELIVERS
    the epoch. Without ``app_id`` a redelivered epoch re-merges the
    same rows (idempotent only when that converges). With ``app_id``
    every micro-batch commits with ``txn=(app_id, epoch_id)`` and the
    manifest's transaction watermark makes a replayed epoch a visible
    no-op (the public Delta txnAppId/txnVersion design); the commit is
    one atomic link, so a crash never leaves a half-merged table.

    ``app_id`` REQUIRES ``checkpoint_dir``: without a durable checkpoint
    every run restarts epoch_id at 0, and the (app_id, epoch) watermark
    left by a prior run fences each new batch as an already-applied
    replay — data is silently dropped. Reuse an app_id only with its
    checkpoint, or pick a fresh app_id for a fresh checkpoint."""
    from ..sinks import store

    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: store.upsert_store(
            batch_df.sparkSession, batch_df, path, key, txn=txn
        ),
        query_name, checkpoint_dir, available_now, app_id=app_id, target=path,
    )


def run_incremental_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    path: str,
    key: str | Sequence[str],
    checkpoint_dir: str | None = None,
) -> None:
    """One AvailableNow incremental pass: read whatever new files landed
    in ``source_dir`` (per the checkpoint), upsert them, stop."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = stream_upsert(stream, path, key, checkpoint_dir, query_name="incr_merge")
    q.awaitTermination()
