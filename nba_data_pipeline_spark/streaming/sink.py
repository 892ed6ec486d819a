"""Streaming incremental-merge sink: the reference's "delta mode +
upsert" (J1 + S7) as a Structured Streaming façade.

``foreachBatch`` gives each micro-batch as a normal DataFrame, merged
into the target table with the same MERGE-shaped writer the batch path
uses — checkpointing makes re-delivered batches idempotent (upsert on
the key), which is the exactly-once-ish contract the reference gets
from ON CONFLICT DO UPDATE (``database/db_client.py:69-90``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sinks.snapshot import upsert_snapshot
from ..sinks.writer import upsert_table


def _start_batches(
    stream_df: DataFrame,
    process,
    query_name: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    app_id: str | None = None,
    **fenced_paths: str | None,
):
    """The one foreachBatch runner: start a query that runs
    ``process(batch_df, epoch_id, txn)`` per micro-batch, where ``txn``
    is ``(app_id, epoch_id)`` when ``app_id`` arms the snapshot txn
    fence and None otherwise. ``available_now=True`` drains what is
    pending and stops (cron-style incremental ingest).

    A fenced query is checked at setup, so a misconfigured query fails
    here instead of at its first micro-batch: it needs a durable
    ``checkpoint_dir`` (a fresh checkpoint restarts epochs at 0, and
    the stale watermark would fence every new batch as a replay), and
    no table named in ``fenced_paths`` may be an on-disk swap table
    (no transaction watermark). The format probe is filesystem-only."""
    if app_id is not None:
        if not checkpoint_dir:
            raise ValueError(
                "app_id (txn fencing) requires a durable checkpoint_dir: "
                "without one every run restarts epoch_id at 0 and the "
                "prior watermark silently drops each new batch as a replay"
            )
        from ..sinks.store import detect_format

        for name, path in fenced_paths.items():
            if path is not None and detect_format(path) == "swap":
                raise ValueError(
                    f"app_id={app_id!r} arms the snapshot txn fence, but "
                    f"the {name} table at {path} is an on-disk swap table "
                    "with no transaction watermark; migrate_to_snapshot it "
                    "or point the fenced pipeline at a fresh root"
                )

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
    partition_by: Sequence[str] = (),
    checkpoint_dir: str | None = None,
    query_name: str = "stream_upsert",
    available_now: bool = True,
):
    """Start a streaming query that MERGEs every micro-batch into the
    parquet table at ``path``. ``available_now=True`` drains what's
    currently available and stops scheduling new triggers (incremental
    batch semantics — run it on a cron like the reference's CLI)."""
    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: upsert_table(
            batch_df.sparkSession, batch_df, path, key, partition_by
        ),
        query_name, checkpoint_dir, available_now,
    )


def stream_upsert_snapshot(
    stream_df: DataFrame,
    root: str,
    key: str | Sequence[str],
    app_id: str,
    checkpoint_dir: str | None = None,
    query_name: str = "stream_upsert_snapshot",
    available_now: bool = True,
):
    """Exactly-once streaming MERGE into a manifest-committed snapshot
    table (``sinks/snapshot.py``). foreachBatch is at-least-once —
    after a crash between the sink write and the checkpoint commit,
    Structured Streaming REDELIVERS the epoch — so the plain
    ``stream_upsert`` is only idempotent when re-merging identical
    rows happens to converge. This sink is idempotent BY PROTOCOL:
    every micro-batch commits with ``txn=(app_id, epoch_id)`` and the
    manifest's transaction watermark makes any replayed epoch a
    visible no-op (the public Delta txnAppId/txnVersion design). The
    commit itself is a single atomic link, so a crash can never leave
    a half-merged table for the retry to trip over.

    ``checkpoint_dir`` is REQUIRED: without a durable checkpoint every
    run restarts epoch_id at 0, and the (app_id, epoch) watermark left
    by a prior run fences each new batch as an already-applied replay —
    data is silently dropped. The watermark's lifetime is the
    checkpoint's lifetime; reuse an app_id only with its checkpoint,
    or pick a fresh app_id for a fresh checkpoint."""
    if not checkpoint_dir:
        raise ValueError(
            "stream_upsert_snapshot requires checkpoint_dir: the "
            "(app_id, epoch) txn fence outlives a temp checkpoint, so "
            "a re-run without one silently drops every batch as a "
            "replay. Pass a durable checkpoint_dir (and keep app_id "
            "paired with it), or use a fresh app_id per run."
        )
    return _start_batches(
        stream_df,
        lambda batch_df, epoch, txn: upsert_snapshot(
            batch_df.sparkSession, batch_df, root, key, txn=txn
        ),
        query_name, checkpoint_dir, available_now, app_id=app_id,
    )


def run_incremental_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    path: str,
    key: str | Sequence[str],
    partition_by: Sequence[str] = (),
    checkpoint_dir: str | None = None,
) -> None:
    """One AvailableNow incremental pass: read whatever new files landed
    in ``source_dir`` (per the checkpoint), upsert them, stop."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = stream_upsert(
        stream, path, key, partition_by, checkpoint_dir, query_name="incr_merge"
    )
    q.awaitTermination()
