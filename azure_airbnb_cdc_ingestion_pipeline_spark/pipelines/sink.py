"""The micro-batch sink protocol shared by the fact and SCD2 pipelines.

Exactly-once into several sinks, after Structured Streaming's
idempotent-sink contract: a foreachBatch drain hands each micro-batch
``txn = (app_id, batch_id)``, and every sink commit records it atomically
in the table's commit-log entry (``ParquetTable`` txn markers). A batch
replayed after a crash between some sink commits and the checkpoint
commit skips each sink that already recorded it. A keyed MERGE is
idempotent anyway; an APPEND is not, so it must never run twice.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..sources.tables import ParquetTable
from ..streaming.cdc import run_foreach_batch_merge


def check_dq_wiring(dq_rules, dq_on_breach: str, dq_quarantine) -> None:
    """Quarantine mode without a quarantine table is a wiring error, not
    a data error: fail before any batch runs rather than kill the stream
    at the first breach."""
    if dq_rules is not None and dq_on_breach == "quarantine" and dq_quarantine is None:
        raise ValueError(
            "dq_on_breach='quarantine' requires a dq_quarantine table — "
            "breaching rows must not be dropped silently"
        )


def already_applied(table: ParquetTable, txn: tuple[str, int] | None) -> bool:
    """True when ``table`` has already committed this (app, batch)."""
    if txn is None:
        return False
    last = table.last_txn(txn[0])
    return last is not None and last >= txn[1]


def append_once(
    table: ParquetTable, df: DataFrame, txn: tuple[str, int] | None
) -> None:
    """O(batch) append unless this batch already committed here. An
    append-per-batch sink adds one file per trigger; the size-triggered
    compaction keeps its live file count saw-toothing below the trigger."""
    if not already_applied(table, txn):
        table.append(df, txn=txn)
        table.maybe_compact(trigger_files=64)


def dq_gate(
    df: DataFrame,
    dq_rules: list,
    dq_on_breach: str,
    dq_quarantine: ParquetTable | None,
    txn: tuple[str, int] | None,
) -> DataFrame:
    """Expectation gate ahead of every sink commit; returns the rows to
    publish. Halt mode raises here, so nothing commits and the checkpoint
    never records the batch: a fixed-and-restarted stream replays it
    cleanly. Quarantine mode appends the breaching rows to
    ``dq_quarantine`` and publishes the clean remainder."""
    from ..operators.dq import expectation_gate

    clean, breached = expectation_gate(df, dq_rules, on_breach=dq_on_breach)
    if breached is not None:
        append_once(dq_quarantine, breached, txn)
    return clean


def drain(
    stream: DataFrame,
    process: Callable[[DataFrame, tuple[str, int]], None],
    app_id: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
):
    """Run ``process(batch_df, (app_id, batch_id))`` for every micro-batch
    of ``stream``. ``app_id`` must be stable per (pipeline, checkpoint):
    batch ids are scoped to the checkpoint, so the markers must be too.
    ``available_now=True`` drains what has landed and returns when done;
    otherwise a ``processingTime`` trigger keeps running and the query is
    returned without waiting on it."""
    q = run_foreach_batch_merge(
        stream,
        lambda batch_df, batch_id: process(batch_df, (app_id, batch_id)),
        checkpoint_dir,
        available_now=available_now,
        processing_time=processing_time,
    )
    if available_now:
        q.awaitTermination()
    return q
