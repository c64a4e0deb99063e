"""LoadDimSCD2 — streaming Type-2 dimension maintenance behind the
same per-micro-batch expectation gate that protects the fact merge.

Engine extension of the reference's Type-1 dim pipeline
(/root/reference/pipeline/LoadCustomerDim.json:82-101, which overwrites
in place and forgets): change waves arrive as micro-batches, each batch
is gated by the declarative expectation suite (`operators.dq`) BEFORE
`operators.merge.scd2_apply` rebuilds the affected keys' version
chains, and the versioned dim commits through the sink protocol the
fact path uses (:mod:`.sink`) — a replayed batch (foreachBatch died
after the dim committed but before the checkpoint did) skips the apply
instead of double-applying.

No change wave reaches the dimension ungated: a poisoned wave that would
halt the fact merge must not version garbage into the dim either. The
gate semantics (halt = stop BEFORE any commit so a fixed-and-restarted
stream replays the batch cleanly; quarantine = divert breaching rows,
version the clean remainder) are the fact path's.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..operators.merge import scd2_apply
from ..sources.tables import ParquetTable
from .sink import already_applied, check_dq_wiring, dq_gate, drain


def process_scd2_batch(
    batch: DataFrame,
    dim: ParquetTable,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    initial_history: DataFrame | None = None,
    eff_from: str = "effective_from",
    dq_rules: list | None = None,
    dq_on_breach: str = "halt",
    dq_quarantine: ParquetTable | None = None,
    txn: tuple[str, int] | None = None,
) -> None:
    """One change micro-batch: gate, then SCD2-apply into the versioned
    dim.

    - ``dq_rules`` (name, violation-predicate) pairs are evaluated on
      the RAW change rows before any version math: halt mode raises
      :class:`~..operators.dq.ExpectationBreach` with nothing
      committed (the checkpoint never records the batch — the restart
      replays it); quarantine mode appends breaching rows to
      ``dq_quarantine`` and versions only the clean remainder.
    - ``initial_history`` seeds the dim on the very first batch when
      the table does not exist yet.
    - ``txn=(app_id, batch_id)`` arms the idempotent replay guard (txn
      markers in the table's commit-log entry, same protocol as the fact
      merge).
    """
    check_dq_wiring(dq_rules, dq_on_breach, dq_quarantine)
    if batch.isEmpty():
        return
    if dq_rules is None:
        _apply(batch, dim, keys, attr_cols, initial_history, eff_from, txn)
        return
    batch = batch.persist()
    try:
        clean = dq_gate(batch, dq_rules, dq_on_breach, dq_quarantine, txn)
        _apply(clean, dim, keys, attr_cols, initial_history, eff_from, txn)
    finally:
        batch.unpersist()


def _apply(
    changes: DataFrame,
    dim: ParquetTable,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    initial_history: DataFrame | None,
    eff_from: str,
    txn: tuple[str, int] | None,
) -> None:
    if already_applied(dim, txn):
        return
    if dim.exists():
        base = dim.read()
    elif initial_history is not None:
        base = initial_history
    else:
        raise ValueError(
            "SCD2 dim does not exist and no initial_history was given — "
            "an empty dimension must be seeded explicitly, not implied"
        )
    dim.overwrite(
        scd2_apply(base, changes, keys=keys, attr_cols=attr_cols,
                   eff_from=eff_from),
        txn=txn,
    )


def load_dim_scd2_stream(
    stream: DataFrame,
    dim: ParquetTable,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    checkpoint_dir: str,
    initial_history: DataFrame | None = None,
    eff_from: str = "effective_from",
    available_now: bool = True,
    dq_rules: list | None = None,
    dq_on_breach: str = "halt",
    dq_quarantine: ParquetTable | None = None,
):
    """Streaming entry: drain a change stream through the gated SCD2
    apply (exactly-once via checkpoint + txn-marker replay guard)."""
    check_dq_wiring(dq_rules, dq_on_breach, dq_quarantine)

    def _process(batch_df: DataFrame, txn: tuple[str, int]) -> None:
        process_scd2_batch(
            batch_df, dim, keys, attr_cols,
            initial_history=initial_history, eff_from=eff_from,
            dq_rules=dq_rules, dq_on_breach=dq_on_breach,
            dq_quarantine=dq_quarantine, txn=txn,
        )

    return drain(
        stream, _process, f"dim_scd2:{checkpoint_dir}", checkpoint_dir,
        available_now=available_now,
    )
