"""Versioned parquet tables — the warehouse-table abstraction.

The reference's sinks are Synapse DW tables written via staged COPY with
keyed upsert (/root/reference/dataflow/BookingDataTransformation.json:156-186,
/root/reference/pipeline/LoadCustomerDim.json:82-101). Delta Lake is not
available in this environment, so ``ParquetTable`` provides the minimal
transactional surface those sinks need on plain parquet, after the Delta
transaction-log protocol:

- one append-only commit log, ``_log/<version:020d>.json``. Entry v names
  the data dir that holds version v and carries the partition spec, the
  merge-on-read spec, the streaming txn markers, the operation name and
  the commit time. A version exists exactly when its entry does; entries
  are never rewritten or deleted;
- a commit writes its parquet into a data dir private to that writer
  attempt, then publishes entry ``snapshot + 1`` by hard-linking a fully
  written temp file into place. ``os.link`` is atomic and fails when the
  number is taken, so of two racing writers exactly one gets a version:
  a read-modify-write that loses raises :class:`ConcurrentWriteError`, a
  blind overwrite publishes at the next free number;
- snapshot reads: a reader resolves one entry and reads its immutable
  data dir;
- keyed upsert (MERGE) built from the pure-DataFrame merge in
  ``operators.merge``.

Scale posture: one version = one parquet dataset written fully in parallel
by executors; the only driver-side work is one small log write. A real
100 TB deployment would swap this class for Delta/Iceberg MERGE (file-level
pruning, conflict detection) — the operator layer above is
storage-agnostic, callers only see DataFrames.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import logging
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

_LOG = "_log"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's snapshot read and its
    commit. The losing merge must be recomputed from the new snapshot —
    committing it would silently drop the winner's rows."""


def _iter_parquet_files(vdir: str):
    """Yield absolute paths of every .parquet file under a version dir —
    the single walk both the skipping-stats collector and table_history
    build on (one place to learn about new sidecar layouts)."""
    for dirpath, _dn, filenames in os.walk(vdir):
        for fn in filenames:
            if fn.endswith(".parquet"):
                yield os.path.join(dirpath, fn)


def _mor_resolve_tagged(allf: DataFrame, mor: dict) -> DataFrame:
    """Resolve a PRE-TAGGED merge-on-read union (every row carries its
    stack position as ``__seq``) to one row per key with ONE hash
    aggregation.

    Arrival-wins (the reference's upsert semantics): the highest __seq
    wins per key — each stack frame holds ≤ 1 row per key (writers apply
    latest_per_key), so max_by(__seq) is exact. event_time_wins: max
    event time wins with later-frame tie-break — the same `WHEN MATCHED
    AND s.ts >= t.ts` source-wins contract
    `operators.merge.resolve_event_time` enforces at write time."""
    from ..operators.windows import argmax_per_group

    keys = list(mor["keys"])
    order = (
        [F.col(c) for c in (mor.get("order_by") or [])] + [F.col("__seq")]
        if mor.get("event_time_wins")
        else [F.col("__seq")]
    )
    payload = [c for c in allf.columns if c not in set(keys) | {"__seq"}]
    return argmax_per_group(allf, keys, order, payload)


def _same_rule(mor: dict, keys, event_time_wins: bool) -> bool:
    """Whether a merge on ``keys`` under ``event_time_wins`` resolves rows
    the way the merge-on-read spec ``mor`` does."""
    return mor["keys"] == list(keys) and (
        bool(mor.get("event_time_wins")) == bool(event_time_wins)
    )


@dataclasses.dataclass
class _Write:
    """One commit in progress (see :meth:`ParquetTable._new_version`)."""

    base: int  # snapshot version the write is computed from (0: empty table)
    prev: dict  # its log entry ({} for an empty table)
    base_dir: str | None  # its data dir
    data: str  # the data dir this attempt writes; private until published
    partition_by: list  # spec of the new version; starts as the snapshot's
    mor: dict | None  # merge-on-read spec of the new version; likewise
    version: int = 0  # set once published


class ParquetTable:
    #: merge-on-read delta subdir inside a data dir. The leading
    #: underscore makes it INVISIBLE to spark.read.parquet(vdir) (hidden
    #: path filter), so the base always reads clean; deltas are read by
    #: explicit path.
    _DELTA = "_delta"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._log_dir = os.path.join(root, _LOG)
        os.makedirs(self._log_dir, exist_ok=True)
        # newest version this instance has seen (only grows), and the
        # newest entry it has read (entries are immutable once published)
        self._seen = 0
        self._cached: tuple[int, dict] = (0, {})

    # -- the commit log ------------------------------------------------------
    def _entry_path(self, v: int) -> str:
        return os.path.join(self._log_dir, f"{v:020d}.json")

    def current_version(self) -> int | None:
        """Newest committed version, None for an empty table. The log has
        no gaps (entry v is published only once v-1 exists), so this
        gallops forward from the newest version the instance has seen and
        bisects: one stat in the steady state, O(log versions) stats for a
        fresh instance, never a listing of the log."""
        lo, step = self._seen, 1
        while os.path.exists(self._entry_path(lo + step)):
            lo, step = lo + step, step * 2
        hi = lo + step
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if os.path.exists(self._entry_path(mid)):
                lo = mid
            else:
                hi = mid
        self._seen = max(self._seen, lo)
        return lo or None

    def _entry(self, v: int) -> dict:
        cached_v, cached = self._cached
        if v == cached_v:
            return cached
        with open(self._entry_path(v)) as f:
            entry = json.load(f)
        if v > cached_v:
            self._cached = (v, entry)
        return entry

    def _snapshot(self) -> tuple[int, dict]:
        """(version, entry) of the newest commit; (0, {}) when empty."""
        v = self.current_version() or 0
        return v, (self._entry(v) if v else {})

    def _data_dir(self, entry: dict) -> str:
        if not entry:
            raise FileNotFoundError(f"table at {self.root} has no committed version")
        return os.path.join(self.root, entry["data"])

    def _version_dir(self, v: int) -> str:
        """Data dir of committed version ``v``, resolved through the log."""
        return self._data_dir(self._entry(v))

    def last_txn(self, app_id: str) -> int | None:
        """Highest batch id this app committed to THIS table (None if the
        app never wrote here). A replayed foreachBatch with batch_id ≤
        last_txn(app) must skip its non-idempotent writes.

        Markers {app_id: {"batch": n, "base": v}} ride the log entry, so
        a marker is ATOMIC with the commit it describes (the Delta
        txnAppId/txnVersion idempotency contract: a foreachBatch writer
        that dies between data commit and checkpoint commit replays the
        batch, and the marker tells the sink it already applied it)."""
        t = self._snapshot()[1].get("txns", {}).get(app_id)
        return t["batch"] if t else None

    def last_txn_base(self, app_id: str) -> int | None:
        """Snapshot version the last txn of ``app_id`` was computed FROM —
        the pre-merge before-image a replayed incremental-gold delta needs
        (the version survives one further commit under _vacuum(keep=2))."""
        t = self._snapshot()[1].get("txns", {}).get(app_id)
        return t["base"] if t else None

    def exists(self) -> bool:
        return self.current_version() is not None

    @contextlib.contextmanager
    def _new_version(self, operation: str, txn=None, blind: bool = False):
        """One commit: snapshot the newest entry, yield a :class:`_Write`
        whose ``data`` dir the body fills (adjusting ``partition_by`` /
        ``mor``), and on a clean exit publish it as version snapshot+1.

        A read-modify-write body computes from ``w.prev``; if another
        writer published that number first, the commit raises
        ConcurrentWriteError rather than drop the winner's rows. A
        ``blind`` body (a full overwrite, which reads nothing) instead
        re-reads the newest entry, carries its txn markers forward and
        publishes at the next number. Anything that raises before the
        publish removes this attempt's data dir; ``_vacuum`` runs after
        the publish, so its failure leaves the commit in place.

        ``txn=(app_id, batch_id)`` records a streaming idempotency marker
        in the published entry; markers from other apps carry forward."""
        base, prev = self._snapshot()
        w = _Write(
            base, prev, self._data_dir(prev) if base else None,
            # the number is the version first attempted; the log, not the
            # name, says which version a data dir holds
            os.path.join(self.root, f"v{base + 1:06d}-{uuid.uuid4().hex[:12]}"),
            list(prev.get("partition_by", [])), prev.get("mor"),
        )
        try:
            yield w
            w.version = self._publish(w, operation, txn, blind)
        except BaseException:
            shutil.rmtree(w.data, ignore_errors=True)
            raise
        self._vacuum(keep=2)

    def _publish(self, w: _Write, operation: str, txn, blind: bool) -> int:
        base, prev = w.base, w.prev
        while True:
            txns = dict(prev.get("txns", {}))
            if txn is not None:
                txns[str(txn[0])] = {"batch": int(txn[1]), "base": base}
            entry = {
                "data": os.path.basename(w.data),
                "partition_by": list(w.partition_by),
                "mor": w.mor,
                "txns": txns,
                "operation": operation,
                "committed_at": time.time(),
            }
            # the temp file is complete before the link makes it visible,
            # so a reader never sees a partial entry
            fd, tmp = tempfile.mkstemp(dir=self._log_dir, prefix="._entry")
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump(entry, f)
                os.link(tmp, self._entry_path(base + 1))
                self._seen = max(self._seen, base + 1)
                return base + 1
            except FileExistsError:
                if not blind:
                    raise ConcurrentWriteError(
                        f"table {self.root}: snapshot was v{w.base} but "
                        f"v{base + 1} is now committed; recompute the merge "
                        "from the current snapshot and retry"
                    ) from None
                base, prev = self._snapshot()
            finally:
                with contextlib.suppress(OSError):
                    os.remove(tmp)

    def _vacuum(self, keep: int = 2) -> None:
        """Remove the data dirs of versions ≤ current−keep, newest first,
        stopping at the first one already gone (an earlier vacuum took
        everything below it). Entries stay, so a stale writer can never
        re-take a vacuumed version number."""
        v = (self.current_version() or 0) - keep
        while v > 0:
            vdir = self._version_dir(v)
            if not os.path.isdir(vdir):
                return
            shutil.rmtree(vdir, ignore_errors=True)
            v -= 1

    @staticmethod
    def _write_df(
        df: DataFrame, target: str, partition_by: list[str] | None = None
    ) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)

    # -- reads ---------------------------------------------------------------
    def read(self, merge_schema: bool = False) -> DataFrame:
        """Snapshot read of the current version. ``merge_schema=True``
        unions the schemas of all files in the version (parquet
        mergeSchema) — the additive schema-evolution read: after an
        append() whose batch carries NEW columns, old files surface them
        as nulls instead of the reader pinning one file's schema.
        Costs one footer read per file at planning (why it's opt-in).

        On a merge-on-read table with pending deltas (see
        :meth:`upsert_delta`) the read resolves base ∪ deltas to one row
        per key — callers always see fully-merged content."""
        return self._read_resolved(self._snapshot()[1], merge_schema)

    def _read_resolved(self, entry: dict, merge_schema: bool = False) -> DataFrame:
        vdir = self._data_dir(entry)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        base = reader.parquet(vdir)
        mor = entry.get("mor") or {}
        if not mor.get("pending"):
            return base
        deltas = self._delta_stack(vdir)
        allf = base.withColumn("__seq", F.lit(0)).unionByName(
            deltas, allowMissingColumns=True
        )
        return _mor_resolve_tagged(allf, mor).select(*base.columns)

    def read_for_keys(self, keys_df: DataFrame, key_cols: list[str]) -> DataFrame:
        """Resolved rows for a bounded key set — the point-lookup read.

        A consumer that semi-joins AFTER :meth:`read` pays the full
        merge-on-read resolution first (Catalyst cannot push a semi-join
        through the max_by aggregate); this pushes the key restriction
        INTO each frame of the stack before the union+argmax, so the
        resolve cost is O(matching rows), not O(table) — what the
        incremental-gold before-image needs per micro-batch. Equivalent
        to ``read().join(keys_df, key_cols, "left_semi")`` in content.
        """
        entry = self._snapshot()[1]
        vdir = self._data_dir(entry)
        keys = F.broadcast(keys_df.select(*key_cols).dropDuplicates(key_cols))
        base = self.spark.read.parquet(vdir)
        mor = entry.get("mor") or {}
        if not mor.get("pending"):
            return base.join(keys, key_cols, "left_semi")
        deltas = self._delta_stack(vdir).join(keys, key_cols, "left_semi")
        allf = (
            base.join(keys, key_cols, "left_semi")
            .withColumn("__seq", F.lit(0))
            .unionByName(deltas, allowMissingColumns=True)
        )
        return _mor_resolve_tagged(allf, mor).select(*base.columns)

    def _delta_dirs(self, vdir: str) -> list[str]:
        """Pending delta dirs of a version, in commit (seq) order."""
        droot = os.path.join(vdir, self._DELTA)
        if not os.path.isdir(droot):
            return []
        return [
            os.path.join(droot, n)
            for n in sorted(os.listdir(droot))
            if n.startswith("d") and n[1:].isdigit()
        ]

    def _delta_stack(self, vdir: str) -> DataFrame | None:
        """All pending delta rows as ONE relation, tagged with their
        commit sequence as ``__seq`` (parsed from the ``d{seq:06d}`` dir
        name this writer produced — delta dirs are unpartitioned, so the
        component can't be shadowed by a partition value). One multi-path
        read is one scan and one plan however many deltas are pending, so
        a resolved read or a fold does not pay per delta dir. mergeSchema
        keeps the additive schema evolution of a per-delta
        unionByName(allowMissingColumns) stack."""
        dirs = self._delta_dirs(vdir)
        if not dirs:
            return None
        df = self.spark.read.option("mergeSchema", "true").parquet(*dirs)
        # Anchored to the _delta parent, so a /dNNNNNN/ segment elsewhere
        # in the table path (a root under /data/d000042/...) can never
        # mis-tag rows. raise_error on a non-match: ''.cast(int) would
        # silently become NULL and corrupt arrival-wins resolution.
        seq_str = F.regexp_extract(
            F.input_file_name(), "/" + self._DELTA + "/d([0-9]{6})/", 1
        )
        return df.withColumn(
            "__seq",
            F.when(seq_str == "", F.raise_error(
                F.concat(
                    F.lit("delta seq parse failed for "),
                    F.input_file_name(),
                )
            ).cast("int")).otherwise(seq_str.cast("int")),
        )

    # -- writes --------------------------------------------------------------
    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        meta_extra: dict | None = None,
    ) -> int:
        """Atomic full overwrite: parallel parquet write of a new data dir,
        then one log entry (the commit). Old versions are pruned lazily,
        never the one being read. A blind overwrite doesn't depend on the
        previous snapshot, so concurrent overwrites are last-committer-wins
        — each publishes at the next free version, over its own data dir.
        ``meta_extra`` carries the merge-on-read spec (its ``"mor"`` key)
        into the entry. Returns the committed version number."""
        with self._new_version("overwrite", txn, blind=True) as w:
            self._write_df(df, w.data, partition_by)
            w.partition_by = list(partition_by or [])
            w.mor = (meta_extra or {}).get("mor")
        return w.version

    def upsert(
        self,
        source: DataFrame,
        keys: list[str],
        order_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        event_time_wins: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Keyed insert-or-update (MERGE). Creates the table if absent.

        Reproduces the reference's upsert sinks: fact sink keyed on
        booking_id with insert+update, no delete
        (/root/reference/dataflow/BookingDataTransformation.json:156-186)
        and the SCD-Type-1 dim upsert keyed on customer_id
        (/root/reference/pipeline/LoadCustomerDim.json:82-101).

        The source resolves to its latest row per key on every write, the
        first one included.

        ``partition_by`` (default: the table's current spec) makes the merge
        copy-on-write per partition: only the partitions the source touches
        are rewritten, the rest are hardlinked forward — O(affected
        partitions) per batch, the contract of a Delta MERGE with a
        partition-pruning ON clause. Its precondition is the same as
        Delta's: partition attributes are immutable per key (a key whose
        partition value changed would leave its old row in the untouched
        partition). An unpartitioned table is rewritten whole per merge.
        """
        mor = self._snapshot()[1].get("mor") or {}
        if mor.get("pending") and not _same_rule(mor, keys, event_time_wins):
            # the deltas must resolve under the rule they were written with
            self._fold_pending()
        with self._new_version("upsert", txn) as w:
            w.partition_by = list(partition_by or w.partition_by)
            self._merge(w, source, keys, order_by, event_time_wins)

    def _partition_columns(self) -> list[str]:
        """Partition columns of the current version, from its log entry
        (empty when unpartitioned or absent). The entry, not the dir
        layout, is authoritative: a version whose partitions a DELETE
        emptied has no partition dirs but keeps its spec."""
        return list(self._snapshot()[1].get("partition_by", []))

    # -- scale paths ---------------------------------------------------------
    def _leaf_partition_dirs(self, vdir: str) -> list[str]:
        """Relative paths of leaf partition directories (dirs that directly
        contain parquet files)."""
        out = []
        for dirpath, _dirnames, filenames in os.walk(vdir):
            if any(f.endswith(".parquet") for f in filenames):
                out.append(os.path.relpath(dirpath, vdir))
        return out

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        """Hardlink every file under src into the same relative layout under
        dst — metadata-only 'copy' of committed immutable parquet files."""
        for dirpath, _dirnames, filenames in os.walk(src):
            rel = os.path.relpath(dirpath, src)
            tgt = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(tgt, exist_ok=True)
            for f in filenames:
                if f.endswith(".parquet"):
                    os.link(os.path.join(dirpath, f), os.path.join(tgt, f))

    def _rewrite_partitions(
        self,
        df: DataFrame,
        partition_by: list[str],
        w: _Write,
        affected: set[str] | None = None,
    ) -> None:
        """Copy-on-write core of every pruned write: write ``df`` (the new
        content of the affected partitions) into ``w.data``, then hardlink
        every other leaf dir of the snapshot forward (a metadata op).
        Pending ``_delta`` dirs are never linked: the caller has resolved
        them into ``df``.

        ``affected`` defaults to the leaf dirs the write produced — Spark
        applied its own path escaping (__HIVE_DEFAULT_PARTITION__ for
        nulls, %XX for special chars), so deriving the set from the
        written tree is correct for every value a hand-built "col=val"
        string would mangle. A write that can EMPTY a partition emits no
        dir for it, so such a caller passes the set it derived from the
        matching rows; otherwise the old rows would be linked back.

        A result with no parquet file at all (every partition emptied) is
        unreadable, so one schema-bearing empty file is written instead;
        the entry keeps the partition spec."""
        self._write_df(df, w.data, partition_by)
        written = set(self._leaf_partition_dirs(w.data))
        if affected is None:
            affected = written
        linked = 0
        for rel in self._leaf_partition_dirs(w.base_dir):
            if rel not in affected and not rel.startswith(self._DELTA):
                self._link_tree(
                    os.path.join(w.base_dir, rel), os.path.join(w.data, rel)
                )
                linked += 1
        if not written and not linked:
            df.limit(0).coalesce(1).write.mode("overwrite").parquet(w.data)

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> None:
        """O(batch) append: write only the new rows, hardlink the previous
        version's files alongside them, commit. Replaces
        read-union-rewrite (which is O(table) per batch and quadratic over
        a stream's lifetime). File names carry write-UUIDs, so links and
        fresh files never collide."""
        # append semantics ("just add rows") are undefined against pending
        # merge-on-read deltas (a linked delta would keep outranking rows
        # for its keys) — fold to a clean base first. No-op otherwise.
        self._fold_pending()
        with self._new_version("append", txn) as w:
            self._write_df(df, w.data)
            if w.base:
                self._link_tree(w.base_dir, w.data)

    # Above this many touched partition combos, pruned writes abandon the
    # OR-predicate (static pruning) for a broadcast semi-join (bounded plan).
    _PRUNE_COMBO_LIMIT = 100

    def _restrict_to_partitions_of(
        self, tgt: DataFrame, combo_df: DataFrame, partition_by: list[str]
    ) -> DataFrame:
        """`tgt` restricted to the partition combos present in `combo_df`.

        Peeks at most LIMIT+1 combos: a normal CDC batch touches a handful
        of partitions (small OR predicate → static partition pruning at
        the scan); a pathological backfill spanning hundreds would build a
        thousands-term driver predicate, so past the limit this switches
        to a broadcast LEFT SEMI join on the partition columns — the plan
        stays bounded and the driver never materializes the combos.
        eqNullSafe throughout: a null partition value (e.g. a malformed
        date that cast to null year/month) must still SELECT the existing
        null-partition rows — plain == yields null and silently drops
        them."""
        combos = [
            tuple(r)
            for r in combo_df.limit(self._PRUNE_COMBO_LIMIT + 1).collect()
        ]
        if len(combos) > self._PRUNE_COMBO_LIMIT:
            t, s = tgt.alias("__t"), combo_df.alias("__s")
            cond = F.lit(True)
            for c in partition_by:
                cond = cond & F.col(f"__t.{c}").eqNullSafe(F.col(f"__s.{c}"))
            return t.join(F.broadcast(s), cond, "leftsemi")
        pred = F.lit(False)
        for combo in combos:
            match = F.lit(True)
            for c, v in zip(partition_by, combo):
                match = match & F.col(c).eqNullSafe(F.lit(v))
            pred = pred | match
        return tgt.filter(pred)  # partition-pruned scan

    def _merge(
        self,
        w: _Write,
        source: DataFrame,
        keys: list[str],
        order_by: list[str] | None,
        event_time_wins: bool,
    ) -> None:
        """Copy-on-write MERGE core of every keyed upsert: ``source``,
        resolved to its latest row per key, merged into the snapshot of
        ``w`` under ``w.partition_by``.

        Pending merge-on-read deltas fold into the source first: the delta
        stack ∪ the source tagged with the next sequence number (so it
        outranks every on-disk delta) resolves to one row per key. The
        delta-free base is then restricted to the partitions that source
        touches and merged with it; :meth:`_rewrite_partitions` writes the
        result and hardlinks every untouched partition forward. An
        unpartitioned table has no restriction and is written whole."""
        from ..operators.merge import latest_per_key, merge_dataframes

        parts = w.partition_by
        src = latest_per_key(source, keys, order_by)
        if not w.base:
            self._write_df(src, w.data, parts)
            return
        # partition combos from the PRE-dedupe frames: the same distinct
        # set (partition attrs are immutable per key) without the dedupe
        # or resolve shuffle in the peek job's lineage
        combos = source.select(*parts)
        mor = w.mor or {}
        if mor.get("pending"):
            if not _same_rule(mor, keys, event_time_wins):
                raise ConcurrentWriteError(
                    f"table {self.root}: a merge-on-read delta under another "
                    "merge rule landed after the fold; retry"
                )
            stack = self._delta_stack(w.base_dir)
            tagged = src.withColumn("__seq", F.lit(int(mor.get("seq", 0)) + 1))
            spec = {**mor, "order_by": list(order_by or [])}
            src = _mor_resolve_tagged(
                stack.unionByName(tagged, allowMissingColumns=True), spec
            ).select(*src.columns)
            combos = combos.unionByName(stack.select(*parts))
            w.mor = {**mor, "pending": 0}
        base = self.spark.read.parquet(w.base_dir)  # _delta is hidden
        if parts:
            base = self._restrict_to_partitions_of(
                base, combos.distinct(), parts
            )
        else:
            log.warning(
                "upsert on unpartitioned table %s rewrites the full table per "
                "batch; upsert with partition_by for the "
                "O(affected-partitions) steady state",
                self.root,
            )
        merged = merge_dataframes(
            base, src, keys, order_by=order_by, event_time_wins=event_time_wins
        )
        # repartition on the partition columns: each combo lands in ONE
        # task → one file per partition instead of (shuffle.partitions ×
        # combos) slivers; steady-state read/merge cost tracks partition
        # count, not trigger count. (Huge single partitions at real
        # scale: bound file size with spark.sql.files.maxRecordsPerFile.)
        self._rewrite_partitions(
            merged.repartition(*parts) if parts else merged, parts, w
        )

    def upsert_delta(
        self,
        source: DataFrame,
        keys: list[str],
        partition_by: list[str],
        order_by: list[str] | None = None,
        event_time_wins: bool = False,
        txn: tuple[str, int] | None = None,
        fold_after: int = 16,
    ) -> None:
        """Merge-on-read upsert — the low-latency CDC steady state.

        A copy-on-write merge (:meth:`upsert`) pays O(affected
        partitions) per trigger; when micro-batches are small and spread
        across partitions that floor dominates (measured ~1 s/batch at
        1 k-event triggers). This is the Hudi-MoR / Delta-deletion-vector
        trade instead: per trigger, write ONLY the batch as a
        sequence-numbered delta file set under ``<data dir>/_delta/`` and
        hardlink everything else forward — O(batch) work regardless of
        table size. Readers resolve base ∪ deltas to one row per key (one
        `max_by` hash-agg — see `_mor_resolve_tagged`); every
        ``fold_after``-th batch folds the pending deltas into the base
        with the copy-on-write merge, bounding both the read tax and the
        file count.

        Same conflict semantics as the merge it defers (arrival-wins by
        delta sequence; ``event_time_wins`` resolves by max event time
        with source-wins ties), same txn idempotency markers, same
        optimistic-concurrency commit."""
        from ..operators.merge import latest_per_key

        src = latest_per_key(source, keys, order_by)
        spec = {
            "keys": list(keys),
            "order_by": list(order_by or []),
            "event_time_wins": bool(event_time_wins),
        }
        with self._new_version("upsert_delta", txn) as w:
            w.partition_by = list(partition_by)
            if not w.base:
                self._write_df(src, w.data, partition_by)
                w.mor = {**spec, "seq": 0, "pending": 0}
                return
            mor = w.mor or {**spec, "seq": 0, "pending": 0}
            if not _same_rule(mor, keys, event_time_wins):
                raise ValueError(
                    "upsert_delta merge spec differs from the table's "
                    f"merge-on-read spec {mor}: upsert folds pending deltas "
                    "under that spec, compact() resets it"
                )
            seq = int(mor.get("seq", 0)) + 1
            pending = int(mor.get("pending", 0)) + 1
            spec = {**mor, "keys": spec["keys"], "order_by": spec["order_by"]}

            if pending >= fold_after:
                # fold trigger: the copy-on-write merge of this batch, which
                # folds the pending deltas in with it. Cost amortizes to
                # merge/fold_after per trigger.
                self._merge(w, source, keys, order_by, event_time_wins)
                w.mor = {**spec, "seq": seq, "pending": 0}
                return

            # fast path: the batch IS the write. coalesce(1): a trigger-bounded
            # micro-batch emitting shuffle.partitions sliver files would undo
            # the O(batch) win at the file-count level.
            src.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(w.data, self._DELTA, f"d{seq:06d}")
            )
            self._link_tree(w.base_dir, w.data)  # base + prior deltas, layout kept
            w.mor = {**spec, "seq": seq, "pending": pending}

    def _fold_pending(self) -> None:
        """Fold pending merge-on-read deltas into a clean base version.
        Append and DML call this first: their link passes assume data
        dirs hold exactly the resolved content."""
        if not (self._snapshot()[1].get("mor") or {}).get("pending"):
            return
        with self._new_version("fold") as w:
            self._write_df(self._read_resolved(w.prev), w.data, w.partition_by)
            if w.mor:
                w.mor = {**w.mor, "pending": 0}

    # -- DML (copy-on-write DELETE / UPDATE, the Delta analog) ---------------

    @contextlib.contextmanager
    def _folded_version(self, operation: str):
        """:meth:`_new_version` over a folded snapshot. DML link passes
        skip ``_delta`` dirs, so a delta committed between the fold and
        the snapshot would be dropped: that write is stale and raises."""
        self._fold_pending()
        with self._new_version(operation) as w:
            if (w.mor or {}).get("pending"):
                raise ConcurrentWriteError(
                    f"table {self.root}: a merge-on-read delta landed after "
                    "the fold; retry"
                )
            yield w

    def _partition_rels(
        self, combo_df: DataFrame, partition_by: list[str]
    ) -> set[str]:
        """Escaped leaf-dir relpaths for a frame of partition combos, via a
        tiny marker write: Spark applies its own path escaping
        (__HIVE_DEFAULT_PARTITION__ for nulls, %XX for specials), so the
        only robust combo→dir mapping is to let the writer produce the
        dirs. O(#combos) rows, one small job."""
        marker = tempfile.mkdtemp(dir=self.root, prefix="._affected")
        try:
            combo_df.withColumn("__m", F.lit(1)).write.mode(
                "overwrite"
            ).partitionBy(*partition_by).parquet(marker)
            return set(self._leaf_partition_dirs(marker))
        finally:
            shutil.rmtree(marker, ignore_errors=True)

    def delete_where(self, condition) -> None:
        """DELETE WHERE: remove rows where ``condition`` is TRUE (NULL
        keeps the row — SQL DELETE semantics). Copy-on-write: only the
        partitions containing matching rows are rewritten; the rest are
        hardlinked forward. The affected-partition set is derived from the
        MATCHING rows (marker write), not the rewritten tree — a partition
        whose rows are all deleted writes no output dir and must still be
        excluded from the hardlink pass, or its rows would resurrect."""
        cond = F.coalesce(condition, F.lit(False))
        with self._folded_version("delete_where") as w:
            parts = w.partition_by
            tgt = self._read_resolved(w.prev)
            if not parts:
                self._write_df(tgt.filter(~cond), w.data)
                return
            # persist: the matching-combo frame feeds the marker write AND
            # the partition restriction (limit-collect / semi-join) —
            # without it each consumer re-runs the full-table predicate scan
            combo_df = tgt.filter(cond).select(*parts).distinct().persist()
            try:
                survivors = self._restrict_to_partitions_of(
                    tgt, combo_df, parts
                ).filter(~cond)
                self._rewrite_partitions(
                    survivors, parts, w, self._partition_rels(combo_df, parts)
                )
            finally:
                combo_df.unpersist()

    def update_where(self, condition, set_exprs: dict) -> None:
        """UPDATE ... SET: for rows where ``condition`` is TRUE (NULL →
        untouched), replace each column in ``set_exprs`` with its
        expression — all expressions evaluate against the ORIGINAL row
        (SQL UPDATE semantics), not earlier assignments. Partition columns
        cannot be assigned (an update that moves a row across partitions
        is a delete+insert — use upsert for that); this keeps the rewrite
        prunable to the affected partitions, hardlinking the rest."""
        parts = self._partition_columns()
        bad = set(set_exprs) & set(parts)
        if bad:
            raise ValueError(
                f"update_where cannot assign partition columns {sorted(bad)}"
            )
        cond = F.coalesce(condition, F.lit(False))

        def _apply(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.when(cond, set_exprs[c]).otherwise(F.col(c)).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in df.columns
                ]
            )

        with self._folded_version("update_where") as w:
            tgt = self._read_resolved(w.prev)
            if not parts:
                self._write_df(_apply(tgt), w.data)
                return
            combo_df = tgt.filter(cond).select(*parts).distinct()
            affected = self._restrict_to_partitions_of(tgt, combo_df, parts)
            # updates never empty a partition, so the rewritten tree's dirs
            # ARE the affected set
            self._rewrite_partitions(_apply(affected), parts, w)

    def overwrite_clustered(
        self,
        df: DataFrame,
        cluster_by: list[str],
        partition_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> None:
        """Overwrite with rows RANGE-CLUSTERED on ``cluster_by``: a range
        repartition spreads the key space across files and a
        sort-within-partitions orders rows inside each file, so every
        parquet row group carries tight, near-disjoint min/max stats on
        the cluster keys. Scans with predicates on those keys then skip
        whole row groups / files at the reader (the ZORDER-lite layout
        Delta's OPTIMIZE ... ZORDER BY and Iceberg's sort orders give).

        Scale: the range exchange samples key quantiles (one extra job
        over a sample), then writes fully in parallel; clustering cost is
        one shuffle — paid once per compaction window, amortized over
        every subsequent pruned scan. For multi-column clustering the
        leading column dominates skipping (lexicographic order), so put
        the most-filtered column first."""
        parts = (
            df.repartitionByRange(num_files, *cluster_by)
            if num_files
            else df.repartitionByRange(*cluster_by)
        )
        v = self.overwrite(
            parts.sortWithinPartitions(*cluster_by), partition_by=partition_by
        )
        # persist the per-file min/max manifest for the cluster keys so
        # read_pruned can file-skip without touching footers again
        self._write_stats(self._version_dir(v), cluster_by)

    # -- file-skipping stats (the Delta/Iceberg data-skipping analog) --------
    _STATS = "_file_stats.json"

    def _collect_file_stats(self, vdir: str, cols: list[str]) -> dict:
        """Per-file min/max for ``cols`` from parquet FOOTERS — O(files)
        metadata reads (~KB each), never data. At real scale these stats
        are collected by the writing executors into the commit log (Delta's
        add-file stats); reading footers at commit time is the
        single-process equivalent with the same asymptotics."""
        import pyarrow.parquet as pq

        stats: dict[str, dict] = {}
        for path in _iter_parquet_files(vdir):
                meta = pq.ParquetFile(path).metadata
                idx = {
                    meta.schema.column(j).name: j
                    for j in range(meta.num_columns)
                }
                per_file: dict[str, list] = {}
                for c in cols:
                    if c not in idx:
                        continue
                    lo = hi = None
                    for rg in range(meta.num_row_groups):
                        st = meta.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if lo is not None:
                        per_file[c] = [lo, hi]
                if per_file:
                    stats[os.path.relpath(path, vdir)] = per_file
        # JSON round-trips str/int/float; anything else stored as str
        def _js(v):
            return v if isinstance(v, (int, float, str)) else str(v)

        return {
            f: {c: [_js(lo), _js(hi)] for c, (lo, hi) in cs.items()}
            for f, cs in stats.items()
        }

    def _write_stats(self, vdir: str, cols: list[str]) -> dict:
        stats = self._collect_file_stats(vdir, cols)
        fd, tmp = tempfile.mkstemp(dir=vdir, prefix="._stats")
        with os.fdopen(fd, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, os.path.join(vdir, self._STATS))
        return stats

    def pruned_files(self, col: str, lo=None, hi=None) -> tuple[list[str], int]:
        """Single-column :meth:`pruned_files_multi` (None = unbounded)."""
        return self.pruned_files_multi({col: (lo, hi)})

    @staticmethod
    def _span_intersects(fmin, fmax, lo, hi) -> bool:
        """Whether a file's [fmin, fmax] stats span can intersect [lo, hi].
        Stats are JSON-round-tripped (dates/decimals stored via str()), so a
        typed bound may not be comparable to the stored value — mismatched
        type categories (or a raising comparison) conservatively KEEP the
        file rather than mis-skip it."""
        def _compat(a, b):
            num = (int, float)
            if isinstance(a, num) and isinstance(b, num):
                return True
            return type(a) is type(b)

        try:
            if lo is not None:
                if not _compat(fmax, lo):
                    return True
                if fmax < lo:
                    return False
            if hi is not None:
                if not _compat(fmin, hi):
                    return True
                if fmin > hi:
                    return False
        except TypeError:
            return True
        return True

    def pruned_files_multi(
        self, bounds: dict[str, tuple]
    ) -> tuple[list[str], int]:
        """File paths of the current version whose stats spans intersect
        EVERY column's [lo, hi] (conjunctive skipping — the multi-column
        data-skipping Delta/Iceberg stats give; None = unbounded). Files
        lacking stats for a column are kept for that column
        (conservative), but can still be skipped by another column's
        bound. Returns (kept_paths, total_files). Stats are read from the
        version's manifest, computed on demand (and persisted best-effort)
        if the version was written without one."""
        vdir = self._data_dir(self._snapshot()[1])
        try:
            with open(os.path.join(vdir, self._STATS)) as f:
                stats = json.load(f)
        except (FileNotFoundError, ValueError):
            stats = self._write_stats(vdir, list(bounds))
        kept, total = [], 0
        for path in _iter_parquet_files(vdir):
            total += 1
            spans = stats.get(os.path.relpath(path, vdir), {})
            if all(
                spans.get(col) is None
                or self._span_intersects(*spans[col], lo, hi)
                for col, (lo, hi) in bounds.items()
            ):
                kept.append(path)
        return kept, total

    def read_pruned_multi(self, bounds: dict[str, tuple]) -> DataFrame:
        """Range scan with FILE-LEVEL skipping: plans only the files whose
        stats spans intersect every column's [lo, hi], then applies the
        exact AND-composed predicate. On a range-clustered table
        (overwrite_clustered) a narrow range touches O(range/keyspace) of
        the files instead of all of them — the scan cost a 100 TB
        point-lookup workload needs. Empty file list short-circuits to an
        empty frame with the table schema."""
        kept, _total = self.pruned_files_multi(bounds)
        pred = F.lit(True)
        for col, (lo, hi) in bounds.items():
            if lo is not None:
                pred = pred & (F.col(col) >= F.lit(lo))
            if hi is not None:
                pred = pred & (F.col(col) <= F.lit(hi))
        if not kept:
            return self.read().filter(F.lit(False))
        # basePath: explicit leaf-file reads on a partitioned table would
        # otherwise DROP the Hive-style partition columns from the schema
        # (and silently break filters on them) — anchoring the base dir
        # makes Spark reconstruct them exactly as read() does.
        v = self.current_version()
        return (
            self.spark.read.option("basePath", self._version_dir(v))
            .parquet(*kept)
            .filter(pred)
        )

    def read_pruned(self, col: str, lo=None, hi=None) -> DataFrame:
        """Single-column :meth:`read_pruned_multi`."""
        return self.read_pruned_multi({col: (lo, hi)})

    def compact(
        self,
        target_rows_per_file: int = 1_000_000,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ) -> None:
        """Bin-pack the current version into ~target-sized files (the
        OPTIMIZE analog). Incremental appends/merges accumulate small
        files (one per micro-batch task); a periodic compaction keeps scan
        task counts and footer overhead bounded. Row-count proxy sizing:
        files ≈ ceil(rows / target_rows_per_file).

        With ``cluster_by``, the compaction also range-clusters on those
        keys (the OPTIMIZE ... ZORDER BY combo): same write cost, and
        every subsequent read_pruned range scan on the keys file-skips."""
        with self._new_version("compact") as w:
            df = self._read_resolved(w.prev)
            n_files = max(1, -(-df.count() // target_rows_per_file))
            if cluster_by:
                df = df.repartitionByRange(n_files, *cluster_by)
                df = df.sortWithinPartitions(*cluster_by)
            else:
                df = df.repartition(n_files, *(partition_by or []))
            self._write_df(df, w.data, partition_by)
            w.partition_by, w.mor = list(partition_by or []), None
        if cluster_by:
            self._write_stats(w.data, cluster_by)

    def live_file_count(self) -> int:
        """Parquet files in the current version — an O(files) directory
        walk, no data reads (the metric the compaction trigger watches)."""
        entry = self._snapshot()[1]
        if not entry:
            return 0
        return sum(1 for _ in _iter_parquet_files(self._data_dir(entry)))

    def maybe_compact(
        self,
        trigger_files: int = 64,
        target_rows_per_file: int = 1_000_000,
        partition_by: list[str] | None = None,
    ) -> bool:
        """Steady-state compaction trigger: compact when the live file
        count reaches ``trigger_files``, else no-op. Returns whether a
        compaction ran.

        The cadence this induces is SELF-BOUNDING for an append-per-batch
        sink (e.g. the CDC quarantine, +1 file per micro-batch): the
        count saw-tooths between ~target and ``trigger_files`` forever,
        so scan task counts and footer overhead stay O(trigger) no matter
        how many batches run. The probe is a directory walk — cheap
        enough to call every batch. (The pruned fact merge does not need
        it: each merge REWRITES its affected partitions, so its per-
        partition file count resets to the writer's task count every
        batch instead of accumulating.)"""
        if self.live_file_count() < trigger_files:
            return False
        self.compact(
            target_rows_per_file=target_rows_per_file,
            partition_by=partition_by or (self._partition_columns() or None),
        )
        return True


# --- time travel -----------------------------------------------------------


def _versions(table: ParquetTable) -> list[int]:
    """Committed versions whose data is still on disk (within the vacuum
    retention), resolved through the log: the newest back to the first
    vacuumed one."""
    out = []
    v = table.current_version() or 0
    while v > 0 and os.path.isdir(table._version_dir(v)):
        out.append(v)
        v -= 1
    return out[::-1]


def read_version(table: ParquetTable, version: int) -> DataFrame:
    """Snapshot (time-travel) read of a specific committed version —
    the Delta/Iceberg `VERSION AS OF` analog the commit log gives for
    free. Only versions within the vacuum retention (keep=2 by default)
    are readable; older ones raise."""
    if version not in _versions(table):
        raise FileNotFoundError(
            f"version v{version} of {table.root} is not available "
            f"(retained: {_versions(table)})"
        )
    # _read_resolved: a merge-on-read version's deltas are part of its
    # logical snapshot — time travel must see merged content too
    return table._read_resolved(table._entry(version))


def diff_versions(
    table: ParquetTable,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions: one row per key
    whose state changed, with op ∈ ('I','U','D') — the `table_changes()` /
    CDF analog of Delta, derived from the commit log (both
    snapshots are immutable dirs, so the diff is reproducible).

    Shape: full outer join on the keys between the two snapshots; a row is
    I (key only in `to`), D (key only in `from`), U (present in both with
    any non-key column differing — compared null-safely). Unchanged keys
    are dropped. Columns: keys + op + the `to` side's non-key columns
    (null for D).

    Scale: one key-keyed join of two snapshots — the same cost class as
    the merge that produced the new version. On a key-partitioned or
    bucketed layout the join co-locates; downstream consumers get O(changes)
    rows, which is the point of a change feed."""
    old = read_version(table, from_version)
    new = read_version(
        table,
        to_version if to_version is not None else table.current_version(),
    )
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.struct(*[F.col(c) for c in val_cols]).alias("__o")
    )
    n = new.select(
        *keys, F.struct(*[F.col(c) for c in val_cols]).alias("__n")
    )
    j = o.join(n, on=keys, how="full_outer")
    op = (
        F.when(F.col("__o").isNull(), F.lit("I"))
        .when(F.col("__n").isNull(), F.lit("D"))
        .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            "op",
            *[F.col(f"__n.{c}").alias(c) for c in val_cols],
        )
    )


def table_history(table: ParquetTable) -> list[dict]:
    """DESCRIBE HISTORY analog: one dict per retained version —
    {version, operation, committed_at (epoch sec), n_files, n_rows,
    size_bytes} — from the log entry and parquet FOOTERS (O(files)
    metadata reads, never data; the same cost class as the skipping
    manifest). Hardlinked files are counted per version they appear in,
    mirroring what a reader of that version sees."""
    import pyarrow.parquet as pq

    out = []
    for v in _versions(table):
        entry = table._entry(v)
        n_files = n_rows = size = 0
        for p in _iter_parquet_files(table._data_dir(entry)):
            n_files += 1
            n_rows += pq.ParquetFile(p).metadata.num_rows
            size += os.path.getsize(p)
        out.append(
            {
                "version": v,
                "operation": entry["operation"],
                "committed_at": entry["committed_at"],
                "n_files": n_files,
                "n_rows": n_rows,
                "size_bytes": size,
            }
        )
    return out
