"""ParquetTable commit log: one append-only entry per version, published
by an atomic hard link — races, crash points, retention and probing."""

from __future__ import annotations

import errno
import json
import os

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.sources import tables
from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
    ConcurrentWriteError,
    ParquetTable,
    _versions,
    table_history,
)

KW = dict(keys=["k"], partition_by=["p"], order_by=["ts"])


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, ts int, val string, p int")


def _state(t):
    return sorted((r.k, r.val) for r in t.read().collect())


def _data_dirs(root):
    return {n for n in os.listdir(root) if n != "_log"}


def _log_files(root):
    return sorted(os.listdir(os.path.join(root, "_log")))


def test_blind_overwrite_republishes_with_winner_txn_markers(spark, tmp_path):
    """A blind overwrite that loses its number publishes at the next one
    and carries the winner's txn marker forward."""
    root = str(tmp_path / "gold")
    a, b = ParquetTable(spark, root), ParquetTable(spark, root)
    a.upsert_delta(_mk(spark, [(1, 1, "a", 0)]), txn=("appA", 4), **KW)
    publish = a._publish

    def interleaved(w, *args):
        b.upsert_delta(_mk(spark, [(2, 1, "b", 1)]), txn=("appB", 7), **KW)
        return publish(w, *args)

    a._publish = interleaved
    v = a.overwrite(_mk(spark, [(9, 1, "z", 0)]), txn=("appA", 5))
    assert v == 3
    fresh = ParquetTable(spark, root)
    assert _state(fresh) == [(9, "z")]
    assert fresh.last_txn("appA") == 5 and fresh.last_txn_base("appA") == 2
    assert fresh.last_txn("appB") == 7 and fresh.last_txn_base("appB") == 1


def test_dml_raises_when_a_delta_lands_after_its_fold(spark, tmp_path):
    """DML folds pending deltas, then snapshots; a delta committed in
    between would be dropped by the link pass, so the DML raises."""
    root = str(tmp_path / "fact")
    a, b = ParquetTable(spark, root), ParquetTable(spark, root)
    a.upsert_delta(_mk(spark, [(1, 1, "a", 0), (2, 1, "b", 1)]), **KW)
    a.upsert_delta(_mk(spark, [(3, 1, "c", 1)]), **KW)
    fold = a._fold_pending

    def interleaved():
        fold()
        b.upsert_delta(_mk(spark, [(4, 1, "d", 1)]), **KW)

    a._fold_pending = interleaved
    with pytest.raises(ConcurrentWriteError):
        a.delete_where(F.col("k") == 1)
    assert _state(ParquetTable(spark, root)) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    ]


def _crash_after_data(monkeypatch, t):
    def boom(*_a, **_k):
        raise RuntimeError("crash after the data write")

    monkeypatch.setattr(t, "_publish", boom)


def _crash_after_temp_entry(monkeypatch, t):
    real = json.dump

    def dump_then_crash(obj, f, *a, **k):
        real(obj, f, *a, **k)
        if isinstance(obj, dict) and "operation" in obj:
            raise RuntimeError("crash after the temp-entry write")

    monkeypatch.setattr(tables.json, "dump", dump_then_crash)


def _crash_at_link(monkeypatch, t):
    real = os.link

    def link(src, dst, *a, **k):
        if os.path.dirname(dst) == t._log_dir:
            raise OSError(errno.EIO, "crash at the publish link")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(tables.os, "link", link)


def _crash_in_vacuum(monkeypatch, t):
    def rmtree(*_a, **_k):
        raise RuntimeError("crash in vacuum")

    monkeypatch.setattr(tables.shutil, "rmtree", rmtree)


@pytest.mark.parametrize(
    "inject, published",
    [
        (_crash_after_data, False),
        (_crash_after_temp_entry, False),
        (_crash_at_link, False),
        (_crash_in_vacuum, True),
    ],
    ids=["after_data", "after_temp_entry", "at_link", "in_vacuum"],
)
def test_crash_point_leaves_pre_or_post_state(spark, tmp_path, monkeypatch,
                                              inject, published):
    root = str(tmp_path / "fact")
    t = ParquetTable(spark, root)
    for i in range(3):  # v3: the vacuum of the next commit removes v2's dir
        t.upsert_delta(_mk(spark, [(i, i, f"v{i}", i % 2)]), **KW)
    pre = _state(t)
    dirs_before = _data_dirs(root)
    with monkeypatch.context() as m:
        inject(m, t)
        with pytest.raises((RuntimeError, OSError)):
            t.upsert_delta(_mk(spark, [(0, 9, "new", 0)]), **KW)
    post = sorted([(0, "new")] + pre[1:])
    fresh = ParquetTable(spark, root)
    assert _state(fresh) == (post if published else pre)
    assert fresh.current_version() == (4 if published else 3)
    assert not [n for n in _log_files(root) if n.startswith(".")]
    if not published:
        assert _data_dirs(root) == dirs_before  # the loser removed its dir
    fresh.upsert_delta(_mk(spark, [(7, 1, "next", 1)]), **KW)
    assert _state(ParquetTable(spark, root)) == sorted(
        (post if published else pre) + [(7, "next")]
    )
    # the next vacuum also removes what the failed one left behind
    assert _versions(fresh) == [fresh.current_version() - 1,
                                fresh.current_version()]
    assert len(_data_dirs(root)) == 2


def test_vacuum_keeps_two_data_dirs_and_every_log_entry(spark, tmp_path):
    root = str(tmp_path / "t")
    t = ParquetTable(spark, root)
    t.overwrite(spark.range(3).withColumnRenamed("id", "k"))
    for i in range(4):
        t.append(spark.range(10 + i, 11 + i).withColumnRenamed("id", "k"))
    assert t.current_version() == 5
    assert _versions(t) == [4, 5]
    assert _data_dirs(root) == {
        os.path.basename(t._version_dir(v)) for v in (4, 5)
    }
    assert _log_files(root) == [f"{v:020d}.json" for v in range(1, 6)]
    hist = table_history(t)
    assert [h["operation"] for h in hist] == ["append", "append"]
    assert [h["n_rows"] for h in hist] == [6, 7]
    assert hist[0]["committed_at"] <= hist[1]["committed_at"]


def test_current_version_probes_forward_without_listing(tmp_path, monkeypatch):
    t = ParquetTable(None, str(tmp_path / "t"))
    for v in range(1, 38):
        open(t._entry_path(v), "w").close()
    monkeypatch.setattr(
        tables.os, "listdir",
        lambda *_a: pytest.fail("current_version listed a directory"),
    )
    calls = []
    real = os.path.exists
    monkeypatch.setattr(
        tables.os.path, "exists", lambda p: calls.append(p) or real(p)
    )
    assert t.current_version() == 37
    assert len(calls) <= 2 * 6 + 2  # gallop + bisect over 37 entries
    calls.clear()
    assert t.current_version() == 37
    assert len(calls) == 1  # steady state: one stat
    open(t._entry_path(38), "w").close()
    assert t.current_version() == 38
    assert ParquetTable(None, t.root).current_version() == 38
