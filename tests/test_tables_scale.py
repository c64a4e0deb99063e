"""ParquetTable scale paths: O(batch) append and partition-pruned upsert
(hardlink-forward of untouched partitions)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable


def _inodes(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _d, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def test_append_links_previous_version(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(100).withColumn("v", F.col("id") * 2))
    v1_dir = t._version_dir(t.current_version())
    v1_inodes = _inodes(v1_dir)

    t.append(spark.range(100, 150).withColumn("v", F.col("id") * 2))
    assert t.read().count() == 150
    v2_dir = t._version_dir(t.current_version())
    v2_inodes = _inodes(v2_dir)
    # every v1 file is present in v2 as a hardlink (same inode), plus new files
    assert set(v1_inodes.values()) <= set(v2_inodes.values())
    assert len(v2_inodes) > len(v1_inodes)


def test_upsert_pruned_rewrites_only_touched_partitions(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "fact"))
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3 + 1).cast("int").alias("month"),
        F.lit(1).alias("ver"),
        F.col("id").cast("timestamp").alias("ts"),
    )
    t.upsert(base, keys=["k"], partition_by=["month"], order_by=["ts"])
    v1_dir = t._version_dir(t.current_version())
    v1 = _inodes(v1_dir)

    # batch touches ONLY month=2 (updates + one insert)
    batch = spark.range(0, 20).select(
        (F.col("id") * 3 + 1).alias("k"),  # id*3+1 % 3 == 1 → month 2
        F.lit(2).cast("int").alias("month"),
        F.lit(2).alias("ver"),
        (F.col("id") + 5000).cast("timestamp").alias("ts"),
    )
    t.upsert(batch, keys=["k"], partition_by=["month"], order_by=["ts"])
    out = t.read()
    assert out.count() == 1000  # 20 updates, 0 net inserts
    assert out.filter("ver = 2").count() == 20
    assert out.filter("ver = 2").filter("month <> 2").count() == 0

    v2_dir = t._version_dir(t.current_version())
    v2 = _inodes(v2_dir)
    # untouched months are hardlinks of v1 files; month=2 files are new
    for rel, ino in v2.items():
        if "month=1" in rel or "month=3" in rel:
            assert ino in set(v1.values()), f"{rel} should be linked, not rewritten"
        elif "month=2" in rel:
            assert ino not in set(v1.values()), f"{rel} should be rewritten"


def test_upsert_pruned_matches_full_upsert(spark, tmp_path):
    rows = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 10).alias("payload"),
        F.col("id").cast("timestamp").alias("ts"),
    )
    batch = spark.range(100, 700).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 10 + 1).alias("payload"),
        (F.col("id") + 9000).cast("timestamp").alias("ts"),
    )
    full = ParquetTable(spark, str(tmp_path / "full"))
    full.upsert(rows, keys=["k"], order_by=["ts"])
    full.upsert(batch, keys=["k"], order_by=["ts"])

    pruned = ParquetTable(spark, str(tmp_path / "pruned"))
    pruned.upsert(rows, keys=["k"], partition_by=["p"], order_by=["ts"])
    pruned.upsert(batch, keys=["k"], partition_by=["p"], order_by=["ts"])

    cols = ["k", "p", "payload"]
    got = sorted(tuple(r) for r in pruned.read().select(*cols).collect())
    want = sorted(tuple(r) for r in full.read().select(*cols).collect())
    assert got == want

    # a duplicated source key resolves to one row per key on the FIRST
    # write into an empty unpartitioned table too, and stays resolved
    dup = ParquetTable(spark, str(tmp_path / "dup"))
    dup.upsert(
        spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string"),
        ["k"],
    )
    assert sorted(r.k for r in dup.read().collect()) == [1, 2]
    dup.upsert(spark.createDataFrame([(3, "d")], "k int, v string"), ["k"])
    assert sorted(r.k for r in dup.read().collect()) == [1, 2, 3]


def test_compact_reduces_file_count(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "c"))
    t.overwrite(spark.range(1000).repartition(16))
    for i in range(3):  # accumulate small files
        t.append(spark.range(1000 + i * 10, 1010 + i * 10).repartition(4))
    before = len(_inodes(t._version_dir(t.current_version())))
    assert before >= 20
    t.compact(target_rows_per_file=10_000)
    vdir = t._version_dir(t.current_version())
    assert len(_inodes(vdir)) == 1
    assert t.read().count() == 1030


def test_upsert_pruned_null_partition_values_no_duplicates(spark, tmp_path):
    """A null partition value (e.g. malformed date → null year) must still
    merge: the eqNullSafe predicate selects the existing null-partition rows
    and the hardlink pass must NOT also carry the old null-partition dir
    forward (rel strings are derived from the written tree, so
    __HIVE_DEFAULT_PARTITION__ matches)."""
    t = ParquetTable(spark, str(tmp_path / "nullpart"))
    base = spark.createDataFrame(
        [(1, 2024, "a"), (2, 2024, "b"), (3, None, "c"), (4, None, "d")],
        "k int, year int, payload string",
    )
    t.upsert(base, keys=["k"], partition_by=["year"])

    # update one null-partition key and insert another null-partition key
    batch = spark.createDataFrame(
        [(3, None, "c2"), (5, None, "e")], "k int, year int, payload string"
    )
    t.upsert(batch, keys=["k"], partition_by=["year"])
    out = t.read()
    assert out.count() == 5  # no duplicated k=3/k=4
    assert out.filter("k = 3").select("payload").first()[0] == "c2"
    assert out.filter("year IS NULL").count() == 3
    # untouched 2024 partition survived via hardlink
    assert {r[0] for r in out.filter("year = 2024").select("k").collect()} == {1, 2}


def test_upsert_pruned_escaped_partition_values(spark, tmp_path):
    """Partition values containing chars Spark escapes in dir names
    (':' → %3A) must not be duplicated by the hardlink pass."""
    t = ParquetTable(spark, str(tmp_path / "escpart"))
    base = spark.createDataFrame(
        [(1, "a:b", "x"), (2, "plain", "y")], "k int, part string, payload string"
    )
    t.upsert(base, keys=["k"], partition_by=["part"])
    batch = spark.createDataFrame([(1, "a:b", "x2")], "k int, part string, payload string")
    t.upsert(batch, keys=["k"], partition_by=["part"])
    out = t.read()
    assert out.count() == 2
    assert out.filter("k = 1").select("payload").first()[0] == "x2"


def test_concurrent_writer_fails_loudly(spark, tmp_path):
    """Optimistic-concurrency commit: a writer whose snapshot went stale
    (another commit landed mid-write) raises instead of silently dropping
    the winner's rows, and removes its own data dir."""
    import pytest

    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "race")
    t = ParquetTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t2 = ParquetTable(spark, root)
    publish = t._publish
    seen = {}

    def interleaved(w, *args):
        # A has snapshotted v1 and written its data dir; B commits in full
        seen["data"] = w.data
        assert os.path.isdir(w.data)
        t2.upsert(spark.createDataFrame([(2, "b")], "k int, v string"), ["k"])
        return publish(w, *args)

    t._publish = interleaved
    with pytest.raises(ConcurrentWriteError):
        t.upsert(spark.createDataFrame([(3, "c")], "k int, v string"), ["k"])
    # the winner's committed version is intact and current
    fresh = ParquetTable(spark, root)
    assert fresh.current_version() == 2
    assert sorted(r.k for r in fresh.read().collect()) == [1, 2]
    assert not os.path.exists(seen["data"])


def test_upsert_routes_to_pruned_for_partitioned_tables(spark, tmp_path):
    """Default upsert() on a table written with partition_by must take the
    O(affected-partitions) path: untouched partition files survive as
    hardlinks (same inode), not rewrites."""
    t = ParquetTable(spark, str(tmp_path / "route"))
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")], "k int, m int, payload string"
    )
    t.overwrite(base, partition_by=["m"])
    v1 = _inodes(t._version_dir(t.current_version()))

    t.upsert(
        spark.createDataFrame([(2, 2, "b2")], "k int, m int, payload string"),
        keys=["k"],
    )
    out = t.read()
    assert out.count() == 3
    assert out.filter("k = 2").select("payload").first()[0] == "b2"
    v2 = _inodes(t._version_dir(t.current_version()))
    untouched_v1 = {ino for rel, ino in v1.items() if "m=2" not in rel}
    assert untouched_v1 <= set(v2.values())  # hardlinked, not rewritten


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Co-located join via bucketing: both sides bucketed+sorted on the
    join key produce a sort-merge join with NO shuffle exchange — the
    co-location strategy that turns the nightly fact⋈dim join at 100 TB
    into a map-side merge (each task reads matching bucket files)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "orders_b"))
        .mode("overwrite").saveAsTable("orders_bucketed")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "lineitem_b"))
        .mode("overwrite").saveAsTable("lineitem_bucketed")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        # forbid broadcast so the plan must rely on co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("lineitem_bucketed").join(
            spark.table("orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        n = joined.count()
        assert n == lineitem.count()  # every lineitem has its order
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")


def test_time_travel_read_previous_version(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import (
        ParquetTable,
        _versions,
        read_version,
    )

    t = ParquetTable(spark, str(tmp_path / "tt"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v1 = t.current_version()
    t.upsert(
        spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string"), ["k"]
    )
    assert t.current_version() == v1 + 1
    # current state reflects the merge; snapshot still shows pre-merge
    assert {r["v"] for r in t.read().collect()} == {"a", "b2", "c"}
    assert {r["v"] for r in read_version(t, v1).collect()} == {"a", "b"}
    # a third commit vacuums v1 (keep=2) — time travel past retention raises
    t.upsert(spark.createDataFrame([(4, "d")], "k int, v string"), ["k"])
    assert v1 not in _versions(t)
    try:
        read_version(t, v1)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_clustered_write_produces_disjoint_rowgroup_stats(spark, sf_dir, tmp_path):
    """Range-clustering must yield tight, near-disjoint per-file min/max on
    the cluster key (the stats parquet readers use for data skipping); an
    unclustered write of the same data has massively overlapping ranges."""
    import glob

    import pyarrow.parquet as pq

    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )

    def key_ranges(table):
        v = table.current_version()
        spans = []
        for f in glob.glob(os.path.join(table._version_dir(v), "*.parquet")):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                col = meta.row_group(rg).column(0)  # o_orderkey
                spans.append((col.statistics.min, col.statistics.max))
        return sorted(spans)

    clustered = ParquetTable(spark, str(tmp_path / "clustered"))
    clustered.overwrite_clustered(orders, ["o_orderkey"], num_files=8)
    plain = ParquetTable(spark, str(tmp_path / "plain"))
    plain.overwrite(orders.repartition(8))

    def overlap_count(spans):
        return sum(
            1 for (a, b) in zip(spans, spans[1:]) if b[0] <= a[1]
        )

    c_spans, p_spans = key_ranges(clustered), key_ranges(plain)
    assert len(c_spans) >= 8
    # clustered: consecutive row-group ranges never interleave
    assert overlap_count(c_spans) == 0
    # round-robin: nearly every range overlaps its neighbor (no skipping)
    assert overlap_count(p_spans) >= len(p_spans) - 2
    # and the layout is lossless
    assert clustered.read().count() == orders.count()


def test_read_pruned_skips_files_on_clustered_table(spark, sf_dir, tmp_path):
    """File-level data skipping: on a range-clustered table a narrow key
    range plans a fraction of the files (manifest min/max pruning), and
    the pruned scan returns exactly what a full-scan filter returns."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite_clustered(orders, ["o_orderkey"], num_files=8)
    # manifest written at commit time
    assert os.path.exists(
        os.path.join(t._version_dir(t.current_version()), "_file_stats.json")
    )

    # a ~10%-of-keyspace slice must plan at most 2 of the 8 range files
    # (12.5% each; the slice can straddle one boundary)
    kmin, kmax = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).first()
    lo = kmin + (kmax - kmin) // 10
    hi = kmin + 2 * (kmax - kmin) // 10
    kept, total = t.pruned_files("o_orderkey", lo, hi)
    assert total >= 8
    assert len(kept) <= 2, (len(kept), total)

    expect = sorted(
        r.o_orderkey
        for r in orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        ).collect()
    )
    got = sorted(r.o_orderkey for r in t.read_pruned("o_orderkey", lo, hi).collect())
    assert got == expect and len(got) > 0


def test_read_pruned_on_statless_version_computes_manifest_on_demand(
    spark, sf_dir, tmp_path
):
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(orders.repartition(6))  # unclustered, no manifest
    kept, total = t.pruned_files("o_orderkey", 100, 500)
    # round-robin layout: every file spans the keyspace, nothing prunable,
    # but correctness must hold and the manifest now exists
    assert total == 6 and len(kept) == 6
    n_full = orders.filter(
        (F.col("o_orderkey") >= 100) & (F.col("o_orderkey") <= 500)
    ).count()
    assert t.read_pruned("o_orderkey", 100, 500).count() == n_full
    # disjoint range prunes everything and still answers correctly
    assert t.read_pruned("o_orderkey", -50, -10).count() == 0


def test_append_with_new_column_and_merge_schema_read(spark, tmp_path):
    """Additive schema evolution: an appended batch may carry columns the
    table didn't have; read(merge_schema=True) surfaces the union schema
    with nulls for pre-evolution rows (the allowSchemaDrift sink analog
    on the table layer)."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).select("id", (F.col("id") * 2).alias("a")))
    t.append(
        spark.range(5, 8).select(
            "id", (F.col("id") * 2).alias("a"), F.lit("drifted").alias("b")
        )
    )
    df = t.read(merge_schema=True)
    assert set(df.columns) == {"id", "a", "b"}
    rows = {r.id: r.b for r in df.collect()}
    assert len(rows) == 8
    assert rows[0] is None and rows[7] == "drifted"


def test_compact_with_clustering_enables_skipping(spark, tmp_path):
    """OPTIMIZE+ZORDER combo: compacting small append files WITH
    cluster_by leaves a layout where range scans file-skip."""
    t = ParquetTable(spark, str(tmp_path / "cz"))
    t.overwrite(spark.range(0, 4000).withColumn("v", F.col("id")).repartition(8))
    for i in range(3):
        t.append(
            spark.range(4000 + i * 100, 4100 + i * 100)
            .withColumn("v", F.col("id"))
            .repartition(4)
        )
    t.compact(target_rows_per_file=1000, cluster_by=["id"])
    kept, total = t.pruned_files("id", 0, 400)  # ~9% of keyspace
    assert total >= 4
    assert len(kept) <= 2, (len(kept), total)
    assert t.read().count() == 4300


def test_upsert_pruned_semi_join_fallback_many_partitions(spark, tmp_path):
    """A backfill batch spanning 500 partitions must NOT build a 500-term
    OR predicate: past _PRUNE_COMBO_LIMIT the merge prunes via a broadcast
    LEFT SEMI join on the partition columns. Correctness: updates land,
    untouched partitions survive as hardlinks."""
    t = ParquetTable(spark, str(tmp_path / "wide"))
    base = spark.range(1200).select(
        F.col("id").alias("k"),
        (F.col("id") % 600).cast("int").alias("pm"),
        F.lit(1).alias("ver"),
        F.col("id").cast("timestamp").alias("ts"),
    )
    t.upsert(base, keys=["k"], partition_by=["pm"], order_by=["ts"])
    v1 = _inodes(t._version_dir(t.current_version()))

    # batch touches partitions 0..499 (500 combos > the 100-combo limit)
    batch = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") % 600).cast("int").alias("pm"),
        F.lit(2).alias("ver"),
        (F.col("id") + 10_000).cast("timestamp").alias("ts"),
    )
    assert batch.select("pm").distinct().count() == 500 > t._PRUNE_COMBO_LIMIT
    t.upsert(batch, keys=["k"], partition_by=["pm"], order_by=["ts"])
    out = t.read()
    assert out.count() == 1200
    assert out.filter("ver = 2").count() == 500
    # the 100 partitions the batch did not touch (pm 500..599) are
    # hardlinked forward, not rewritten
    v2 = _inodes(t._version_dir(t.current_version()))
    linked = [r for r in v2 if v2[r] in set(v1.values())]
    assert any(r.startswith("pm=5") for r in linked)


def test_read_pruned_reconstructs_partition_columns(spark, tmp_path):
    """read_pruned plans explicit leaf files; on a partitioned table the
    basePath option must reconstruct the Hive-style partition columns so
    the pruned frame's schema matches read() and partition-column filters
    still work."""
    t = ParquetTable(spark, str(tmp_path / "pt"))
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("pm"),
        (F.col("id") * 10).alias("val"),
    )
    t.overwrite(df, partition_by=["pm"])
    pruned = t.read_pruned("val", 0, 1000)
    assert set(pruned.columns) == set(t.read().columns)
    got = pruned.filter(F.col("pm") == 1).count()
    expect = df.filter((F.col("pm") == 1) & (F.col("val") <= 1000)).count()
    assert got == expect and got > 0


def test_pruned_files_type_mismatch_keeps_file(spark, tmp_path):
    """Stats are JSON-round-tripped (dates stored via str()); a typed bound
    that cannot be compared to the stored value must conservatively KEEP
    the file, never skip it (and never raise)."""
    import datetime

    t = ParquetTable(spark, str(tmp_path / "dt"))
    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    )
    t.overwrite(df)
    # date stats stored as strings; a datetime.date bound is incomparable
    kept, total = t.pruned_files(
        "d", datetime.date(2024, 1, 3), datetime.date(2024, 1, 5)
    )
    assert len(kept) == total  # conservative keep
    n = t.read_pruned(
        "d", datetime.date(2024, 1, 3), datetime.date(2024, 1, 5)
    ).count()
    assert n == 3


def test_delete_where_prunes_and_handles_emptied_partition(spark, tmp_path):
    """DELETE rewrites only partitions containing matches; a partition
    whose rows are ALL deleted must vanish (not resurrect via the
    hardlink pass); untouched partitions hardlink forward; NULL-condition
    rows are kept (SQL semantics)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("pm"),
        F.when(F.col("id") % 50 == 0, None)
        .otherwise(F.col("id") * 1.0)
        .alias("val"),
    )
    t.overwrite(df, partition_by=["pm"])
    v1 = _inodes(t._version_dir(t.current_version()))

    # delete ALL of pm=2 and the high-val half of pm=1
    t.delete_where(
        (F.col("pm") == 2) | ((F.col("pm") == 1) & (F.col("val") > 150))
    )
    out = t.read()
    assert out.filter("pm = 2").count() == 0
    # NULL val rows in pm=1 survive (condition evaluates NULL -> keep);
    # id%50==0 & id%3==1 -> ids 100, 250
    assert out.filter("pm = 1 AND val IS NULL").count() == 2
    expect_pm1 = df.filter(
        (F.col("pm") == 1) & ~F.coalesce(F.col("val") > 150, F.lit(False))
    ).count()
    assert out.filter("pm = 1").count() == expect_pm1
    # pm=0 untouched: hardlinked, not rewritten
    v2 = _inodes(t._version_dir(t.current_version()))
    pm0_links = [r for r in v2 if r.startswith("pm=0")]
    assert pm0_links and all(v2[r] in set(v1.values()) for r in pm0_links)
    assert not any(r.startswith("pm=2") for r in v2)


def test_update_where_original_row_semantics_and_pruning(spark, tmp_path):
    """UPDATE SET expressions all read the ORIGINAL row (a SET that swaps
    two columns must not see its own assignments); only affected
    partitions rewrite; assigning a partition column raises."""
    import pytest as _pytest

    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("pm"),
        (F.col("id") * 1.0).alias("a"),
        (F.col("id") * 10.0).alias("b"),
    )
    t.overwrite(df, partition_by=["pm"])
    v1 = _inodes(t._version_dir(t.current_version()))

    t.update_where(
        (F.col("pm") == 1) & (F.col("k") < 100),
        {"a": F.col("b"), "b": F.col("a")},  # swap — needs original-row eval
    )
    out = t.read()
    r = out.filter("k = 51").first()  # pm=1, k<100: swapped
    assert (r.a, r.b) == (510.0, 51.0)
    r = out.filter("k = 151").first()  # pm=1, k>=100: untouched
    assert (r.a, r.b) == (151.0, 1510.0)
    assert out.count() == 200
    # pm=0 hardlinked
    v2 = _inodes(t._version_dir(t.current_version()))
    pm0 = [r for r in v2 if r.startswith("pm=0")]
    assert pm0 and all(v2[r] in set(v1.values()) for r in pm0)
    with _pytest.raises(ValueError):
        t.update_where(F.lit(True), {"pm": F.lit(9)})


def test_diff_versions_change_data_feed(spark, tmp_path):
    """CDF between snapshots: I for new keys, D for removed, U only for
    rows whose non-key state actually changed (null-safe compare);
    unchanged keys absent."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import diff_versions

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "c")],
            "k int, v double, s string",
        )
    )
    v1 = t.current_version()
    # 1 updated, 2 unchanged (null v stays null — must NOT diff as U),
    # 3 deleted, 4 inserted
    t.overwrite(
        spark.createDataFrame(
            [(1, 11.0, "a"), (2, None, "b"), (4, 40.0, "d")],
            "k int, v double, s string",
        )
    )
    got = {
        r.k: (r.op, r.v, r.s)
        for r in diff_versions(t, ["k"], v1).collect()
    }
    assert got == {
        1: ("U", 11.0, "a"),
        3: ("D", None, None),
        4: ("I", 40.0, "d"),
    }


def test_delete_where_all_rows_keeps_readable_schema(spark, tmp_path):
    """Deleting every row of a partitioned table must leave a READABLE
    empty version (schema-bearing file), not a fileless dir."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("pm")
        ),
        partition_by=["pm"],
    )
    t.delete_where(F.lit(True))
    assert t.read().count() == 0
    assert set(t.read().columns) == {"k", "pm"}


def test_read_pruned_multi_conjunctive_skipping(spark, tmp_path):
    """Multi-column skipping: on a table clustered by (k, v) a narrow k
    range prunes most files, an impossible v bound prunes ALL files, and
    the surviving scan returns exactly the full-filter answer."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t.overwrite_clustered(df, ["k", "v"], num_files=8)

    kept, total = t.pruned_files_multi({"k": (1000, 1900), "v": (None, None)})
    assert total >= 8 and len(kept) <= 2

    got = sorted(
        r.k
        for r in t.read_pruned_multi(
            {"k": (1000, 1900), "v": (12_000, 15_000)}
        ).collect()
    )
    assert got == list(range(1200, 1501))
    # conjunctive: a v bound outside the data skips everything
    kept2, _ = t.pruned_files_multi({"k": (1000, 1900), "v": (-100, -1)})
    assert kept2 == []
    assert t.read_pruned_multi({"k": (1000, 1900), "v": (-100, -1)}).count() == 0


def test_delete_all_preserves_partition_spec(spark, tmp_path):
    """After a delete that empties a partitioned table, the partition spec
    must survive (metadata sidecar): a later spec-less upsert must route
    back to the partitioned pruned path, not silently degrade to
    unpartitioned full rewrites."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("int").alias("pm"),
            F.col("id").cast("timestamp").alias("ts"),
        ),
        partition_by=["pm"],
    )
    t.delete_where(F.lit(True))
    assert t._partition_columns() == ["pm"]
    batch = spark.range(6).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("pm"),
        F.col("id").cast("timestamp").alias("ts"),
    )
    t.upsert(batch, keys=["k"], order_by=["ts"])  # no explicit partition_by
    assert t.read().count() == 6
    vdir = t._version_dir(t.current_version())
    assert any(
        n.startswith("pm=") for n in os.listdir(vdir)
    ), "upsert lost the partitioned layout"


def test_table_history_reports_retained_versions(spark, tmp_path):
    from azure_airbnb_cdc_ingestion_pipeline_spark.sources.tables import table_history

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(100).withColumnRenamed("id", "k"))
    t.append(spark.range(100, 150).withColumnRenamed("id", "k"))
    hist = table_history(t)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["n_rows"] == 100 and hist[1]["n_rows"] == 150
    assert all(h["n_files"] > 0 and h["size_bytes"] > 0 for h in hist)
    assert hist[1]["committed_at"] >= hist[0]["committed_at"]


def test_update_where_after_delete_all_stays_readable(spark, tmp_path):
    """ADVICE r3: update_where on a partitioned table whose current
    version is the schema-bearing empty file of a delete-all (no leaf
    partition dirs) must commit a READABLE version — previously the
    affected rewrite emitted no parquet files, nothing was hardlinked,
    and read() on the new version failed."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("pm")
        ),
        partition_by=["pm"],
    )
    t.delete_where(F.lit(True))
    t.update_where(F.col("k") > 3, {"k": F.col("k") + 100})
    assert t.read().count() == 0
    assert set(t.read().columns) == {"k", "pm"}
    # the table must still accept partitioned writes afterwards
    t.upsert(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("pm")
        ),
        keys=["k"],
        order_by=None,
    )
    assert t.read().count() == 4


def test_file_count_bounded_over_200_microbatches(spark, tmp_path):
    """VERDICT r3 task #6: ~200 micro-batch commits must leave the live
    file count BOUNDED (compaction cadence), not linear in batch count.
    Covers the append-per-batch sink (the growth case: +1 file per batch
    → maybe_compact saw-tooth) and the pruned merge (self-bounding: each
    merge rewrites its affected partitions)."""
    t = ParquetTable(spark, str(tmp_path / "append_sink"))
    one = spark.range(1).select(F.col("id").alias("k"))
    peak = 0
    for i in range(200):
        t.append(one.withColumn("k", F.col("k") + i))
        t.maybe_compact(trigger_files=24)
        peak = max(peak, t.live_file_count())
    assert t.read().count() == 200          # no rows lost across compactions
    assert peak <= 24 + 4                   # saw-tooth never exceeds trigger+slack
    assert t.live_file_count() <= 24 + 4

    # pruned merge: file count resets per merge instead of accumulating
    m = ParquetTable(spark, str(tmp_path / "fact"))
    base = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("pm"),
        F.col("id").cast("double").alias("v"),
    )
    m.overwrite(base, partition_by=["pm"])
    counts = []
    for i in range(30):
        batch = spark.range(2).select(
            (F.col("id") + (i % 20)).alias("k"),
            ((F.col("id") + (i % 20)) % 4).cast("int").alias("pm"),
            F.lit(float(i)).alias("v"),
        )
        m.upsert(batch, keys=["k"], partition_by=["pm"])
        counts.append(m.live_file_count())
    assert max(counts) <= max(counts[:5]) + 8, (
        f"pruned-merge file count drifted upward: {counts}"
    )
