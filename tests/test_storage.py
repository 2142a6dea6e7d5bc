"""Storage layout tests: bucketed joins must be exchange-free, and
partitioned layouts must prune."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from acuvate_spark.operators import storage
from acuvate_spark.tables import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the issue
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    storage.write_bucketed(o, "b_orders", "o_orderkey", 8, sort_col="o_orderkey")
    storage.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8,
        sort_col="o_orderkey",
    )
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    joined = a.join(b, "o_orderkey").groupBy("o_orderstatus").count()
    plan = _plan(joined)
    join_section = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    # co-bucketed join: no shuffle exchange feeding the join
    assert "hashpartitioning" not in join_section, plan


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).groupBy("o_orderstatus").count()
    plan = _plan(joined)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "hashpartitioning" in plan  # the baseline the buckets remove


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    path = str(tmp_path / "orders_part")
    storage.write_partitioned(o, path, ["status"])
    back = spark.read.parquet(path).where(F.col("status") == "O")
    plan = _plan(back)
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == o.where(F.col("o_orderstatus") == "O").count()


def test_suggest_buckets_power_of_two():
    assert storage.suggest_buckets(10 * 2**30) == 64  # 10 GiB / 256 MiB = 40 -> 64
    assert storage.suggest_buckets(100) == 1


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_dyn")
    storage.write_partitioned(o, path, ["status"])
    before_f = spark.read.parquet(path).where("status = 'F'").count()

    # rewrite ONLY the O partition with a filtered slice
    slim_o = o.where("status = 'O' AND o_orderkey % 2 = 0")
    storage.overwrite_partitions(slim_o, path, ["status"])

    back = spark.read.parquet(path)
    assert back.where("status = 'F'").count() == before_f  # untouched survives
    assert back.where("status = 'O'").count() == slim_o.count()  # replaced


def test_compact_path_merges_small_files(spark, sf_dir, tmp_path):
    """64 stranded micro-batch files compact to the byte-target count
    with no data change; re-running is a no-op."""
    import glob
    import os

    from acuvate_spark.operators import storage
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_small_files")
    events.repartition(64).write.parquet(path)
    before_files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert len(before_files) == 64
    before_rows = spark.read.parquet(path).count()
    # integer checksum: float sums are partition-order dependent
    before_sum = spark.read.parquet(path).agg({"event_id": "sum"}).collect()[0][0]

    total = sum(os.path.getsize(f) for f in before_files)
    target = total // 4  # force ~4-5 output files
    n = storage.compact_path(spark, path, target_file_bytes=target)
    after_files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert len(after_files) == n <= 6
    assert spark.read.parquet(path).count() == before_rows
    assert spark.read.parquet(path).agg({"event_id": "sum"}).collect()[0][0] == before_sum
    # repeated runs converge: better compression in the merged files can
    # shrink total bytes and allow one further merge, after which the
    # layout is a fixpoint (n_target >= file count -> no rewrite)
    n2 = storage.compact_path(spark, path, target_file_bytes=target)
    assert n2 <= n
    assert storage.compact_path(spark, path, target_file_bytes=target) == n2
    assert spark.read.parquet(path).count() == before_rows


def test_compact_path_preserves_partition_layout(spark, sf_dir, tmp_path):
    """Partitioned layouts compact per leaf dir: key=value structure,
    partition pruning, and overwrite_partitions compatibility survive."""
    import glob
    import os

    from acuvate_spark.operators import storage
    from acuvate_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_compact_part")
    o.repartition(16).write.partitionBy("status").parquet(path)
    before_rows = spark.read.parquet(path).count()
    per_leaf_before = len(glob.glob(os.path.join(path, "status=O", "*.parquet")))
    assert per_leaf_before >= 8

    storage.compact_path(spark, path, target_file_bytes=1 << 40)  # huge target -> 1 file/leaf
    leaves = sorted(os.path.basename(p) for p in glob.glob(os.path.join(path, "status=*")))
    assert leaves == ["status=F", "status=O", "status=P"]
    assert len(glob.glob(os.path.join(path, "status=O", "*.parquet"))) == 1
    back = spark.read.parquet(path)
    assert back.count() == before_rows
    assert "status" in back.columns  # partition column still derived from layout
    # dynamic-partition overwrite still works on the compacted layout
    slim = o.where("status = 'O' AND o_orderkey % 2 = 0")
    storage.overwrite_partitions(slim, path, ["status"])
    assert spark.read.parquet(path).where("status = 'O'").count() == slim.count()


def test_compact_path_recovers_from_interrupted_swap(spark, sf_dir, tmp_path):
    """A crash between the two renames leaves only the backup dir; the
    next call restores it and proceeds instead of reporting 0 files."""
    import os

    from acuvate_spark.operators import storage
    from acuvate_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_crash")
    events.repartition(8).write.parquet(path)
    n_rows = spark.read.parquet(path).count()
    # simulate the crash window: path renamed away, new data never landed
    os.rename(path, path + ".__pre_compact__")
    n = storage.compact_path(spark, path, target_file_bytes=1 << 40)
    assert n == 1  # restored, then compacted to one file
    assert spark.read.parquet(path).count() == n_rows


def test_compact_path_recovers_interrupted_partition_swap(spark, sf_dir, tmp_path):
    """A crash mid-swap inside ONE partition leaf must be healed on the
    next run — the leftover backup dir restores the missing leaf and is
    never treated as a data leaf itself."""
    import glob
    import os

    from acuvate_spark.operators import storage
    from acuvate_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_crash_part")
    o.repartition(8).write.partitionBy("status").parquet(path)
    before = spark.read.parquet(path).count()
    leaf = os.path.join(path, "status=O")
    # crash window: leaf renamed to backup, replacement never landed;
    # plus a stale half-written temp for another leaf
    os.rename(leaf, leaf + ".__pre_compact__")
    os.makedirs(os.path.join(path, "status=F.__compacting__"))

    storage.compact_path(spark, path, target_file_bytes=1 << 40)
    leaves = sorted(os.path.basename(p) for p in glob.glob(os.path.join(path, "status=*")))
    assert leaves == ["status=F", "status=O", "status=P"]  # healed, no junk dirs
    assert spark.read.parquet(path).count() == before


def test_zorder_key_interleaves_bits(spark):
    # x=3 (bits 0,1 -> out 0,2), y=1 (bit 0 -> out 1): z = 1+4+2 = 7
    df = spark.range(1).select(
        storage.zorder_key([F.lit(3), F.lit(1)], bits=2).alias("z")
    )
    assert df.collect()[0].z == 7
    # 3 dims: x=1->pos0, y=1->pos1, w=1->pos2 => 7
    df3 = spark.range(1).select(
        storage.zorder_key([F.lit(1), F.lit(1), F.lit(1)], bits=1).alias("z")
    )
    assert df3.collect()[0].z == 7


def _file_spans(path, col):
    """Per-parquet-file (min, max) of a column, read from real footers
    via pyarrow — the same stats Spark's scan uses for skipping."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        spans.append((lo, hi))
    return spans


def test_zorder_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """A date-sorted layout prunes date filters but custkey filters hit
    every file; Z-order gives BOTH dimensions sub-linear file hits."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_day",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")),
    )
    zpath = str(tmp_path / "zorder")
    storage.write_zordered(o, zpath, ["o_custkey", "o_day"], bits=8, n_files=8)

    # correctness: the rewrite is a permutation, nothing lost
    assert spark.read.parquet(zpath).count() == o.count()

    cust_spans = _file_spans(zpath, "o_custkey")
    day_spans = _file_spans(zpath, "o_day")
    n = len(cust_spans)
    assert n > 1

    # a narrow slab in EITHER dimension must intersect only a strict
    # subset of files (single-column sort can't deliver both)
    ck_lo, ck_hi = 10, 25
    d_lo, d_hi = 100, 200
    cust_hits = sum(1 for lo, hi in cust_spans if not (hi < ck_lo or lo > ck_hi))
    day_hits = sum(1 for lo, hi in day_spans if not (hi < d_lo or lo > d_hi))
    assert cust_hits < n, cust_spans
    assert day_hits < n, day_spans


def test_sharded_export_is_deterministic_and_ordered(spark, sf_dir, tmp_path):
    """write_sharded: every shard directory exists, each holds its
    rows in md5-key order (the reproducible global permutation), and
    the union of shards is exactly the input."""
    import glob
    import hashlib

    import pyarrow.parquet as pq

    n = 8
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    path = str(tmp_path / "shards")
    storage.write_sharded(docs, path, n_shards=n, key_col="doc_id")

    def h(doc_id):
        return hashlib.md5(f"shard|{doc_id}".encode()).hexdigest()

    seen = []
    for k in range(n):
        files = sorted(glob.glob(f"{path}/shard={k}/*.parquet"))
        assert files, f"missing shard {k}"
        assert len(files) == 1, "one key-ordered file per shard per write"
        ids = pq.read_table(files[0]).column("doc_id").to_pylist()
        keys = [h(i) for i in ids]
        assert keys == sorted(keys), f"shard {k} not in key order"
        assert all(int(h(i)[:8], 16) % n == k for i in ids), "row in wrong shard"
        seen.extend(ids)
    expected = [r.doc_id for r in docs.collect()]
    assert sorted(seen) == sorted(expected)


def test_sharded_export_order_is_cluster_size_invariant(spark, sf_dir, tmp_path):
    """The export's in-shard order must depend only on the md5 keys —
    NOT on how the input happened to be partitioned (the 'reproducible
    global permutation at any cluster size' claim)."""
    import glob

    import pyarrow.parquet as pq

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def shard_orders(path):
        out = {}
        for d in sorted(glob.glob(f"{path}/shard=*")):
            k = int(d.rsplit("=", 1)[1])
            files = sorted(glob.glob(f"{d}/*.parquet"))
            out[k] = [
                i for f in files for i in pq.read_table(f).column("doc_id").to_pylist()
            ]
        return out

    p1 = str(tmp_path / "narrow")
    p2 = str(tmp_path / "wide")
    storage.write_sharded(docs.repartition(3), p1, n_shards=8, key_col="doc_id")
    storage.write_sharded(docs.repartition(13), p2, n_shards=8, key_col="doc_id")
    assert shard_orders(p1) == shard_orders(p2)


def test_scan_stats_manifest_reflects_layout(spark, sf_dir, tmp_path):
    """scan_stats: footer-only manifest — row counts sum to the
    table, and a zordered layout shows tighter (disjoint-ish) per-file
    key ranges than random placement would."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    path = str(tmp_path / "orders_z")
    storage.write_zordered(orders, path, ["o_custkey", "o_orderkey"], n_files=4)
    stats = storage.scan_stats(spark, path, ["o_orderkey"]).collect()
    assert len(stats) >= 2
    assert sum(r.n_rows for r in stats) == orders.count()
    for r in stats:
        assert r.min_o_orderkey is not None
        assert int(r.min_o_orderkey) <= int(r.max_o_orderkey)


def test_scan_stats_decodes_string_stats(spark, sf_dir, tmp_path):
    """String/binary footer statistics must surface as decoded text
    (never a Python b'...' repr), and min/max are pruning BOUNDS:
    every actual value sits inside [min, max] per file."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    path = str(tmp_path / "docs_flat")
    docs.repartition(3).write.parquet(path)
    stats = storage.scan_stats(spark, path, ["source", "lang"]).collect()
    assert len(stats) >= 2
    lo = min(r.min_source for r in stats)
    hi = max(r.max_source for r in stats)
    assert not lo.startswith("b'") and not hi.startswith("b'")
    actual_lo, actual_hi = docs.agg(
        F.min("source"), F.max("source")
    ).first()
    assert lo <= actual_lo and hi >= actual_hi
    # exactness flags: present -> boolean, or null when the writer
    # didn't record them; never a crash
    for r in stats:
        assert r.source_exact in (True, False, None)


def test_pruning_audit_measures_zorder_benefit(spark, sf_dir, tmp_path):
    """The layout claims measured (VERDICT r04 stretch): for a range
    predicate on EITHER z-order dimension, footer pruning skips real
    bytes under the z-ordered layout but ~nothing under a layout
    sorted on just the other column — and pruning is SOUND: the
    skipped files contain zero matching rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath = str(tmp_path / "orders_z")
    storage.write_zordered(orders, zpath, ["o_custkey", "o_orderkey"], n_files=8)
    single = str(tmp_path / "orders_by_cust")
    orders.repartitionByRange(8, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.parquet(single)

    okey_max = orders.agg(F.max("o_orderkey")).first()[0]
    lo, hi = 0.0, okey_max * 0.10  # bottom decile of the SECOND z dim
    z = storage.pruning_audit(spark, zpath, "o_orderkey", lo, hi)
    s = storage.pruning_audit(spark, single, "o_orderkey", lo, hi)
    assert z["n_files"] >= 8 and z["bytes_total"] > 0
    # z-order prunes a real fraction on the non-leading dimension;
    # the single-column sort can't (its files all span the okey range)
    assert z["bytes_pruned"] > 0 and z["n_pruned"] >= 2
    assert z["bytes_pruned"] > s["bytes_pruned"]
    # soundness: no pruned file contains a matching row
    for f in z["files_pruned"]:
        n = (
            spark.read.parquet(f)
            .where(F.col("o_orderkey").between(lo, hi))
            .count()
        )
        assert n == 0, f"pruned file {f} had {n} matching rows"
    # and the pruned scan still returns every matching row
    keep = [r["file"] for r in storage.scan_stats(spark, zpath, ["o_orderkey"]).collect()
            if r["file"] not in set(z["files_pruned"])]
    kept_n = (
        spark.read.parquet(*keep).where(F.col("o_orderkey").between(lo, hi)).count()
    )
    full_n = orders.where(F.col("o_orderkey").between(lo, hi)).count()
    assert kept_n == full_n > 0


def test_scan_stats_covers_mixed_top_level_layout(spark, sf_dir, tmp_path):
    """A directory holding loose parquet files BESIDE partition
    subdirectories must manifest every file — the distributed listing
    roots on both kinds of top-level child."""
    import shutil

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mixed = tmp_path / "mixed"
    orders.withColumn("status", F.col("o_orderstatus")).write.partitionBy(
        "status"
    ).parquet(str(mixed))
    flat = tmp_path / "flat"
    orders.coalesce(1).write.parquet(str(flat))
    loose = next(flat.glob("part-*.parquet"))
    shutil.copyfile(loose, mixed / "loose.parquet")

    stats = storage.scan_stats(spark, str(mixed), ["o_orderkey"]).collect()
    assert any(r["file"].endswith("loose.parquet") for r in stats)
    assert sum(r.n_rows for r in stats) == orders.count() * 2


def test_pruning_audit_exact_for_int64_past_double_mantissa(spark, tmp_path):
    """ADVICE r05: footer stats re-parsed via float() round int64
    values past 2^53, which could flip the disjointness test and prune
    a file that HOLDS matching rows. Stats must re-parse as exact ints:
    a file whose only value is 2^53 + 1 (not float-representable —
    float() rounds it to 2^53) queried with lo = 2^53 + 1 must NOT be
    pruned, while a genuinely disjoint file still is."""
    big = 2**53 + 1
    path = str(tmp_path / "bigints")
    spark.createDataFrame([(big,)], "v long").coalesce(1).write.parquet(path)
    spark.createDataFrame([(5,)], "v long").coalesce(1).write.mode(
        "append"
    ).parquet(path)

    audit = storage.pruning_audit(spark, path, "v", lo=big, hi=big + 10)
    assert audit["n_files"] == 2
    # float() parsing would compute max=2^53 < lo and prune the match
    assert audit["n_pruned"] == 1
    kept = [
        r["file"]
        for r in storage.scan_stats(spark, path, ["v"]).collect()
        if r["file"] not in set(audit["files_pruned"])
    ]
    assert spark.read.parquet(*kept).where(F.col("v") >= big).count() == 1


def test_compact_path_blocked_by_live_lease(spark, sf_dir, tmp_path):
    """compact_path shares the register single-maintainer contract
    (r12): a live lease on the path blocks it with zero effect; with
    the lease gone the same call compacts."""
    import os

    import pytest

    from acuvate_spark.operators import sinks, storage
    from acuvate_spark.tables import load_table

    path = str(tmp_path / "smallfiles")
    load_table(spark, sf_dir, "nation").repartition(8).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    lease = path.rstrip("/") + ".__lease__"
    with open(lease, "w") as fh:
        fh.write("pid=99999 purpose=compact-path")
    with pytest.raises(sinks.ConcurrentWriterError):
        storage.compact_path(spark, path)
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == n_before
    os.remove(lease)
    assert storage.compact_path(spark, path) == 1


# ---------------------------------------------------------------------------
# compact_path vs a hive-ROOT reader (r13 reader-vs-maintenance audit):
# the temp/backup siblings are dot-prefixed, so Spark's hidden-path
# filter keeps them out of a concurrent root scan's listing.
# ---------------------------------------------------------------------------


def test_root_reader_racing_compact_path_never_sees_extra_rows(spark, sf_dir, tmp_path):
    """Probe a root scan before every directory rename of the
    per-leaf swap: with the temp fully written (pre-swap) and with the
    backup beside the new leaf (post-swap) the count must equal the
    original — the unhidden siblings used to surface as duplicate
    partition rows. The only tolerated deviation is the documented
    instant between the two renames, where the swapped leaf is absent
    (count drops by exactly that leaf, never grows, never mixes)."""
    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_hive")
    o.repartition(8).write.partitionBy("status").parquet(path)
    before = spark.read.parquet(path).count()
    per_leaf = {
        r["status"]: r["n"]
        for r in spark.read.parquet(path).groupBy("status").agg(F.count("*").alias("n")).collect()
    }

    real_rename = os.rename
    observed = []

    def observing(src, dst):
        n = spark.read.parquet(path).count()
        # which state? 1st rename of a pair moves the LEAF away (src
        # is the leaf, all leaves still present); 2nd moves tmp into
        # place (src is the hidden tmp, leaf currently absent)
        leaf_absent = os.path.basename(src).startswith(".")
        missing = per_leaf[os.path.basename(dst).split("=", 1)[1]] if leaf_absent else 0
        observed.append((n, before - missing))
        return real_rename(src, dst)

    os.rename = observing
    try:
        storage.compact_path(spark, path, target_file_bytes=1 << 40)
    finally:
        os.rename = real_rename

    assert len(observed) == 2 * len(per_leaf)  # two renames per leaf
    for got, want in observed:
        assert got == want
    assert spark.read.parquet(path).count() == before


def test_compact_path_siblings_are_hidden_from_spark(spark, sf_dir, tmp_path):
    """Static shape check: a fully-written temp AND a backup sitting
    beside a leaf must be invisible to a root scan (dot-prefix), so
    even a reader with pathological timing lists no sibling."""
    o = load_table(spark, sf_dir, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_hive2")
    o.repartition(4).write.partitionBy("status").parquet(path)
    before = spark.read.parquet(path).count()
    leaf = os.path.join(path, "status=O")
    shutil.copytree(leaf, os.path.join(path, ".status=O.__compacting__"))
    shutil.copytree(leaf, os.path.join(path, ".status=O.__pre_compact__"))
    assert spark.read.parquet(path).count() == before
    # and the sweep heals them away (backup present + leaf present ->
    # completed-swap shape: backup discarded; temp discarded)
    storage.compact_path(spark, path, target_file_bytes=1)
    assert [
        d
        for d in os.listdir(path)
        if d.startswith(".") and os.path.isdir(os.path.join(path, d))
    ] == []
    assert spark.read.parquet(path).count() == before


def test_compact_path_recovers_hidden_scheme_crash_shapes(spark, sf_dir, tmp_path):
    """The r13 hidden naming is also what recovery heals: a leaf
    renamed to its hidden backup (died between renames) is restored;
    a stale hidden temp is discarded. Legacy unhidden names keep
    their own coverage in the interrupted-swap tests above."""
    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_hidden_crash")
    events.repartition(8).write.parquet(path)
    n_rows = spark.read.parquet(path).count()
    os.rename(path, str(tmp_path / ".events_hidden_crash.__pre_compact__"))
    n = storage.compact_path(spark, path, target_file_bytes=1 << 40)
    assert n == 1
    assert spark.read.parquet(path).count() == n_rows
