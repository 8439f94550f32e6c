"""Sources & sinks: write round-trips, partitioned writes with partition
pruning, bucketed tables joining shuffle-free, CSV gz+skip combo,
row-names column, large point-set extraction path."""

import gzip

import pyspark.sql.functions as F
import pytest

from lazy_frame_spark import LazyFrame
from lazy_frame_spark.plans import executed_plan
from lazy_frame_spark.sources.csv import open_csv
from lazy_frame_spark.sources.parquet import write_bucketed_table, write_parquet


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_parquet(df, str(tmp_path / "c"))
    back = spark.read.parquet(str(tmp_path / "c"))
    assert back.count() == df.count()
    assert back.schema == df.schema


def test_csv_write_roundtrip(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_csv")
    df.write.option("header", "true").csv(out)
    back = open_csv(spark, out, header=True)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "li_part")
    write_parquet(df, out, partition_by=["l_returnflag"])
    q = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = executed_plan(q)
    # partition pruning shows the filter under PartitionFilters, not as a
    # row-level filter over all partitions
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1].split("]")[0]


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed_table(o, "t_orders_b", ["o_orderkey"], 4, sort_by=["o_orderkey"])
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", ["o_orderkey"], 4, sort_by=["o_orderkey"],
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, "o_orderkey")
        plan = executed_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucketing removed the shuffle
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_csv_gz_with_skip(spark, tmp_path):
    p = tmp_path / "s.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("# preamble\nid,val\n1,10.5\n2,20.5\n")
    df = open_csv(spark, str(p), skip=1)
    pdf = df.toPandas().sort_values("id")
    assert pdf["id"].tolist() == [1, 2]
    assert pdf["val"].tolist() == [10.5, 20.5]


def test_row_names_column(spark, tmp_path):
    # R/lazy.frame.R:53-58 — one file column supplies row names
    p = tmp_path / "rn.csv"
    p.write_text("r1,10,a\nr2,20,b\nr3,30,c\n")
    df = open_csv(spark, str(p), header=False, row_names=1)
    assert "__row_name__" in df.columns
    names = sorted(r["__row_name__"] for r in df.select("__row_name__").collect())
    assert names == ["r1", "r2", "r3"]
    # through the facade: row-name column excluded from numbering
    # (src/lazy.frame.c:528-530) and becomes the pandas index
    lf = LazyFrame.from_df(df, order_by=["V2"])
    assert lf.names() == ["V2", "V3"]      # column 1 is V2, not the names
    assert lf.select([1]).names() == ["V2"]
    pdf = lf.to_pandas()
    assert sorted(pdf.index.tolist()) == ["r1", "r2", "r3"]
    assert list(pdf.columns) == ["V2", "V3"]


def test_large_point_set_uses_join_path(spark, sf_dir):
    # >10k ids flips rows() from isin-predicate to broadcast semi-join
    lf = LazyFrame.from_df(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        order_by=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                  "l_extendedprice", "l_shipdate"],
    )
    wanted = list(range(2, 24002, 2))  # 12000 even ids... sf0.001 has 6000 rows
    got = lf.rows(wanted)
    n = got.nrow()
    assert n == 3000  # even ids within 1..6000
    ids = got.to_df(with_row_id=True).agg(
        F.min("__row_id__"), F.max("__row_id__")
    ).collect()[0]
    assert (ids[0], ids[1]) == (2, 6000)
    lf.close()


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = str(tmp_path / "region_orc")
    df.write.orc(out)
    lf = LazyFrame.open(spark, out, format="orc")
    assert lf.nrow() == df.count()


def test_json_roundtrip(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_json")
    df.write.json(out)
    lf = LazyFrame.open(spark, out, format="json")
    assert lf.nrow() == df.count()
    assert set(lf.names()) == set(df.columns)


def test_compact_parquet_in_place_preserves_data(spark, sf_dir, tmp_path):
    from lazy_frame_spark.sources.parquet import compact_parquet

    out = str(tmp_path / "frag")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    li.repartition(37).write.parquet(out)
    import os

    before_files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(before_files) == 37
    want = li.groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s")
    ).collect()[0]

    got_df = compact_parquet(spark, out, target_mb=128)
    after_files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(after_files) == 1  # tiny table compacts to one file
    got = got_df.groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s")
    ).collect()[0]
    assert (got["n"], got["s"]) == (want["n"], want["s"])
    # no temp/backup residue
    parent = os.path.dirname(out)
    assert not [d for d in os.listdir(parent) if "compact" in d]


def test_compact_parquet_to_out_path(spark, sf_dir, tmp_path):
    from lazy_frame_spark.sources.parquet import compact_parquet

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(500)
    li.repartition(11).write.parquet(src)
    got = compact_parquet(spark, src, target_mb=64, out_path=dst)
    assert got.count() == 500
    import os

    assert os.path.isdir(src) and os.path.isdir(dst)


def test_merge_schema_read_unions_columns(spark, tmp_path):
    """Schema evolution on read: two parquet batches with different
    columns union under mergeSchema; the missing column is null."""
    d = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(f"{d}/b1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    ).write.parquet(f"{d}/b2")
    got = (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(d)
    )
    assert set(got.columns) == {"id", "s", "score"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_fixed_width_roundtrip_and_malformed(spark, tmp_path):
    """Fixed-width: padding/truncation on write, slicing + try_cast on
    read; malformed numeric cells become NULL, strings rtrim."""
    from lazy_frame_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width,
    )

    layout = [("id", 5, "bigint"), ("name", 8, "string"), ("amt", 10, "double")]
    df = spark.createDataFrame(
        [(1, "alpha", 12.5), (22, "bee", -0.25), (333, "sea side", 1e6)],
        "id long, name string, amt double",
    )
    d = str(tmp_path / "fwf")
    write_fixed_width(df, d, layout)
    got = {r["id"]: r for r in read_fixed_width(spark, d, layout).collect()}
    assert got[1]["name"] == "alpha" and got[1]["amt"] == 12.5
    assert got[22]["amt"] == -0.25
    assert got[333]["name"] == "sea side" and got[333]["amt"] == 1e6

    # hand-written file: malformed numeric -> NULL; skip_rows drops banner
    p = tmp_path / "raw.txt"
    p.write_text("HEADER BANNER LINE\n  7  x       12.5      \n  z  y       oops      \n")
    out = read_fixed_width(spark, str(p), layout, skip_rows=1).collect()
    rows = {r["name"]: r for r in out}
    assert rows["x"]["id"] == 7 and rows["x"]["amt"] == 12.5
    assert rows["y"]["id"] is None and rows["y"]["amt"] is None


def test_fixed_width_truncates_overwide_values(spark, tmp_path):
    from lazy_frame_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width,
    )

    layout = [("name", 4, "string")]
    df = spark.createDataFrame([("abcdefgh",)], "name string")
    d = str(tmp_path / "fwf2")
    write_fixed_width(df, d, layout)
    assert read_fixed_width(spark, d, layout).first()["name"] == "abcd"


def test_merge_upsert_latest_wins_and_idempotent(spark, sf_dir, tmp_path):
    from lazy_frame_spark.sources.parquet import merge_upsert, write_parquet

    path = str(tmp_path / "region_merge")
    write_parquet(spark.read.parquet(f"{sf_dir}/region.parquet"), path)
    updates = spark.createDataFrame(
        [(1, "EUROPA"), (42, "NEW-WORLD")], "r_regionkey int, r_name string"
    )
    merged = {r["r_regionkey"]: r["r_name"]
              for r in merge_upsert(spark, path, updates, "r_regionkey").collect()}
    assert merged[1] == "EUROPA" and merged[42] == "NEW-WORLD"
    assert len(merged) == 6  # 5 originals, 1 replaced, 1 inserted

    # re-applying the same updates is a no-op (latest-wins semantics)
    again = {r["r_regionkey"]: r["r_name"]
             for r in merge_upsert(spark, path, updates, "r_regionkey").collect()}
    assert again == merged
    # no temp/backup siblings survive
    import os

    assert not os.path.exists(path + "__merge_tmp")
    assert not os.path.exists(path + "__merge_old")


def test_merge_upsert_rejects_duplicate_update_keys(spark, sf_dir, tmp_path):
    import pytest

    from lazy_frame_spark.sources.parquet import merge_upsert, write_parquet

    path = str(tmp_path / "region_dupmerge")
    write_parquet(spark.read.parquet(f"{sf_dir}/region.parquet"), path)
    dup_updates = spark.createDataFrame(
        [(1, "A"), (1, "B")], "r_regionkey int, r_name string"
    )
    with pytest.raises(ValueError, match="key-unique"):
        merge_upsert(spark, path, dup_updates, "r_regionkey")
    # target untouched by the rejected merge
    assert spark.read.parquet(path).count() == 5


def test_merge_upsert_preserves_partition_layout(spark, sf_dir, tmp_path):
    import os

    from lazy_frame_spark.sources.parquet import merge_upsert, write_parquet

    path = str(tmp_path / "orders_part_merge")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_parquet(o, path, partition_by=["o_orderstatus"])
    updates = spark.createDataFrame(
        [(1, 123.45, "F")], "o_orderkey long, o_totalprice double, o_orderstatus string"
    )
    merged = merge_upsert(spark, path, updates, "o_orderkey")
    assert merged.count() == o.count()  # 1 replaced, 0 inserted
    # hive layout survives the rewrite
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))


def test_merge_upsert_preserves_nested_partition_layout(spark, sf_dir, tmp_path):
    """Two-level hive layout (status, then priority) must survive the
    merge rewrite with both levels intact."""
    import os

    from lazy_frame_spark.sources.parquet import (
        _partition_columns,
        merge_upsert,
        write_parquet,
    )

    path = str(tmp_path / "orders_nested_merge")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    write_parquet(o, path, partition_by=["o_orderstatus", "o_orderpriority"])
    assert _partition_columns(path) == ["o_orderstatus", "o_orderpriority"]
    updates = spark.createDataFrame(
        [(999999, 1.0, "F", "1-URGENT")],
        "o_orderkey long, o_totalprice double, o_orderstatus string, o_orderpriority string",
    )
    merged = merge_upsert(spark, path, updates, "o_orderkey")
    assert merged.count() == o.count() + 1  # pure insert
    assert _partition_columns(path) == ["o_orderstatus", "o_orderpriority"]
    status_dir = next(d for d in os.listdir(path) if d.startswith("o_orderstatus="))
    assert any(
        d.startswith("o_orderpriority=")
        for d in os.listdir(os.path.join(path, status_dir))
    )


# ---------------------------------------------------------------- #
# journaled swap: crash injection at every kill point              #
# ---------------------------------------------------------------- #

def _crash_fixture(spark, tmp_path, name):
    """A live table (v1) plus a fully-written tmp sibling (v2), the
    exact state _swap_in_place starts from."""
    import pytest  # noqa: F401

    final = str(tmp_path / name)
    dest = final + "__tmp"
    spark.createDataFrame([(1, "old")], "k long, v string").coalesce(1).write.parquet(final)
    spark.createDataFrame([(1, "new"), (2, "new2")], "k long, v string").coalesce(
        1
    ).write.parquet(dest)
    return final, dest


def _assert_recovered_to_v2(spark, final):
    import os

    from lazy_frame_spark.sources.parquet import read_parquet

    got = {(r["k"], r["v"]) for r in read_parquet(spark, final).collect()}
    assert got == {(1, "new"), (2, "new2")}
    assert not os.path.exists(final + ".__commit__")
    assert not os.path.exists(final + "__old")
    assert not os.path.exists(final + "__tmp")


def test_swap_crash_after_journal_rolls_forward(spark, tmp_path):
    """Kill after the journal is published but before any rename: the
    tmp sibling is complete, so recovery promotes it (roll forward)."""
    import pytest

    from lazy_frame_spark.sources.parquet import _SimulatedCrash, _swap_in_place

    final, dest = _crash_fixture(spark, tmp_path, "t_aj")
    with pytest.raises(_SimulatedCrash):
        _swap_in_place(final, dest, "__old", _crash="after_journal")
    _assert_recovered_to_v2(spark, final)


def test_swap_crash_between_renames_recovers(spark, tmp_path):
    """THE window the round-3 verdict flagged: killed after the live
    table moved aside, before the sibling was promoted — previously the
    table simply vanished. Recovery completes the promote."""
    import os

    import pytest

    from lazy_frame_spark.sources.parquet import _SimulatedCrash, _swap_in_place

    final, dest = _crash_fixture(spark, tmp_path, "t_br")
    with pytest.raises(_SimulatedCrash):
        _swap_in_place(final, dest, "__old", _crash="between_renames")
    assert not os.path.exists(final)  # the stranded state, as advertised
    _assert_recovered_to_v2(spark, final)


def test_swap_crash_before_cleanup_recovers(spark, tmp_path):
    """Killed after promoting but before journal/backup cleanup:
    recovery just clears the leftovers; data already new."""
    import pytest

    from lazy_frame_spark.sources.parquet import _SimulatedCrash, _swap_in_place

    final, dest = _crash_fixture(spark, tmp_path, "t_bc")
    with pytest.raises(_SimulatedCrash):
        _swap_in_place(final, dest, "__old", _crash="before_cleanup")
    _assert_recovered_to_v2(spark, final)


def test_recover_is_idempotent_and_noop_without_journal(spark, tmp_path):
    import pytest

    from lazy_frame_spark.sources.parquet import (
        _SimulatedCrash,
        _swap_in_place,
        recover_table,
    )

    final, dest = _crash_fixture(spark, tmp_path, "t_idem")
    assert recover_table(final) is False  # no journal -> no-op
    with pytest.raises(_SimulatedCrash):
        _swap_in_place(final, dest, "__old", _crash="between_renames")
    assert recover_table(final) is True
    assert recover_table(final) is False  # second call: nothing left to do
    _assert_recovered_to_v2(spark, final)


def test_merge_upsert_heals_prior_crash_then_merges(spark, tmp_path):
    """merge_upsert on a table stranded by a previous run's kill first
    recovers it, then merges on top of the RECOVERED (v2) contents."""
    import pytest

    from lazy_frame_spark.sources.parquet import (
        _SimulatedCrash,
        _swap_in_place,
        merge_upsert,
    )

    final, dest = _crash_fixture(spark, tmp_path, "t_merge")
    with pytest.raises(_SimulatedCrash):
        _swap_in_place(final, dest, "__old", _crash="between_renames")
    updates = spark.createDataFrame([(2, "upd"), (3, "ins")], "k long, v string")
    got = {(r["k"], r["v"]) for r in merge_upsert(spark, final, updates, "k").collect()}
    assert got == {(1, "new"), (2, "upd"), (3, "ins")}


def test_ingest_gzip_csv_resharded_and_identical(spark, sf_dir, tmp_path):
    """A .gz CSV (one-task, unsplittable) ingested via ingest_gzip
    becomes a multi-file zstd parquet table with identical rows —
    the pay-the-single-threaded-read-once lever."""
    import gzip
    import os

    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(1200).collect()
    src = str(tmp_path / "orders.csv.gz")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    with gzip.open(src, "wt") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(f"{r['o_orderkey']},{r['o_custkey']},{r['o_totalprice']}\n")

    from lazy_frame_spark.sources import ingest_gzip

    out = str(tmp_path / "orders_tbl")
    got = ingest_gzip(spark, src, out)
    assert got.count() == len(rows)
    files = [p for p in os.listdir(out) if p.endswith(".parquet")]
    assert len(files) >= spark.sparkContext.defaultParallelism // 2
    want = sorted((r["o_orderkey"], r["o_custkey"], float(r["o_totalprice"]))
                  for r in rows)
    have = sorted((r["o_orderkey"], r["o_custkey"], float(r["o_totalprice"]))
                  for r in got.collect())
    assert have == want
    # zstd actually used (parquet footer records the codec)
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(out, files[0])).metadata
    assert md.row_group(0).column(0).compression.lower() == "zstd"


def test_ingest_gzip_infers_tsv_and_rejects_unknown(spark, tmp_path):
    import gzip

    import pytest

    src = str(tmp_path / "d.tsv.gz")
    with gzip.open(src, "wt") as f:
        f.write("a\tb\n1\tx\n2\ty\n")
    from lazy_frame_spark.sources import ingest_gzip

    got = ingest_gzip(spark, src, str(tmp_path / "d_tbl"))
    assert {(r["a"], r["b"]) for r in got.collect()} == {(1, "x"), (2, "y")}
    with pytest.raises(ValueError, match="cannot infer format"):
        ingest_gzip(spark, str(tmp_path / "wat.bin.gz"), str(tmp_path / "x"))


# ---------------------------------------------------------------- #
# partition-scoped MERGE                                           #
# ---------------------------------------------------------------- #

def _scoped_fixture(spark, tmp_path, name):
    final = str(tmp_path / name)
    rows = [(i, f"s{i % 3}", float(i)) for i in range(90)]
    spark.createDataFrame(rows, "k long, status string, v double").repartition(
        2
    ).write.partitionBy("status").parquet(final)
    return final, rows


def test_merge_scoped_touches_only_affected_partitions(spark, tmp_path):
    """Updates confined to status=s1 (plus an insert into a NEW
    status=s9) must leave the s0/s2 partition directories bit-for-bit
    untouched (same files, same inodes, same mtimes) and still produce
    the exact whole-table merge result."""
    import os

    from lazy_frame_spark.sources.parquet import merge_upsert

    final, rows = _scoped_fixture(spark, tmp_path, "scoped1")

    def snapshot(p):
        out = {}
        for root, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out[fp] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    before_s0 = snapshot(os.path.join(final, "status=s0"))
    before_s2 = snapshot(os.path.join(final, "status=s2"))

    updates = spark.createDataFrame(
        [(1, "s1", 111.0), (4, "s1", 444.0), (1000, "s9", 9.0)],
        "k long, status string, v double",
    )
    got = merge_upsert(spark, final, updates, ["k", "status"],
                       scope_to_partitions=True)
    want = {(k, s, v) for k, s, v in rows if (k, s) not in {(1, "s1"), (4, "s1")}}
    want |= {(1, "s1", 111.0), (4, "s1", 444.0), (1000, "s9", 9.0)}
    assert {(r["k"], r["status"], r["v"]) for r in got.collect()} == want
    assert snapshot(os.path.join(final, "status=s0")) == before_s0
    assert snapshot(os.path.join(final, "status=s2")) == before_s2


def test_merge_scoped_matches_whole_table_merge(spark, tmp_path):
    from lazy_frame_spark.sources.parquet import merge_upsert

    f1, _ = _scoped_fixture(spark, tmp_path, "scoped_a")
    f2, _ = _scoped_fixture(spark, tmp_path, "scoped_b")
    updates = spark.createDataFrame(
        [(2, "s2", -2.0), (5, "s2", -5.0), (77, "s0", 0.5)],
        "k long, status string, v double",
    )
    a = merge_upsert(spark, f1, updates, ["k", "status"], scope_to_partitions=True)
    b = merge_upsert(spark, f2, updates, ["k", "status"])
    key = lambda r: (r["k"], r["status"], r["v"])  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_merge_scoped_rejects_partition_mobile_keys(spark, tmp_path):
    import pytest

    from lazy_frame_spark.sources.parquet import merge_upsert

    final, _ = _scoped_fixture(spark, tmp_path, "scoped_rej")
    updates = spark.createDataFrame([(1, "s1", 0.0)], "k long, status string, v double")
    with pytest.raises(ValueError, match="subset of the merge key"):
        merge_upsert(spark, final, updates, "k", scope_to_partitions=True)


def test_swap_partitions_crash_mid_batch_rolls_forward(spark, tmp_path):
    """Killed halfway through the partition-swap batch: the journal
    rolls every listed partition forward on the next read — no mixed
    old/new state survives recovery, untouched partitions unharmed."""
    import os

    import pytest

    from lazy_frame_spark.sources.parquet import (
        _SimulatedCrash,
        _swap_partitions,
        read_parquet,
    )

    final, rows = _scoped_fixture(spark, tmp_path, "scoped_crash")
    dest = final + "__merge_tmp"
    spark.createDataFrame(
        [(i, f"s{i % 3}", -1.0) for i in range(6)],
        "k long, status string, v double",
    ).write.partitionBy("status").parquet(dest)
    with pytest.raises(_SimulatedCrash):
        _swap_partitions(final, dest, ["status=s0", "status=s1", "status=s2"],
                         _crash="mid_swaps")
    got = read_parquet(spark, final)  # heals via recover_table
    assert got.filter("v = -1.0").count() == 6
    assert got.count() == 6  # all three partitions promoted to the new data
    assert not os.path.exists(final + ".__commit__")
    assert not os.path.exists(final + "__backup")
    assert not os.path.exists(dest)


def test_merge_scoped_multilevel_partitions(spark, tmp_path):
    """Two-level hive layout (status=/region=): scoped MERGE walks to
    the LEAF partition dirs, swaps only the touched (status, region)
    combinations, and leaves every other leaf bit-identical."""
    import os

    from lazy_frame_spark.sources.parquet import merge_upsert

    final = str(tmp_path / "ml")
    rows = [(i, f"s{i % 2}", f"r{i % 3}", float(i)) for i in range(60)]
    spark.createDataFrame(
        rows, "k long, status string, region string, v double"
    ).coalesce(1).write.partitionBy("status", "region").parquet(final)

    def snapshot(p):
        out = {}
        for root, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out[fp] = (st.st_ino, st.st_mtime_ns)
        return out

    untouched = {
        rel: snapshot(os.path.join(final, rel))
        for rel in ["status=s0/region=r0", "status=s0/region=r2",
                    "status=s1/region=r0", "status=s1/region=r1"]
    }
    updates = spark.createDataFrame(
        [(4, "s0", "r1", -4.0), (5, "s1", "r2", -5.0), (999, "s0", "r9", 9.0)],
        "k long, status string, region string, v double",
    )
    got = merge_upsert(spark, final, updates, ["k", "status", "region"],
                       scope_to_partitions=True)
    want = {(k, s, r, v) for k, s, r, v in rows
            if (k, s, r) not in {(4, "s0", "r1"), (5, "s1", "r2")}}
    want |= {(4, "s0", "r1", -4.0), (5, "s1", "r2", -5.0), (999, "s0", "r9", 9.0)}
    assert {(r["k"], r["status"], r["region"], r["v"]) for r in got.collect()} == want
    for rel, snap in untouched.items():
        assert snapshot(os.path.join(final, rel)) == snap, rel


def test_compact_partitions_only_fragmented(spark, tmp_path):
    """One partition fragmented into 8 tiny files, one healthy single
    file: scoped compaction collapses the fragmented dir and leaves the
    healthy one bit-identical, with all rows preserved."""
    import os

    from lazy_frame_spark.sources.parquet import compact_partitions

    final = str(tmp_path / "cp")
    frag = spark.createDataFrame(
        [(i, "hot", float(i)) for i in range(800)], "k long, part string, v double"
    ).repartition(8)
    ok = spark.createDataFrame(
        [(i, "cold", float(i)) for i in range(800, 900)],
        "k long, part string, v double",
    ).coalesce(1)
    frag.unionByName(ok).write.partitionBy("part").parquet(final)

    hot_dir = os.path.join(final, "part=hot")
    cold_dir = os.path.join(final, "part=cold")
    n_hot_before = len([f for f in os.listdir(hot_dir) if f.endswith(".parquet")])
    assert n_hot_before >= 8

    def snapshot(p):
        return {
            f: os.stat(os.path.join(p, f)).st_ino
            for f in os.listdir(p) if f.endswith(".parquet")
        }

    cold_before = snapshot(cold_dir)
    got = compact_partitions(spark, final, target_mb=128, min_files=4)
    assert got.count() == 900
    assert {r["k"] for r in got.collect()} == set(range(900))
    assert len(snapshot(hot_dir)) == 1          # fragmented -> collapsed
    assert snapshot(cold_dir) == cold_before    # healthy -> untouched
    assert not os.path.exists(final + "__compact_tmp")
    assert not os.path.exists(final + ".__commit__")
    # idempotent: nothing left to compact
    import time as _t
    m = os.path.getmtime(hot_dir)
    compact_partitions(spark, final, target_mb=128, min_files=4)
    assert os.path.getmtime(hot_dir) == m


# ---------------------------------------------------------------- #
# delete_keys                                                      #
# ---------------------------------------------------------------- #

def test_delete_keys_whole_table(spark, tmp_path):
    from lazy_frame_spark.sources.parquet import delete_keys

    final = str(tmp_path / "del1")
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    ).write.parquet(final)
    dels = spark.createDataFrame([(3,), (7,), (999,)], "k long")
    got = delete_keys(spark, final, dels, "k")
    assert {r["k"] for r in got.collect()} == set(range(20)) - {3, 7}
    import os
    assert not os.path.exists(final + ".__commit__")


def test_delete_keys_scoped_touches_only_named_partitions(spark, tmp_path):
    import os

    from lazy_frame_spark.sources.parquet import delete_keys

    final, rows = _scoped_fixture(spark, tmp_path, "del_scoped")

    def inodes(p):
        return {
            f: os.stat(os.path.join(p, f)).st_ino
            for f in os.listdir(p) if f.endswith(".parquet")
        }

    s0_before = inodes(os.path.join(final, "status=s0"))
    dels = spark.createDataFrame([(1, "s1"), (4, "s1")], "k long, status string")
    got = delete_keys(spark, final, dels, ["k", "status"], scope_to_partitions=True)
    want = {(k, s, v) for k, s, v in rows if (k, s) not in {(1, "s1"), (4, "s1")}}
    assert {(r["k"], r["status"], r["v"]) for r in got.collect()} == want
    assert inodes(os.path.join(final, "status=s0")) == s0_before


def test_delete_keys_scoped_empties_whole_partition(spark, tmp_path):
    """Deleting EVERY row of a partition must leave zero rows for it,
    not silently keep the old directory."""
    from lazy_frame_spark.sources.parquet import delete_keys

    final, rows = _scoped_fixture(spark, tmp_path, "del_empty")
    s1_keys = [(k, s) for k, s, _ in rows if s == "s1"]
    dels = spark.createDataFrame(s1_keys, "k long, status string")
    got = delete_keys(spark, final, dels, ["k", "status"], scope_to_partitions=True)
    assert got.filter("status = 's1'").count() == 0
    assert got.count() == len(rows) - len(s1_keys)


def test_delete_keys_scoped_rejects_partition_mobile(spark, tmp_path):
    import pytest

    from lazy_frame_spark.sources.parquet import delete_keys

    final, _ = _scoped_fixture(spark, tmp_path, "del_rej")
    with pytest.raises(ValueError, match="subset of the delete key"):
        delete_keys(spark, final, spark.createDataFrame([(1,)], "k long"),
                    "k", scope_to_partitions=True)


def test_scoped_merge_and_delete_empty_inputs_are_noops(spark, tmp_path):
    """An empty updates/deletes frame must leave the table untouched
    (not crash building the partition predicate)."""
    from lazy_frame_spark.sources.parquet import delete_keys, merge_upsert

    final, rows = _scoped_fixture(spark, tmp_path, "scoped_noop")
    empty = spark.createDataFrame([], "k long, status string, v double")
    got = merge_upsert(spark, final, empty, ["k", "status"],
                       scope_to_partitions=True)
    assert got.count() == len(rows)
    got = delete_keys(spark, final, empty.select("k", "status"),
                      ["k", "status"], scope_to_partitions=True)
    assert got.count() == len(rows)


def test_recover_reenters_after_interrupted_recovery(spark, tmp_path):
    """A crash DURING recovery (after some renames, journal still on
    disk) must re-enter cleanly: partially-promoted state resolves to
    the new data, never an error or a mixed table."""
    import os

    import pytest

    from lazy_frame_spark.sources.parquet import (
        _SimulatedCrash,
        _swap_in_place,
        read_parquet,
    )

    final, dest = _crash_fixture(spark, tmp_path, "t_reenter")
    with pytest.raises(_SimulatedCrash):
        _swap_in_place(final, dest, "__old", _crash="between_renames")
    # simulate a recovery that itself died after promoting the tmp but
    # before removing the journal
    os.rename(dest, final)
    assert os.path.exists(final + ".__commit__")
    _assert_recovered_to_v2(spark, final)  # re-entry heals the rest


def test_escape_partition_value_matches_spark_writer(spark, tmp_path):
    """_escape_partition_value must reproduce byte-for-byte the
    directory names Spark's partitionBy() writer produces for hostile
    values — '%', ':', '#', newline, backslash, NULL — so scoped
    delete's dir reconstruction can never miss."""
    import os

    from lazy_frame_spark.sources.parquet import _escape_partition_value

    hostile = ["a:b", "p%q", "x#1", "semi;fine", "back\\slash",
               "new\nline", "eq=sign", "sl/ash", None]
    d = str(tmp_path / "esc_probe")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(hostile)], "k long, part string"
    ).write.partitionBy("part").parquet(d)
    written = {n for n in os.listdir(d) if n.startswith("part=")}
    expect = {f"part={_escape_partition_value(v)}" for v in hostile}
    assert written == expect


def test_delete_keys_scoped_escaped_partition_value(spark, tmp_path):
    """Right-to-erasure on a partition whose value needs hive escaping:
    deleting EVERY row of partition 'b:ad%' must actually empty it (the
    all-rows-deleted swap reconstructs the escaped dir name), and the
    other escaped partition must survive untouched."""
    from lazy_frame_spark.sources.parquet import delete_keys

    final = str(tmp_path / "del_escaped")
    rows = [(1, "b:ad%", 1.0), (2, "b:ad%", 2.0), (3, "o#k", 3.0), (4, "o#k", 4.0)]
    spark.createDataFrame(rows, "k long, status string, v double") \
        .write.partitionBy("status").parquet(final)

    dels = spark.createDataFrame([(1, "b:ad%"), (2, "b:ad%")],
                                 "k long, status string")
    got = delete_keys(spark, final, dels, ["k", "status"],
                      scope_to_partitions=True)
    assert got.filter(got.status == "b:ad%").count() == 0
    assert {(r["k"], r["v"]) for r in got.filter(got.status == "o#k").collect()} \
        == {(3, 3.0), (4, 4.0)}
    # partial delete inside an escaped partition also verifies clean
    got2 = delete_keys(
        spark, final,
        spark.createDataFrame([(3, "o#k")], "k long, status string"),
        ["k", "status"], scope_to_partitions=True)
    assert {(r["k"], r["status"]) for r in got2.collect()} == {(4, "o#k")}


def test_scoped_ops_null_partition_value_no_overdelete(spark, tmp_path):
    """A NULL partition value (__HIVE_DEFAULT_PARTITION__) named by a
    delete/update must select its partition's rows null-safely: with
    plain == the predicate matches nothing, the rewrite omits the
    partition's survivors, and the swap replaces the dir with an empty
    (or update-only) one — silent loss of every surviving row. Matching
    itself keeps SQL semantics (NULL keys never equal), so the
    null-keyed delete is a no-op on rows, never an over-delete."""
    from lazy_frame_spark.sources.parquet import delete_keys, merge_upsert

    final = str(tmp_path / "null_part")
    rows = [(1, None, 1.0), (2, None, 2.0), (3, "ok", 3.0)]
    spark.createDataFrame(rows, "k long, status string, v double") \
        .write.partitionBy("status").parquet(final)

    # scoped delete naming the NULL partition: the non-matching rows
    # of that partition MUST survive
    dels = spark.createDataFrame([(1, None)], "k long, status string")
    got = delete_keys(spark, final, dels, ["k", "status"],
                      scope_to_partitions=True)
    kept = {(r["k"], r["status"], r["v"]) for r in got.collect()}
    # SQL semantics: NULL never equals NULL in the key match, so even
    # row 1 survives; the critical property is rows 2 and 3 do
    assert {(2, None, 2.0), (3, "ok", 3.0)} <= kept

    # scoped MERGE with a NULL-partition update row: existing NULL-
    # partition rows survive alongside the inserted row
    ups = spark.createDataFrame([(9, None, 9.0)], "k long, status string, v double")
    got2 = merge_upsert(spark, final, ups, ["k", "status"],
                        scope_to_partitions=True)
    kept2 = {(r["k"], r["v"]) for r in got2.filter("status IS NULL").collect()}
    assert (9, 9.0) in kept2 and (2, 2.0) in kept2


def test_delete_keys_null_safe_keys_erases_null_rows(spark, tmp_path):
    """null_safe_keys=True makes erasure match NULL key components with
    <=> (the right-to-erasure contract); the default keeps SQL IN
    semantics (NULL matches nothing). Works flat and scoped."""
    from lazy_frame_spark.sources.parquet import delete_keys

    rows = [(1, None, 1.0), (2, None, 2.0), (3, "ok", 3.0)]

    # flat table
    flat = str(tmp_path / "ns_flat")
    spark.createDataFrame(rows, "k long, status string, v double").write.parquet(flat)
    dels = spark.createDataFrame([(1, None)], "k long, status string")
    got = delete_keys(spark, flat, dels, ["k", "status"], null_safe_keys=True)
    assert {(r["k"], r["v"]) for r in got.collect()} == {(2, 2.0), (3, 3.0)}

    # scoped: NULL partition value selected AND the keyed row erased
    part = str(tmp_path / "ns_part")
    spark.createDataFrame(rows, "k long, status string, v double") \
        .write.partitionBy("status").parquet(part)
    got2 = delete_keys(spark, part, dels, ["k", "status"],
                       scope_to_partitions=True, null_safe_keys=True)
    assert {(r["k"], r["v"]) for r in got2.collect()} == {(2, 2.0), (3, 3.0)}


def _snapshot_tree(p):
    import os

    out = {}
    for root, _, files in os.walk(p):
        for f in files:
            fp = os.path.join(root, f)
            st = os.stat(fp)
            out[fp] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _hostile_two_level_fixture(spark, tmp_path, name):
    """Two-level hive layout with HOSTILE partition values on BOTH
    levels: escape-set characters (:, %, /, #, newline) and NULL (the
    __HIVE_DEFAULT_PARTITION__ dir) — every corner
    _escape_partition_value has to reproduce byte-for-byte."""
    statuses = ["a:b", "p%1", None, "n\nl"]
    regions = ["r/0", "r#1", None]
    rows = [
        (i, statuses[i % 4], regions[i % 3], float(i)) for i in range(120)
    ]
    final = str(tmp_path / name)
    spark.createDataFrame(
        rows, "k long, status string, region string, v double"
    ).coalesce(1).write.partitionBy("status", "region").parquet(final)
    return final, rows, statuses, regions


def test_merge_scoped_multilevel_hostile_values(spark, tmp_path):
    """Scoped MERGE on a two-level layout whose partition values need
    escaping on BOTH levels (plus NULL at both levels): only the
    touched (status, region) leaves rewrite — every other hostile leaf
    stays bit-identical — and the result equals the whole-table merge
    twin exactly."""
    import os

    from lazy_frame_spark.sources.parquet import merge_upsert

    f1, rows, _s, _r = _hostile_two_level_fixture(spark, tmp_path, "mlh1")
    f2, _, _, _ = _hostile_two_level_fixture(spark, tmp_path, "mlh2")

    # touched leaves: ('a:b', 'r/0') update, (None, 'r#1') update, and
    # an insert creating a NEW hostile leaf ('p%1', 'zz:9')
    updates = spark.createDataFrame(
        [(0, "a:b", "r/0", -1.0), (2, None, "r#1", -2.0),
         (1000, "p%1", "zz:9", 9.0)],
        "k long, status string, region string, v double",
    )
    untouched_rels = [
        "status=a%3Ab/region=r%231",              # ('a:b', 'r#1')
        "status=p%251/region=__HIVE_DEFAULT_PARTITION__",
        "status=__HIVE_DEFAULT_PARTITION__/region=r%2F0",
        "status=n%0Al/region=r%2F0",
    ]
    for rel in untouched_rels:  # fixture sanity: the dirs exist as named
        assert os.path.isdir(os.path.join(f1, rel)), rel
    before = {rel: _snapshot_tree(os.path.join(f1, rel))
              for rel in untouched_rels}

    a = merge_upsert(spark, f1, updates, ["k", "status", "region"],
                     scope_to_partitions=True)
    b = merge_upsert(spark, f2, updates, ["k", "status", "region"])
    key = lambda r: (r["k"], r["status"], r["region"], r["v"])  # noqa: E731
    assert set(map(key, a.collect())) == set(map(key, b.collect()))

    want = {(k, s, r, v) for k, s, r, v in rows
            if (k, s, r) not in {(0, "a:b", "r/0"), (2, None, "r#1")}}
    want |= {(0, "a:b", "r/0", -1.0), (2, None, "r#1", -2.0),
             (1000, "p%1", "zz:9", 9.0)}
    assert set(map(key, a.collect())) == want
    for rel, snap in before.items():
        assert _snapshot_tree(os.path.join(f1, rel)) == snap, rel
    assert os.path.isdir(os.path.join(f1, "status=p%251/region=zz%3A9"))


def test_delete_scoped_multilevel_hostile_values(spark, tmp_path):
    """Scoped DELETE on the hostile two-level layout: erasing one key
    from a hostile leaf, WIPING another leaf entirely (its dir must
    swap to empty), and a NULL-keyed erasure under null_safe_keys —
    untouched hostile leaves bit-identical, survivors cross-checked."""
    import os

    from lazy_frame_spark.sources.parquet import delete_keys

    final, rows, _s, _r = _hostile_two_level_fixture(spark, tmp_path, "mld")

    # leaf ('n\nl', None) holds keys {3+12j}∩{i%3==2} — wipe it whole
    wipe = [(k, s, r) for k, s, r, _v in rows if s == "n\nl" and r is None]
    assert wipe, "fixture must populate the wiped leaf"
    dels = [(0, "a:b", "r/0")] + wipe + [(2, None, "r#1")]
    deletes = spark.createDataFrame(
        dels, "k long, status string, region string")
    untouched_rels = [
        "status=a%3Ab/region=r%231",
        "status=p%251/region=r%2F0",
        "status=__HIVE_DEFAULT_PARTITION__/region=__HIVE_DEFAULT_PARTITION__",
    ]
    before = {rel: _snapshot_tree(os.path.join(final, rel))
              for rel in untouched_rels}

    got = delete_keys(spark, final, deletes, ["k", "status", "region"],
                      scope_to_partitions=True, null_safe_keys=True)
    gone = {(k, s, r) for k, s, r in dels}
    want = {(k, s, r, v) for k, s, r, v in rows if (k, s, r) not in gone}
    key = lambda r: (r["k"], r["status"], r["region"], r["v"])  # noqa: E731
    assert set(map(key, got.collect())) == want
    # the wiped hostile leaf swapped to an EMPTY dir (no parquet left)
    wiped_dir = os.path.join(
        final, "status=n%0Al/region=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(wiped_dir)
    assert not [f for f in os.listdir(wiped_dir) if f.endswith(".parquet")]
    for rel, snap in before.items():
        assert _snapshot_tree(os.path.join(final, rel)) == snap, rel


def test_swap_partitions_multilevel_crash_kill_points(spark, tmp_path):
    """_swap_partitions over two-level leaves with a kill at EVERY
    injection point: mid-batch (half the leaves promoted) and
    before-cleanup (all promoted, journal still live). Both heal on
    the next read — every listed leaf rolls FORWARD, the untouched
    leaf keeps its exact files, and no journal/backup/tmp residue
    survives."""
    import os

    import pytest

    from lazy_frame_spark.sources.parquet import (
        _SimulatedCrash,
        _swap_partitions,
        read_parquet,
    )

    for crash in ("mid_swaps", "before_cleanup"):
        final = str(tmp_path / f"mlc_{crash}")
        rows = [(i, f"s{i % 2}", f"r{(i // 2) % 2}", float(i))
                for i in range(40)]  # 10 rows in each of 4 leaves
        spark.createDataFrame(
            rows, "k long, status string, region string, v double"
        ).coalesce(1).write.partitionBy("status", "region").parquet(final)
        untouched = _snapshot_tree(os.path.join(final, "status=s1/region=r1"))

        dest = final + "__merge_tmp"
        # three touched leaves; (s1, r1) deliberately left out
        new = [(k, s, r, -1.0) for k, s, r, _v in rows if (s, r) != ("s1", "r1")]
        spark.createDataFrame(
            new, "k long, status string, region string, v double",
        ).coalesce(1).write.partitionBy("status", "region").parquet(dest)
        pdirs = ["status=s0/region=r0", "status=s0/region=r1",
                 "status=s1/region=r0"]
        with pytest.raises(_SimulatedCrash):
            _swap_partitions(final, dest, pdirs, _crash=crash)

        got = read_parquet(spark, final)  # heals via recover_table
        assert got.filter("v = -1.0").count() == 30, crash
        assert got.filter("status = 's1' AND region = 'r1' AND v >= 0") \
                  .count() == 10, crash
        assert _snapshot_tree(os.path.join(final, "status=s1/region=r1")) \
            == untouched, crash
        assert not os.path.exists(final + ".__commit__"), crash
        assert not os.path.exists(final + "__backup"), crash
        assert not os.path.exists(dest), crash


# ---------------------------------------------------------------------------
# versioned tables (time travel)
# ---------------------------------------------------------------------------


def _vt_rows(spark, lo, hi, flag="a"):
    return spark.createDataFrame(
        [(i, float(i) * 10, flag) for i in range(lo, hi)],
        "k long, v double, flag string",
    )


def test_versioned_lifecycle_time_travel(spark, tmp_path):
    """write -> append -> delete -> restore: every committed state stays
    readable at its version number; history records the log; append and
    restore move ZERO existing data (files carried by reference)."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vt")
    v1 = V.write_versioned(_vt_rows(spark, 0, 10), t)
    v2 = V.append_versioned(_vt_rows(spark, 10, 15, "b"), t)
    v3, stats = V.delete_versioned(spark, t, "flag = 'b' AND k >= 12")
    v4 = V.restore_versioned(t, v1)
    assert (v1, v2, v3, v4) == (1, 2, 3, 4)

    def keys(version):
        return sorted(
            r["k"] for r in V.read_versioned(spark, t, version).collect()
        )

    assert keys(1) == list(range(10))
    assert keys(2) == list(range(15))
    assert keys(3) == list(range(12))          # 12..14 deleted
    assert keys(4) == list(range(10))          # restored to v1
    assert keys(None) == list(range(10))       # latest == v4
    assert stats["rows_deleted"] == 3

    hist = V.history(t)
    assert [h["action"] for h in hist] == [
        "overwrite", "append", "delete", "restore"]
    assert [h["rows"] for h in hist] == [10, 15, 12, 10]
    assert hist[2]["predicate"] == "flag = 'b' AND k >= 12"
    assert hist[3]["restored_from"] == 1
    # restore carried v1's files verbatim — no new data directory
    import os
    dirs_after_v3 = 3  # v1 snapshot, v2 append, v3 delete rewrite
    assert len(os.listdir(os.path.join(t, "data"))) == dirs_after_v3


def test_versioned_delete_is_file_grain(spark, tmp_path):
    """Only files containing matches are rewritten: untouched files
    carry over byte-identical (same inode path, same mtime), and
    NULL-predicate rows are KEPT (SQL DELETE semantics)."""
    import os

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vtfg")
    # two files with disjoint key ranges via repartitionByRange
    df = spark.createDataFrame(
        [(i, float(i) if i != 3 else None) for i in range(20)],
        "k long, v double",
    ).repartitionByRange(2, "k")
    V.write_versioned(df, t)
    man1 = V._read_manifest(t, 1)
    assert len(man1["files"]) == 2
    stamps = {
        f: os.stat(os.path.join(t, f)).st_mtime_ns for f in man1["files"]
    }

    # matches live only in the high-range file; v IS NULL (k=3) kept
    v2, stats = V.delete_versioned(spark, t, "v >= 15")
    assert stats["files_rewritten"] == 1 and stats["files_carried"] == 1
    man2 = V._read_manifest(t, v2)
    carried = [f for f in man2["files"] if f in stamps]
    assert len(carried) == 1
    assert os.stat(os.path.join(t, carried[0])).st_mtime_ns \
        == stamps[carried[0]]
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == list(range(15))  # 15..19 deleted, NULL row 3 kept

    # no-match delete commits a pure-reference version (0 rewrites)
    v3, stats3 = V.delete_versioned(spark, t, "v > 1e9")
    assert stats3 == {"files_rewritten": 0, "files_carried": 2,
                      "files_written": 0, "rows_deleted": 0}
    assert V.read_versioned(spark, t, v3).count() == 15


def test_versioned_conflict_empty_and_vacuum(spark, tmp_path):
    """Single-winner commits: publishing the same version number twice
    raises VersionConflict. Deleting every row yields an empty frame
    with the committed schema. vacuum keeps retained versions readable
    and reclaims unreferenced files + orphan temp dirs."""
    import os

    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vtc")
    V.write_versioned(_vt_rows(spark, 0, 4), t)
    with pytest.raises(V.VersionConflict):
        V._publish(t, 1, {"version": 1, "action": "x", "files": [],
                          "schema": "{}", "parent": None})

    v2, _ = V.delete_versioned(spark, t, "k IS NOT NULL OR k IS NULL")
    empty = V.read_versioned(spark, t, v2)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v", "flag"]

    # orphan temp dir (simulated crash) + vacuum to the last 1 version
    os.makedirs(os.path.join(t, "data", ".tmp-crashed"), exist_ok=True)
    V.restore_versioned(t, 1)  # v3: table back to 4 rows
    out = V.vacuum_versioned(t, keep_last=1)
    assert out["orphan_tmp_dirs"] == 1
    assert out["manifests_dropped"] == 2
    # v3 references v1's files, so they must survive vacuum
    assert sorted(
        r["k"] for r in V.read_versioned(spark, t).collect()
    ) == [0, 1, 2, 3]
    assert V._versions(t) == [3]


def test_versioned_compaction_commit(spark, tmp_path):
    """compact_versioned: many small appended files coalesce into one
    new data dir as a COMMIT — same rows before/after, healthy files
    carried by reference, pre-compaction versions still readable."""
    import os

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vtcomp")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    for lo in range(5, 25, 5):
        V.append_versioned(_vt_rows(spark, lo, lo + 5).coalesce(1), t)
    pre = V.latest_version(t)
    pre_files = len(V._read_manifest(t, pre)["files"])
    assert pre_files >= 5

    v, stats = V.compact_versioned(spark, t, target_mb=128, small_mb=8)
    assert v == pre + 1
    assert stats["files_compacted"] == pre_files
    assert stats["files_written"] == 1
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == list(range(25))
    # pre-compaction version still readable (old files retained)
    assert V.read_versioned(spark, t, pre).count() == 25
    hist = V.history(t)
    assert hist[-1]["action"] == "compact" and hist[-1]["rows"] == 25
    # a second compaction is a no-op (single healthy file)
    v2, stats2 = V.compact_versioned(spark, t)
    assert v2 == v and stats2["files_compacted"] == 0
    assert not any(n.startswith(".tmp-")
                   for n in os.listdir(os.path.join(t, "data")))


def test_rewrite_file_count_rounds_up():
    """Compactions and a keyed commit's landing rows write
    ⌈bytes / target⌉ files, at least one: an input that is an exact
    multiple of the target gets no extra, near-empty file."""
    from lazy_frame_spark.sources.parquet import n_files

    mib = 1024 * 1024
    assert n_files(256 * mib, 128) == 2
    assert n_files(256 * mib + 1, 128) == 3
    assert n_files(256 * mib) == 2
    assert n_files(0, 128) == 1


def test_versioned_stream_writer_exactly_once(spark, tmp_path):
    """versioned_stream_writer: each micro-batch commits as an append
    with its batch id in the manifest; a REPLAYED batch (restart
    semantics deliver the last epoch at-least-once) is skipped, so the
    table holds exactly one copy of every batch's rows."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vtstream")
    w = V.versioned_stream_writer(t)
    w(_vt_rows(spark, 0, 10), 0)
    w(_vt_rows(spark, 10, 14), 1)
    assert V.last_stream_batch(t) == 1
    # replay of batch 1 (and a stale 0) after a simulated restart
    w2 = V.versioned_stream_writer(t)
    w2(_vt_rows(spark, 10, 14), 1)
    w2(_vt_rows(spark, 0, 10), 0)
    assert V.latest_version(t) == 2  # no new commits
    w2(_vt_rows(spark, 14, 17), 2)
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == list(range(17))
    assert [h.get("rows") for h in V.history(t)] == [10, 14, 17]
    # the audit log attributes every ingest epoch to its stream
    assert [(h.get("stream_id"), h.get("stream_batch_id"))
            for h in V.history(t)] == [("default", 0), ("default", 1),
                                       ("default", 2)]


def test_versioned_stream_merger_upserts_exactly_once(spark, tmp_path):
    """versioned_stream_merger: the streaming UPSERT sink — each
    micro-batch merges by key (replace-or-insert), replays are skipped
    by the high-water mark AND idempotent by key regardless, and the
    batch id rides the merge commit itself (atomic with the data)."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vtmerge")
    w = V.versioned_stream_merger(t, "k")
    w(_vt_rows(spark, 0, 10), 0)                  # bootstrap snapshot
    w(_vt_rows(spark, 5, 14, flag="b"), 1)        # upsert 5..13 -> 'b'
    got = {r["k"]: r["flag"]
           for r in V.read_versioned(spark, t).collect()}
    assert len(got) == 14
    assert all(got[k] == "a" for k in range(0, 5))
    assert all(got[k] == "b" for k in range(5, 14))
    # replay after simulated restart: skipped, state unchanged
    v_before = V.latest_version(t)
    w2 = V.versioned_stream_merger(t, "k")
    w2(_vt_rows(spark, 5, 14, flag="b"), 1)
    w2(_vt_rows(spark, 0, 10), 0)
    assert V.latest_version(t) == v_before
    assert V.last_stream_batch(t) == 1
    # next batch advances; the merge commit carries the stream id
    w2(_vt_rows(spark, 12, 16, flag="c"), 2)
    got = {r["k"]: r["flag"]
           for r in V.read_versioned(spark, t).collect()}
    assert len(got) == 16
    assert all(got[k] == "c" for k in range(12, 16))
    hist = V.history(t)
    assert hist[-1]["action"] == "merge"
    assert hist[-1]["stream_batch_id"] == 2


def test_versioned_appended_since(spark, tmp_path):
    """appended_since: the incremental-consume primitive — a pure
    manifest file-diff returning exactly the rows committed after the
    consumer's recorded version; non-append chains refuse (file diff
    would misreport moved/removed rows); an empty increment yields an
    empty frame with the committed schema."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vinc")
    V.write_versioned(_vt_rows(spark, 0, 10), t)          # v1
    V.append_versioned(_vt_rows(spark, 10, 15), t)        # v2
    V.append_versioned(_vt_rows(spark, 15, 18), t)        # v3

    inc = V.appended_since(spark, t, 1)
    assert sorted(r["k"] for r in inc.collect()) == list(range(10, 18))
    inc23 = V.appended_since(spark, t, 2, version=3)
    assert sorted(r["k"] for r in inc23.collect()) == [15, 16, 17]
    empty = V.appended_since(spark, t, 3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v", "flag"]

    V.delete_versioned(spark, t, "k >= 16")               # v4
    V.append_versioned(_vt_rows(spark, 18, 20), t)        # v5
    with pytest.raises(ValueError, match="delete"):
        V.appended_since(spark, t, 3)
    # but the post-delete append-only tail is still consumable
    inc45 = V.appended_since(spark, t, 4)
    assert sorted(r["k"] for r in inc45.collect()) == [18, 19]
    with pytest.raises(ValueError, match="newer"):
        V.appended_since(spark, t, 9)


def test_appended_since_accepts_alter_and_walks_meta_only(
        spark, tmp_path, monkeypatch):
    """An add_constraint between appends keeps the file diff exact
    (``alter`` commits carry their parent's files by reference), so
    appended_since must accept it — the same additive set the rebase
    protocol and the stream reader use; refusing needlessly broke
    every incremental consumer on a constrained table. And the
    intervening-action walk must never reconstitute an offloaded
    manifest LIST: only the base and head manifests (whose file lists
    the diff genuinely needs) may pay that read."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vinc_alter")
    # force every commit's file list into the columnar sidecar so a
    # full-manifest read is observable
    monkeypatch.setattr(V, "_MANIFEST_PARQUET_THRESHOLD", 0)
    V.write_versioned(_vt_rows(spark, 0, 10), t)              # v1
    V.append_versioned(_vt_rows(spark, 10, 15), t)            # v2
    V.add_constraint(spark, t, "nonneg", "k >= 0")            # v3 alter
    V.append_versioned(_vt_rows(spark, 15, 18), t)            # v4

    full_reads: list[int] = []
    orig = V._read_manifest

    def counting(path, version):
        full_reads.append(version)
        return orig(path, version)

    monkeypatch.setattr(V, "_read_manifest", counting)
    V._MANIFEST_LIST_CACHE.clear()
    inc = V.appended_since(spark, t, 1)
    assert sorted(r["k"] for r in inc.collect()) == list(range(10, 18))
    # only base (1) and head (4) reconstitute; v2/v3 walk as metadata
    assert sorted(full_reads) == [1, 4]
    # the constraint is live on the chain the increments rode over
    with pytest.raises(ValueError, match="nonneg"):
        V.append_versioned(_vt_rows(spark, -5, -1), t)
    # a destructive action still refuses through the alter chain
    V.delete_versioned(spark, t, "k >= 16")
    with pytest.raises(ValueError, match="delete"):
        V.appended_since(spark, t, 2)


def test_join_view_update_survives_add_constraint_between_appends(
        spark, tmp_path):
    """The incremental-consumer integration of the alter fix: a CHECK
    constraint added to a side table between appends must not break
    join_view_update (its deltas ride appended_since)."""
    from lazy_frame_spark.operators.incremental import (
        join_view_init,
        join_view_update,
    )
    from lazy_frame_spark.sources import versioned as V

    a, b, view = (str(tmp_path / n) for n in ("jv_a", "jv_b", "jv_v"))
    V.write_versioned(_vt_rows(spark, 0, 10).select("k", "v"), a)
    V.write_versioned(
        _vt_rows(spark, 0, 10).select("k", "flag"), b)
    join_view_init(spark, view, a, b, on="k")
    V.add_constraint(spark, a, "nonneg", "k >= 0")
    V.append_versioned(_vt_rows(spark, 10, 14).select("k", "v"), a)
    V.append_versioned(_vt_rows(spark, 10, 14).select("k", "flag"), b)
    join_view_update(spark, view, a, b)
    got = V.read_versioned(spark, view)
    exp = _vt_rows(spark, 0, 14).select("k", "v", "flag")
    assert got.count() == 14
    assert got.exceptAll(exp.select(*got.columns)).count() == 0


def test_versioned_delete_in_path_with_space(spark, tmp_path):
    """input_file_name() percent-encodes URIs: a table path containing a
    space must still file-match (regression: encoded paths never hit
    the manifest relpaths, silently carrying every file)."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "v table ü")
    V.write_versioned(_vt_rows(spark, 0, 10), t)
    v2, stats = V.delete_versioned(spark, t, "k >= 8")
    assert stats["files_rewritten"] >= 1
    assert stats["rows_deleted"] == 2
    got = sorted(r["k"] for r in V.read_versioned(spark, t, v2).collect())
    assert got == list(range(8))


def test_lazyframe_open_versioned_time_travel(spark, tmp_path):
    """LazyFrame.open(format='versioned', version=k): the reference's
    reopen generalized to 'reopen AS OF' — the facade's positional and
    metadata surface works identically over any committed state."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vlf")
    V.write_versioned(_vt_rows(spark, 0, 10), t)
    V.append_versioned(_vt_rows(spark, 10, 15, "b"), t)

    lf1 = LazyFrame.open(spark, t, format="versioned", version=1,
                         order_by=["k"])
    lf2 = LazyFrame.open(spark, t, format="versioned", order_by=["k"])
    assert lf1.dim() == (10, 3) and lf2.dim() == (15, 3)
    assert sorted(lf2.rows(range(11, 16)).to_pandas()["k"].tolist()) == \
        [10, 11, 12, 13, 14]  # set-semantics positional selection
    assert lf1.names() == ["k", "v", "flag"]
    # stringified version (the option idiom other formats use) works;
    # inapplicable reader options are refused, not silently dropped
    assert LazyFrame.open(spark, t, format="versioned",
                          version="1").nrow() == 10
    with pytest.raises(ValueError, match="do not apply"):
        LazyFrame.open(spark, t, format="versioned", mergeSchema=True)
    lf1.close()
    lf2.close()


def test_versioned_randomized_ops_vs_model(spark, tmp_path):
    """Model-based check: a seeded 40-op sequence of append / delete
    (both strategies) / merge upsert / merge delete-by-key / purge /
    restore / compact / cluster against a pure-Python model of the
    table's row-set per version; every committed version re-reads to
    exactly its model state at the end (time travel never decays).
    Rows are ``(k, k % 7)`` so the row set is a pure function of the
    key set — merges replace rows with identical content, keeping the
    model a set of keys. Manifest row counts match the model except
    where deletion vectors mask rows (physical-rows contract)."""
    import random

    from lazy_frame_spark.sources import versioned as V

    rng = random.Random(42)
    t = str(tmp_path / "vmodel")

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, float(i % 7)) for i in range(lo, hi)], "k long, v double"
        )

    next_k = 0
    model: dict[int, set[int]] = {}

    def commit_rows():
        return set()

    # v1: initial snapshot
    V.write_versioned(mk(0, 20), t)
    model[1] = set(range(20))
    next_k = 20

    for _ in range(40):
        op = rng.choice(["append", "append", "delete", "mor_delete",
                         "merge", "merge_delete", "purge", "restore",
                         "compact", "cluster"])
        cur = V.latest_version(t)
        if op == "append":
            n = rng.randint(1, 15)
            V.append_versioned(mk(next_k, next_k + n), t)
            model[cur + 1] = model[cur] | set(range(next_k, next_k + n))
            next_k += n
        elif op in ("delete", "mor_delete"):
            m = rng.choice([2, 3, 5])
            r = rng.randint(0, m - 1)
            strat = ("merge-on-read" if op == "mor_delete" else "rewrite")
            v, stats = V.delete_versioned(spark, t, f"k % {m} = {r}",
                                          strategy=strat)
            assert v == cur + 1
            model[v] = {k for k in model[cur] if k % m != r}
        elif op == "merge":
            # upsert: some existing keys re-written identically, some
            # fresh keys inserted — model = old ∪ source keys
            existing = set(rng.sample(sorted(model[cur]),
                                      min(5, len(model[cur]))))
            fresh = set(range(next_k, next_k + rng.randint(0, 6)))
            next_k += len(fresh)
            src_keys = sorted(existing | fresh)
            if not src_keys:
                continue
            src = spark.createDataFrame(
                [(k, float(k % 7)) for k in src_keys],
                "k long, v double")
            v, _stats = V.merge_versioned(spark, t, src, "k")
            assert v == cur + 1
            model[v] = model[cur] | set(src_keys)
        elif op == "merge_delete":
            if not model[cur]:
                continue
            doomed = set(rng.sample(sorted(model[cur]),
                                    min(4, len(model[cur]))))
            src = spark.createDataFrame([(k,) for k in sorted(doomed)],
                                        "k long")
            v, _stats = V.merge_versioned(spark, t, src, "k",
                                          when_matched="delete")
            assert v == cur + 1
            model[v] = model[cur] - doomed
        elif op == "purge":
            v, stats = V.purge_dvs(spark, t)
            if v == cur:
                continue  # nothing outstanding: no commit
            model[v] = set(model[cur])
        elif op == "restore":
            target = rng.randint(1, cur)
            V.restore_versioned(t, target)
            model[cur + 1] = set(model[target])
        elif op == "cluster":
            # full or incremental re-layout: both are logical no-ops
            if rng.random() < 0.5:
                v, _ = V.cluster_versioned(spark, t, ["k"],
                                           num_partitions=2)
                assert v == cur + 1
                model[v] = set(model[cur])
            else:
                try:
                    v, stats = V.cluster_increment(spark, t, ["k"],
                                                   num_partitions=2)
                except ValueError:
                    continue  # no prior cluster / non-append chain
                if stats["files_tail_in"]:
                    assert v == cur + 1
                    model[v] = set(model[cur])
                else:
                    assert v == cur  # empty tail: no commit
        else:
            v, stats = V.compact_versioned(spark, t, small_mb=64)
            if stats["files_compacted"]:
                assert v == cur + 1
                model[v] = set(model[cur])
            else:
                assert v == cur  # no-op: no commit

    hist = {h["version"]: h for h in V.history(t)}
    for version, want in model.items():
        got = {r["k"] for r in V.read_versioned(spark, t, version).collect()}
        assert got == want, f"version {version}"
        # manifest rows are PHYSICAL footer counts: exact without DVs,
        # an over-count (never under) while deletion vectors mask rows
        man = V._read_manifest(t, version)
        if man.get("dv_files"):
            assert hist[version]["rows"] >= len(want), f"rows v{version}"
        else:
            assert hist[version]["rows"] == len(want), f"rows v{version}"

    # diff_versions agrees with the MODEL's set difference for every
    # adjacent-and-random version pair (rows here are unique per key,
    # so set difference IS the multiset difference)
    versions = sorted(model)
    pairs = [(versions[i], versions[i + 1])
             for i in range(len(versions) - 1)][:8]
    pairs += [tuple(sorted(rng.sample(versions, 2))) for _ in range(5)]
    for va, vb in pairs:
        d = V.diff_versions(spark, t, va, vb).collect()
        ins = {r["k"] for r in d if r["change_type"] == "insert"}
        dels = {r["k"] for r in d if r["change_type"] == "delete"}
        assert ins == model[vb] - model[va], f"insert diff {va}->{vb}"
        assert dels == model[va] - model[vb], f"delete diff {va}->{vb}"
        assert len(d) == len(ins) + len(dels)  # no duplicate tags


def test_versioned_crashed_commit_retries_and_vacuums(spark, tmp_path):
    """A commit that dies between the data-dir rename and the manifest
    publish must not brick its version number: attempt dirs are
    uuid-unique, the retry commits cleanly, and vacuum reclaims the
    unreferenced orphan (review finding: final-named orphans made
    every retry fail os.replace with ENOTEMPTY)."""
    import os

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vcrash")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    # simulate the crash: data dir renamed into place, no manifest
    orphan_files = V._write_data_dir(_vt_rows(spark, 5, 9), t, 2)
    assert V.latest_version(t) == 1
    # the retry of version 2 succeeds despite the orphan
    v2 = V.append_versioned(_vt_rows(spark, 5, 9), t)
    assert v2 == 2
    assert V.read_versioned(spark, t).count() == 9
    # vacuum reclaims the orphan attempt dir, keeps every live file
    out = V.vacuum_versioned(t)
    assert out["orphan_tmp_dirs"] == 1
    assert not os.path.exists(
        os.path.join(t, os.path.dirname(orphan_files[0])))
    assert V.read_versioned(spark, t).count() == 9
    assert V.read_versioned(spark, t, 1).count() == 5


def test_versioned_append_schema_mismatch_refused(spark, tmp_path):
    """append_versioned refuses a batch whose (name, type) set diverges
    from the committed schema — parquet append never validates, and a
    forked file list reads missing columns as NULL silently."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vschema")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    bad = spark.createDataFrame([(9, 1.0, "x")],
                                "k long, val double, flag string")
    with pytest.raises(ValueError, match="diverges"):
        V.append_versioned(bad, t)
    # same names, one type changed: also refused
    bad2 = spark.createDataFrame([(9, 1, "x")],
                                 "k long, v long, flag string")
    with pytest.raises(ValueError, match="diverges"):
        V.append_versioned(bad2, t)
    # column order is not significant
    ok = spark.createDataFrame([("x", 9, 1.0)],
                               "flag string, k long, v double")
    assert V.append_versioned(ok.select("k", "v", "flag"), t) == 2


def test_versioned_stream_high_water_survives_vacuum(spark, tmp_path):
    """vacuum folds dropped manifests' stream batch ids into the
    _stream_hw.json sidecar, so a post-vacuum replayed epoch is still
    absorbed (review finding: dropping every id-bearing manifest reset
    the mark and re-ingested duplicates)."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vhw")
    w = V.versioned_stream_writer(t)
    w(_vt_rows(spark, 0, 6), 0)
    w(_vt_rows(spark, 6, 9), 1)
    V.compact_versioned(spark, t, small_mb=64)     # v3: no batch id
    assert V.last_stream_batch(t) == 1
    V.vacuum_versioned(t, keep_last=1)             # only v3 remains
    assert V.last_stream_batch(t) == 1             # sidecar carries it
    w(_vt_rows(spark, 6, 9), 1)                    # replay: absorbed
    assert V.read_versioned(spark, t).count() == 9
    w(_vt_rows(spark, 9, 11), 2)                   # new epoch: lands
    assert V.read_versioned(spark, t).count() == 11
    # a different stream_id keeps its own mark
    assert V.last_stream_batch(t, "other") is None


def test_versioned_stream_replay_runs_no_job(spark, tmp_path):
    """A replayed batch id is skipped by the commit's own txn check
    before any write or scan: for the append, MERGE and CDC sinks the
    replay submits no Spark job, writes no data directory and commits
    nothing."""
    import os
    import uuid

    from lazy_frame_spark.sources import versioned as V

    def jobs(fn) -> int:
        sc = spark.sparkContext
        group = f"lfs-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "stream replay test")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sinks = [
        ("append", V.versioned_stream_writer, _vt_rows(spark, 10, 14)),
        ("merge", lambda t: V.versioned_stream_merger(t, "k"),
         _vt_rows(spark, 2, 6, flag="b")),
        ("cdc", lambda t: V.versioned_stream_cdc(t, "k"),
         _vt_rows(spark, 2, 4, flag="c").withColumn("op", F.lit("update"))),
    ]
    for name, sink, batch in sinks:
        t = str(tmp_path / name)
        V.write_versioned(_vt_rows(spark, 0, 10), t)
        sink(t)(batch, 0)
        v = V.latest_version(t)
        data = sorted(os.listdir(os.path.join(t, "data")))
        assert jobs(lambda: sink(t)(batch, 0)) == 0, name
        assert V.latest_version(t) == v, name
        assert sorted(os.listdir(os.path.join(t, "data"))) == data, name
        assert V.last_stream_batch(t) == 0, name


def test_versioned_cluster_commit_tightens_file_stats(spark, tmp_path):
    """cluster_versioned: same rows before/after (logical no-op), the
    pre-cluster version stays readable, and the rewritten files carry
    TIGHT per-file min/max on the clustered column (each file covers a
    compact z-interval) where the shuffled original's files each
    spanned nearly the whole domain — the stats pushdown prunes on."""
    import os

    import pyarrow.parquet as pq

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vcluster")
    # x is HIGH-CARDINALITY (up to ~4M >> 2^16) and offset negative:
    # the raw values violate z_value's bucketed-domain contract, so
    # clustering must min/max-scale them first or the promised
    # tightening silently never happens (review finding)
    df = spark.createDataFrame(
        [(i, ((i * 7919) % 1000) * 4096 - 2_000_000, float(i))
         for i in range(4000)],
        "k long, x long, v double",
    ).repartition(8)  # shuffled: every file spans ~the whole x domain
    V.write_versioned(df, t)

    def file_spans(version):
        spans = []
        for rel in V._read_manifest(t, version)["files"]:
            md = pq.ParquetFile(os.path.join(t, rel)).metadata
            names = {md.schema.column(i).path: i
                     for i in range(md.num_columns)}
            ci = names["x"]
            lo = min(md.row_group(g).column(ci).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(ci).statistics.max
                     for g in range(md.num_row_groups))
            spans.append(hi - lo)
        return spans

    v2, stats = V.cluster_versioned(spark, t, ["x"], num_partitions=8)
    assert v2 == 2 and stats["files_out"] >= 4
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == list(range(4000))
    assert V.read_versioned(spark, t, 1).count() == 4000
    # clustered files each cover a narrow x-interval; shuffled ones
    # each covered ~the full 0..999 domain
    assert max(file_spans(2)) < min(file_spans(1)) / 2
    hist = V.history(t)
    assert hist[-1]["action"] == "cluster"
    assert hist[-1]["cluster_cols"] == ["x"]
    # the file diff refuses across a cluster commit (rows moved)
    import pytest

    V.append_versioned(spark.createDataFrame(
        [(9999, -5, 1.0)], "k long, x long, v double"), t)
    with pytest.raises(ValueError, match="cluster"):
        V.appended_since(spark, t, 1)
    assert V.appended_since(spark, t, 2).count() == 1


def test_versioned_cluster_increment(spark, tmp_path):
    """cluster_increment re-lays-out ONLY the files appended after the
    last cluster commit: the clustered body is carried by reference
    (identical relative paths, zero data movement), the result is a
    logical no-op, and non-append chains / missing-baseline calls
    refuse with an actionable error."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vinc_cluster")
    V.write_versioned(_vt_rows(spark, 0, 1000).repartition(4), t)   # v1
    with pytest.raises(ValueError, match="no prior cluster"):
        V.cluster_increment(spark, t, ["k"])
    V.cluster_versioned(spark, t, ["k"], num_partitions=4)          # v2
    body = set(V._read_manifest(t, 2)["files"])
    V.append_versioned(_vt_rows(spark, 1000, 1400).repartition(3), t)  # v3
    V.append_versioned(_vt_rows(spark, 1400, 1600).repartition(3), t)  # v4
    v5, stats = V.cluster_increment(spark, t, ["k"], num_partitions=2)
    assert v5 == 5
    assert stats["files_carried"] == len(body)
    assert stats["files_tail_in"] == 6 and stats["files_out"] <= 2
    man = V._read_manifest(t, 5)
    # the clustered body rides along by reference — same relative paths
    assert body <= set(man["files"])
    assert len(man["files"]) == len(body) + stats["files_out"]
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == list(range(1600))
    hist = V.history(t)
    assert hist[-1]["action"] == "cluster"
    assert hist[-1]["cluster_since"] == 2
    # immediate re-increment: nothing to do, no new commit
    v_again, s_again = V.cluster_increment(spark, t, ["k"])
    assert v_again == 5 and s_again["files_tail_in"] == 0
    # a non-append commit in the chain refuses the file diff
    V.delete_versioned(spark, t, "k = 0")                           # v6
    V.append_versioned(_vt_rows(spark, 1600, 1700), t)              # v7
    with pytest.raises(ValueError, match="full"):
        V.cluster_increment(spark, t, ["k"])


def test_versioned_publish_arbiter_hook(spark, tmp_path):
    """set_publish_arbiter: the commit point is pluggable for stores
    without atomic create-if-absent. A fake catalog arbiter (in-memory
    claim table guarding the manifest write — the S3+DynamoDB shape)
    sees every commit, keeps single-winner semantics under contention
    (the loser rebases onto the winner's version), and the default
    restores on reset."""
    import json as _json
    import os
    import threading

    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "varb")
    claims: set = set()
    calls: list = []
    lock = threading.Lock()

    def catalog_arbiter(path, version, doc):
        with lock:  # the conditional-put: claim iff absent
            if (path, version) in claims:
                raise V.VersionConflict(
                    f"version {version} of {path} claimed in catalog"
                )
            claims.add((path, version))
        calls.append(version)
        d = V._manifest_dir(path)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{version:08d}.json"), "w") as f:
            _json.dump(doc, f)

    V.set_publish_arbiter(catalog_arbiter)
    try:
        V.write_versioned(_vt_rows(spark, 0, 6), t)              # v1
        V.append_versioned(_vt_rows(spark, 6, 9), t)             # v2
        assert calls == [1, 2]
        assert V.read_versioned(spark, t).count() == 9
        # contention: a second writer already claimed version 3
        claims.add((t, 3))
        with pytest.raises(V.VersionConflict):
            V.append_versioned(_vt_rows(spark, 9, 12), t)
        # the loser rebases: claim 3 materializes (simulating the
        # winner), our retry lands as version 4
        man2 = V._read_manifest(t, 2)
        with open(os.path.join(V._manifest_dir(t), "00000003.json"),
                  "w") as f:
            _json.dump({**man2, "version": 3, "parent": 2,
                        "action": "append"}, f)
        V.append_versioned(_vt_rows(spark, 9, 12), t)            # v4
        assert V.latest_version(t) == 4
    finally:
        V.set_publish_arbiter(None)
    assert V._PUBLISH_ARBITER is V.default_publish_arbiter
    # default arbiter works again on the same table
    V.append_versioned(_vt_rows(spark, 12, 13), t)
    assert V.latest_version(t) == 5


def test_versioned_diff_versions(spark, tmp_path):
    """diff_versions: exact row-level CDC across arbitrary commit
    chains, with multiset semantics, file-grain pruning (shared files
    never read — asserted on the plan's scanned paths), an empty diff
    across a logical no-op compaction, and schema/collision guards."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vdiff")
    # v1: 0..19 plus DUPLICATED rows 0..2 (multiset check)
    base = _vt_rows(spark, 0, 20).unionAll(_vt_rows(spark, 0, 3))
    V.write_versioned(base.repartition(4), t)
    V.delete_versioned(spark, t, "k < 3")             # v2: drops 6 rows
    V.append_versioned(_vt_rows(spark, 20, 25), t)    # v3: adds 5

    d = V.diff_versions(spark, t, 1, 3)
    got = sorted((r["change_type"], r["k"]) for r in d.collect())
    want = sorted([("delete", k) for k in (0, 1, 2)] * 2
                  + [("insert", k) for k in range(20, 25)])
    assert got == want
    # reverse direction flips the tags
    rev = V.diff_versions(spark, t, 3, 1)
    assert sorted((r["change_type"], r["k"]) for r in rev.collect()) == sorted(
        [("insert", k) for k in (0, 1, 2)] * 2
        + [("delete", k) for k in range(20, 25)])
    # file-grain pruning: only files NOT shared by both manifests are
    # scanned (the delete's untouched files and the carried body never
    # appear in the plan)
    shared = set(V._read_manifest(t, 1)["files"]) & set(
        V._read_manifest(t, 3)["files"])
    assert shared, "fixture must carry some files across the chain"
    plan = d._jdf.queryExecution().executedPlan().toString()
    for rel in shared:
        assert rel.split("/")[-1] not in plan
    # compaction is a logical no-op: diff across it is empty
    V.compact_versioned(spark, t, small_mb=64)        # v4
    assert V.diff_versions(spark, t, 3, 4).count() == 0
    # guards
    with pytest.raises(ValueError, match="collides"):
        V.diff_versions(spark, t, 1, 3, change_col="k")
    # schema mismatch: append_versioned refuses forks, so plant a
    # synthetic manifest with a renamed column to exercise the guard
    man = V._read_manifest(t, 1)
    man_bad = dict(man)
    man_bad["schema"] = man["schema"].replace('"k"', '"kk"', 1)
    import json as _json
    import os as _os
    with open(_os.path.join(V._manifest_dir(t), "00000099.json"), "w") as f:
        _json.dump({**man_bad, "version": 99}, f)
    with pytest.raises(ValueError, match="schemas"):
        V.diff_versions(spark, t, 1, 99)


def test_vacuum_keep_last_zero_refuses(spark, tmp_path):
    """vacuum_versioned(keep_last=0) would delete the latest committed
    state (table bricked behind an innocuous parameter) — refused."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vzero")
    V.write_versioned(_vt_rows(spark, 0, 4), t)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            V.vacuum_versioned(t, keep_last=bad)
    assert V.read_versioned(spark, t).count() == 4


def test_versioned_cluster_quantile_scaling_beats_minmax_on_skew(spark, tmp_path):
    """On a skewed column (1% outliers stretch the domain ~10^6×),
    linear min/max scaling parks the dense 99% in one z-bucket — every
    file then spans the whole dense region and pushdown prunes nothing
    — while sampled-quantile (equi-depth) bucketing keeps the dense
    mass spread across buckets and file spans tight (the Delta
    OPTIMIZE approach; VERDICT r10 task 3)."""
    import os

    import pyarrow.parquet as pq

    from lazy_frame_spark.sources import versioned as V

    # dense mass in [0, 1000), 1% outliers out to ~4e9
    rows = [(i, (i * 7919) % 1000, float(i)) for i in range(4000)]
    for j in range(40):
        rows[j * 100] = (j * 100, (j + 1) * 100_000_000, float(j * 100))
    df = spark.createDataFrame(rows, "k long, x long, v double").repartition(8)

    def dense_file_spans(t, version):
        """Per-file x-span over files holding ONLY dense values (the
        outliers legitimately land in wide top-bucket files)."""
        spans = []
        for rel in V._read_manifest(t, version)["files"]:
            md = pq.ParquetFile(os.path.join(t, rel)).metadata
            names = {md.schema.column(i).path: i
                     for i in range(md.num_columns)}
            ci = names["x"]
            lo = min(md.row_group(g).column(ci).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(ci).statistics.max
                     for g in range(md.num_row_groups))
            if hi < 1000:
                spans.append(hi - lo)
        return spans

    t_mm = str(tmp_path / "skew_minmax")
    V.write_versioned(df, t_mm)
    V.cluster_versioned(spark, t_mm, ["x"], num_partitions=8,
                        scaling="minmax")
    t_q = str(tmp_path / "skew_quantile")
    V.write_versioned(df, t_q)
    v_q, _ = V.cluster_versioned(spark, t_q, ["x"], num_partitions=8)

    mm = dense_file_spans(t_mm, 2)
    qq = dense_file_spans(t_q, 2)
    # minmax: the dense mass is one surrogate value, so any file that is
    # all-dense still spans ~the whole [0,1000) region (row order within
    # the bucket is arbitrary); quantile: dense files cover ~1/8 of it
    assert qq, "quantile layout produced no dense-only files"
    assert max(qq) < 400
    if mm:  # minmax may pack outliers into every file; when dense-only
        # files exist they span nearly the full dense domain
        assert min(mm) > max(qq)
    # both layouts remain logical no-ops
    assert V.read_versioned(spark, t_q).count() == 4000
    hist = V.history(t_q)
    assert hist[-1]["action"] == "cluster"


def test_concurrent_appends_auto_rebase_threads(spark, tmp_path):
    """Optimistic concurrency, the real race: N threads blind-append to
    the same table simultaneously through the default link(2) arbiter.
    Losers rebase automatically (a blind append commutes with any
    winner), so EVERY append lands, versions are dense, and the final
    table is the union — no coordination, no lost updates."""
    import threading

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vrace")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    bands = [(100, 110), (200, 215), (300, 320), (400, 430)]
    errs: list = []

    def work(lo, hi):
        try:
            V.append_versioned(_vt_rows(spark, lo, hi), t)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=work, args=b) for b in bands]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    assert V.latest_version(t) == 1 + len(bands)  # dense versions
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    exp = sorted(list(range(0, 5))
                 + [k for lo, hi in bands for k in range(lo, hi)])
    assert got == exp
    # history is all appends on top of the snapshot
    actions = [V._read_manifest(t, v)["action"]
               for v in range(2, V.latest_version(t) + 1)]
    assert actions == ["append"] * len(bands)


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """OPTIMIZE must not lose concurrent ingest: an append that wins
    the version race mid-compaction is carried into the rebased commit
    — the winner's files ride along, the compacted files are still
    replaced, and no rows are lost or duplicated."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vcomp")
    V.write_versioned(_vt_rows(spark, 0, 30).repartition(4), t)
    orig = V.default_publish_arbiter
    state = {"fired": False}

    def racing_arbiter(path, version, doc):
        if doc.get("action") == "compact" and not state["fired"]:
            state["fired"] = True
            # the competing writer lands an append FIRST at this number
            V.append_versioned(_vt_rows(spark, 500, 510, flag="w"),
                               path)
        orig(path, version, doc)

    V.set_publish_arbiter(racing_arbiter)
    try:
        v, stats = V.compact_versioned(spark, t, small_mb=8)
    finally:
        V.set_publish_arbiter(None)
    assert state["fired"]
    assert stats["files_compacted"] >= 2
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == sorted(list(range(0, 30)) + list(range(500, 510)))
    # the winner's files are carried by reference in the rebased commit
    man = V._read_manifest(t, v)
    winner_files = set(V._read_manifest(t, v - 1)["files"]) - set(
        V._read_manifest(t, v - 2)["files"])
    assert winner_files and winner_files <= set(man["files"])


def test_cluster_rebases_over_append_but_refuses_delete(
        spark, tmp_path):
    """The additive-chain rule both ways: a Z-order rewrite rebases
    over a concurrent append (rows preserved), but a concurrent DELETE
    invalidates the rewrite's read-set and must raise — committing the
    stale rewrite would RESURRECT the deleted rows."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vclu")
    V.write_versioned(_vt_rows(spark, 0, 40).repartition(4), t)
    orig = V.default_publish_arbiter
    state = {"mode": "append", "fired": False}

    def racing_arbiter(path, version, doc):
        if doc.get("action") == "cluster" and not state["fired"]:
            state["fired"] = True
            if state["mode"] == "append":
                V.append_versioned(_vt_rows(spark, 600, 605), path)
            else:
                V.delete_versioned(spark, path, "k < 5")
        orig(path, version, doc)

    V.set_publish_arbiter(racing_arbiter)
    try:
        V.cluster_versioned(spark, t, ["k"], num_partitions=4)
        got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
        assert got == sorted(list(range(0, 40)) + list(range(600, 605)))
        # round 2: the destructive winner
        state.update(mode="delete", fired=False)
        with pytest.raises(V.VersionConflict, match="rewrote or removed"):
            V.cluster_versioned(spark, t, ["k"], num_partitions=4)
        # the delete itself committed; the failed rewrite changed nothing
        got2 = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
        assert got2 == sorted(list(range(5, 40)) + list(range(600, 605)))
    finally:
        V.set_publish_arbiter(None)


def test_type_widening_evolution(spark, tmp_path):
    """Lossless type widening (Delta-style, on Spark 4's native parquet
    upcast reads): a merge_schema append with a WIDER column type
    evolves the committed type in place; pre-widening narrow files read
    up on every later scan — values exact, no rewrite. Narrow batches
    under the wide schema keep appending without merge_schema; a
    non-widenable change stays refused."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vwiden")
    narrow = spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "k int, x float")
    V.write_versioned(narrow, t)
    wide = spark.createDataFrame(
        [(3_000_000_000, 3.5), (4, 4.5)], "k long, x double")
    # without merge_schema, a WIDER batch is refused with guidance
    with pytest.raises(ValueError, match="merge_schema"):
        V.append_versioned(wide, t)
    V.append_versioned(wide, t, merge_schema=True)
    got = V.read_versioned(spark, t)
    assert dict(got.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 4, 3_000_000_000]
    assert sorted(r["x"] for r in got.collect()) == [1.5, 2.5, 3.5, 4.5]
    # narrow batches keep flowing WITHOUT merge_schema (they read up)
    V.append_versioned(
        spark.createDataFrame([(7, 7.5)], "k int, x float"), t)
    got2 = V.read_versioned(spark, t)
    assert got2.count() == 5
    assert dict(got2.dtypes) == {"k": "bigint", "x": "double"}
    # maintenance across the widening boundary carries the wide schema
    V.delete_versioned(spark, t, "k = 2")
    got3 = V.read_versioned(spark, t)
    assert sorted(r["k"] for r in got3.collect()) == [1, 4, 7, 3_000_000_000]
    assert dict(got3.dtypes) == {"k": "bigint", "x": "double"}
    # string -> numeric stays a refused, non-widenable change
    with pytest.raises(ValueError, match="not a lossless widening"):
        V.append_versioned(
            spark.createDataFrame([("s", 1.0)], "k string, x double"),
            t, merge_schema=True)
    # metadata aggregates stay exact across the mixed physical types
    m = V.metadata_aggregate(t, ["k"])
    assert m["count"] == 4
    assert m["cols"]["k"]["min"] == 1
    assert m["cols"]["k"]["max"] == 3_000_000_000


def test_merge_rebases_over_disjoint_append_refuses_overlap(
        spark, tmp_path):
    """The keyed-writer row of the concurrency table: a MERGE losing
    the version race to an append whose files are PROVABLY key-disjoint
    (commit-time bounds) rebases — winner rows ride along untouched;
    an overlapping append surfaces VersionConflict, because silently
    committing would skip rows the merge should have reconciled."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vmrace")
    V.write_versioned(_vt_rows(spark, 0, 40).repartition(2), t)
    orig = V.default_publish_arbiter
    state = {"band": None, "fired": False}

    def racing_arbiter(path, version, doc):
        if doc.get("action") == "merge" and not state["fired"]:
            state["fired"] = True
            V.append_versioned(_vt_rows(spark, *state["band"]), path)
        orig(path, version, doc)

    V.set_publish_arbiter(racing_arbiter)
    try:
        # round 1: winner appends keys 9000+, merge touches 0..9 —
        # bounds-disjoint, rebase carries the winner's rows
        state.update(band=(9000, 9010), fired=False)
        upd = _vt_rows(spark, 0, 10, flag="merged")
        v, st = V.merge_versioned(spark, t, upd, "k")
        got = V.read_versioned(spark, t)
        assert got.count() == 40 + 10
        assert got.filter((F.col("k") < 10)
                          & (F.col("flag") == "merged")).count() == 10
        assert got.filter(F.col("k") >= 9000).count() == 10
        # round 2: winner appends keys 0..5 — overlaps the merge's key
        # footprint; the stale merge must NOT commit
        state.update(band=(0, 5), fired=False)
        with pytest.raises(V.VersionConflict, match="not provably"):
            V.merge_versioned(spark, t,
                              _vt_rows(spark, 3, 8, flag="late"), "k")
        # the winner's append itself landed; the merge changed nothing
        assert V.read_versioned(spark, t).count() == 50 + 5
    finally:
        V.set_publish_arbiter(None)


def test_cdc_apply_rebases_over_disjoint_append(spark, tmp_path):
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vcrace")
    V.write_versioned(_vt_rows(spark, 0, 30).repartition(2), t)
    orig = V.default_publish_arbiter
    state = {"fired": False}

    def racing_arbiter(path, version, doc):
        if (doc.get("action") == "merge"
                and doc.get("merge_mode") == "cdc"
                and not state["fired"]):
            state["fired"] = True
            V.append_versioned(_vt_rows(spark, 7000, 7005), path)
        orig(path, version, doc)

    batch = (_vt_rows(spark, 0, 3, flag="upd")
             .withColumn("op", F.lit("U"))
             .unionByName(_vt_rows(spark, 10, 12)
                          .withColumn("op", F.lit("D"))))
    V.set_publish_arbiter(racing_arbiter)
    try:
        V.apply_cdc(spark, t, batch, "k")
    finally:
        V.set_publish_arbiter(None)
    assert state["fired"]
    got = V.read_versioned(spark, t)
    assert got.count() == 30 - 2 + 5  # deletes applied, winner carried
    assert got.filter(F.col("flag") == "upd").count() == 3
    assert got.filter(F.col("k").between(10, 11)).count() == 0
    assert got.filter(F.col("k") >= 7000).count() == 5


def test_compact_where_scopes_candidates(spark, tmp_path):
    """OPTIMIZE WHERE: a prune_files conjunction scopes the candidate
    set to small files whose stats can hold matching rows — a
    hot-partition compaction rewrites that partition's small files
    only, stays a logical no-op, and leaves out-of-scope small files
    for a later unscoped pass."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vcw")
    lo = _vt_rows(spark, 0, 40).repartition(4)       # dir 1: k in [0,40)
    hi = _vt_rows(spark, 1000, 1040).repartition(4)  # dir 2: k >= 1000
    V.write_versioned(lo, t)
    V.append_versioned(hi, t)
    before = set(V._read_manifest(t, 2)["files"])
    v, st = V.compact_versioned(spark, t, small_mb=8,
                                where=[("k", ">=", 1000)])
    assert st["files_compacted"] == 4  # only the hot band's files
    after = set(V._read_manifest(t, v)["files"])
    # the low band's small files all carry by reference
    lo_files = {f for f in before
                if f in after}
    assert len(lo_files) == 4
    # logical no-op: same rows
    got = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got == sorted(list(range(0, 40)) + list(range(1000, 1040)))
    # a later unscoped pass compacts the rest (the low band's 4 plus
    # the scoped pass's own still-small output)
    v2, st2 = V.compact_versioned(spark, t, small_mb=8)
    assert st2["files_compacted"] == 5
    got2 = sorted(r["k"] for r in V.read_versioned(spark, t).collect())
    assert got2 == got


def test_relay_changes_update_preimages(spark, tmp_path):
    """include_preimages=True: each updated key's OLD row rides the
    feed as U_pre (Delta CDF's update_preimage) alongside the U
    postimage; I and D rows are unaffected."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "pre_src")
    feed = str(tmp_path / "pre_feed")
    V.write_versioned(_vt_rows(spark, 0, 10), src)
    V.relay_changes(spark, src, feed, "k", include_preimages=True)
    V.merge_versioned(spark, src, _vt_rows(spark, 3, 6, flag="new"), "k")
    V.delete_versioned(spark, src, "k >= 8")
    V.append_versioned(_vt_rows(spark, 20, 22), src)
    V.relay_changes(spark, src, feed, "k", include_preimages=True)
    ops = V.read_versioned(spark, feed).filter("_src_version > 1")
    rows = {(r["op"], r["k"]): r["flag"] for r in ops.collect()}
    assert {op for op, _k in rows} == {"U", "U_pre", "D", "I"}
    for k in (3, 4, 5):
        assert rows[("U", k)] == "new"      # postimage
        assert rows[("U_pre", k)] == "a"    # what it replaced
    assert {k for op, k in rows if op == "D"} == {8, 9}
    assert {k for op, k in rows if op == "I"} == {20, 21}


def test_mor_delete_one_scan_no_match_commits_no_dv(spark, tmp_path):
    """r15 optimization: the MoR delete writes tombstones first and
    counts them from the written parquet footers (one predicate scan,
    not count-then-write). A no-match delete must still commit a clean
    no-op — zero rows deleted, NO dv_files referenced by the commit —
    and the unreferenced attempt dir is reclaimed by vacuum like any
    crashed attempt."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "mor1scan")
    V.write_versioned(_vt_rows(spark, 0, 20), t)
    v, st = V.delete_versioned(spark, t, "k > 999",
                               strategy="merge-on-read")
    assert st["rows_deleted"] == 0 and st["dv_files_written"] == 0
    assert not V._read_manifest(t, v).get("dv_files")
    assert V.read_versioned(spark, t).count() == 20
    # the real delete still works and counts exactly from footers
    v2, st2 = V.delete_versioned(spark, t, "k < 5",
                                 strategy="merge-on-read")
    assert st2["rows_deleted"] == 5 and st2["dv_files_written"] >= 1
    assert V.read_versioned(spark, t).count() == 15
    # vacuum reclaims the no-match attempt's orphan dir
    V.vacuum_versioned(t, keep_last=1)
    assert V.read_versioned(spark, t).count() == 15


def test_ops_compaction_null_keys_and_unique_guard(spark):
    """The one-aggregate I/U/D compaction (r15 optimization of
    _ops_from_diff) keeps the join formulation's exact semantics:
    NULL-keyed diff rows never pair into a U (NULL keys never
    equi-join — an insert and a delete under a NULL key stay I + D),
    and a diff violating the unique-key-per-side contract raises at
    evaluation instead of silently collapsing to one op per key."""
    from pyspark.sql import functions as F

    from lazy_frame_spark.sources import versioned as V

    d = spark.createDataFrame(
        [(None, 333.0, "insert"), (None, 111.0, "delete"),
         (7, 1.0, "insert"), (7, 0.5, "delete"), (8, 2.0, "insert"),
         (9, 3.0, "delete")],
        "k bigint, v double, change_type string")
    got = {(r["op"], r["k"], r["v"])
           for r in V._ops_from_diff(d, ["k"]).collect()}
    assert got == {("I", None, 333.0), ("D", None, 111.0),
                   ("U", 7, 1.0), ("I", 8, 2.0), ("D", 9, 3.0)}
    pre = {(r["op"], r["k"], r["v"])
           for r in V._ops_from_diff(d, ["k"], preimages=True).collect()}
    assert pre == got | {("U_pre", 7, 0.5)}
    dup = spark.createDataFrame(
        [(1, 1.0, "insert"), (1, 2.0, "insert")],
        "k bigint, v double, change_type string")
    try:
        V._ops_from_diff(dup, ["k"]).collect()
        raise AssertionError("duplicate-key diff did not raise")
    except Exception as e:
        assert "unique per source version" in str(e)
    # NULL keys may repeat per side (they never joined before either):
    # two NULL-key inserts stay two I rows, no guard trip
    nn = spark.createDataFrame(
        [(None, 1.0, "insert"), (None, 2.0, "insert")],
        "k bigint, v double, change_type string")
    ops = V._ops_from_diff(nn, ["k"]).collect()
    assert sorted(r["v"] for r in ops) == [1.0, 2.0]
    assert {r["op"] for r in ops} == {"I"}
    # and the plan carries no join: one aggregate, map-side branch
    plan = V._ops_from_diff(d, ["k"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan


def test_txn_identifiers_make_appends_idempotent(spark, tmp_path):
    """Delta-style transaction identifiers: an append carrying
    txn=(app, version) is idempotent per app — a replayed job returns
    the current version without committing, a NEWER txn version
    commits, and racing twins of the same relay never double-append
    (the loser's rebase finds the winner's txn in the chain)."""
    import threading

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "txn")
    V.write_versioned(_vt_rows(spark, 0, 10), t)
    v1 = V.append_versioned(_vt_rows(spark, 10, 15), t,
                            txn=("jobA", 1))
    assert V.last_txn_version(t, "jobA") == 1
    # replay of the same txn: no new version, no new rows
    v2 = V.append_versioned(_vt_rows(spark, 10, 15), t,
                            txn=("jobA", 1))
    assert v2 == v1
    assert V.read_versioned(spark, t).count() == 15
    # a newer txn version commits; another app is independent
    v3 = V.append_versioned(_vt_rows(spark, 15, 18), t, txn=("jobA", 2))
    assert v3 == v1 + 1
    v4 = V.append_versioned(_vt_rows(spark, 18, 20), t, txn=("jobB", 1))
    assert v4 == v3 + 1
    assert V.read_versioned(spark, t).count() == 20
    assert V.last_txn_version(t, "jobA") == 2
    assert V.last_txn_version(t, "nope") is None
    # vacuum drops the manifests carrying the txns — the mark must
    # survive via the sidecar or a very late replay would re-apply
    V.vacuum_versioned(t, keep_last=1)
    assert V.last_txn_version(t, "jobA") == 2
    n = V.read_versioned(spark, t).count()
    assert V.append_versioned(_vt_rows(spark, 15, 18), t,
                              txn=("jobA", 2)) == V.latest_version(t)
    assert V.read_versioned(spark, t).count() == n

    # racing relay twins: same stream, same source state, started
    # together — the feed must hold each op exactly once
    src = str(tmp_path / "txn_src")
    feed = str(tmp_path / "txn_feed")
    V.write_versioned(_vt_rows(spark, 0, 10), src)
    V.relay_changes(spark, src, feed, "k")
    V.append_versioned(_vt_rows(spark, 100, 120), src)
    errs: list = []

    def relay():
        try:
            V.relay_changes(spark, src, feed, "k")
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=relay) for _ in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    ops = V.read_versioned(spark, feed).filter("_src_version > 1")
    assert ops.count() == 20  # each appended row relayed exactly once
    assert ops.groupBy("k").count().filter("count > 1").count() == 0

    # keyed verbs honor txn too: a replayed merge/apply_cdc no-ops
    v_m, st_m = V.merge_versioned(
        spark, t, _vt_rows(spark, 0, 2, flag="m1"), "k", txn=("etl", 7))
    v_m2, st_m2 = V.merge_versioned(
        spark, t, _vt_rows(spark, 0, 2, flag="m2"), "k", txn=("etl", 7))
    assert v_m2 == v_m and st_m2 == {"skipped_txn": True}
    got = V.read_versioned(spark, t).filter("k < 2")
    assert got.filter("flag != 'm1'").count() == 0
    batch = _vt_rows(spark, 0, 1, flag="c1").withColumn("op", F.lit("U"))
    v_c, _ = V.apply_cdc(spark, t, batch, "k", txn=("etl", 8))
    v_c2, st_c2 = V.apply_cdc(
        spark, t, batch.withColumn("flag", F.lit("c2")), "k",
        txn=("etl", 8))
    assert v_c2 == v_c and st_c2 == {"skipped_txn": True}
    assert V.read_versioned(spark, t).filter(
        "k = 0 AND flag != 'c1'").count() == 0


def test_truncate_changes_retention_protocol(spark, tmp_path):
    """Feed retention: truncation drops ops below the cutoff as one
    snapshot overwrite, the relay continues from its preserved state,
    a tailing stream fails with the re-seed error (destructive by
    design), and a new consumer reconstructs the source head from
    source@cutoff + the retained suffix."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        VersionedStreamReader,
    )

    src = str(tmp_path / "tr_src")
    feed = str(tmp_path / "tr_feed")
    V.write_versioned(_vt_rows(spark, 0, 10), src)                # v1
    V.relay_changes(spark, src, feed, "k")
    V.append_versioned(_vt_rows(spark, 10, 15), src)              # v2
    V.relay_changes(spark, src, feed, "k")
    V.merge_versioned(spark, src, _vt_rows(spark, 0, 3, flag="m"),
                      "k")                                        # v3
    V.delete_versioned(spark, src, "k >= 13")                     # v4
    V.relay_changes(spark, src, feed, "k")
    # a consumer was mid-tail; capture the pre-truncation feed head
    r = VersionedStreamReader({"path": feed})
    pre_head = r.latestOffset()["version"]
    # retain only ops from source v2 on (drop the bootstrap I ops)
    v, st = V.truncate_changes(spark, feed, keep_from_src_version=2)
    assert st["ops_dropped"] == 10 and st["relay_src_version"] == 4
    assert st["base_src_version"] == 1  # the state retained ops diff from
    assert V.read_versioned(spark, feed).filter(
        "_src_version < 2").count() == 0
    # the tailing stream fails loudly across the overwrite
    with pytest.raises(ValueError, match="append-only chain"):
        r.partitions({"version": pre_head},
                     {"version": V.latest_version(feed)})
    # the relay continues from the preserved state
    V.append_versioned(_vt_rows(spark, 20, 23), src)              # v5
    _, st2 = V.relay_changes(spark, src, feed, "k")
    assert st2["ops"] == 3
    # new-consumer protocol: source@base + retained suffix == head
    state = {r2["k"]: (r2["v"], r2["flag"]) for r2 in
             V.read_versioned(spark, src,
                              version=st["base_src_version"]).collect()}
    ops = V.read_versioned(spark, feed).collect()
    for r2 in sorted(ops, key=lambda r3: r3["_src_version"]):
        if r2["op"] in ("I", "U"):
            state[r2["k"]] = (r2["v"], r2["flag"])
        elif r2["op"] == "D":
            state.pop(r2["k"], None)
    truth = {r2["k"]: (r2["v"], r2["flag"]) for r2 in
             V.read_versioned(spark, src).collect()}
    assert state == truth
    # cutoff past the relayed state refuses
    with pytest.raises(ValueError, match="newer"):
        V.truncate_changes(spark, feed, keep_from_src_version=99)
    with pytest.raises(ValueError, match="relay state"):
        V.truncate_changes(spark, src, keep_from_src_version=1)


def test_table_changes_per_commit_feed(spark, tmp_path):
    """table_changes: per-COMMIT granularity (a key updated in two
    commits appears twice, stamped with each commit's version) where
    diff_versions nets them out; alter and compaction commits
    contribute nothing; the concatenation over the range replays to
    the same net diff."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "tc")
    V.write_versioned(_vt_rows(spark, 0, 10), t)                    # v1
    V.merge_versioned(spark, t, _vt_rows(spark, 3, 5, flag="x"), "k")  # v2
    V.add_constraint(spark, t, "nonneg", "k >= 0")                  # v3
    V.merge_versioned(spark, t, _vt_rows(spark, 3, 5, flag="y"), "k")  # v4
    V.delete_versioned(spark, t, "k >= 8")                          # v5
    tc = V.table_changes(spark, t, 1).collect()
    by_ver: dict = {}
    for r in tc:
        by_ver.setdefault(r["_commit_version"], []).append(
            (r["change_type"], r["k"], r["flag"]))
    assert 3 not in by_ver  # alter contributes nothing
    # key 3 updated twice: appears in v2 (a->x) AND v4 (x->y)
    assert ("insert", 3, "x") in by_ver[2]
    assert ("delete", 3, "a") in by_ver[2]
    assert ("insert", 3, "y") in by_ver[4]
    assert ("delete", 3, "x") in by_ver[4]
    assert sorted(k for ct, k, _f in by_ver[5] if ct == "delete") == [8, 9]
    assert not any(ct == "insert" for ct, _k, _f in by_ver[5])
    # the per-commit feed nets to diff_versions(1, 5)
    net = {(r["change_type"], r["k"], r["flag"])
           for r in V.diff_versions(spark, t, 1, 5).collect()}
    exp_net = {("insert", 3, "y"), ("insert", 4, "y"),
               ("delete", 3, "a"), ("delete", 4, "a"),
               ("delete", 8, "a"), ("delete", 9, "a")}
    assert net == exp_net
    # empty range and bounds checks
    assert V.table_changes(spark, t, 5).count() == 0
    with pytest.raises(ValueError, match="newer"):
        V.table_changes(spark, t, 9)


def test_relay_changes_feed_reconstructs_source(spark, tmp_path):
    """Property (seeded randomized chains): replaying the change feed
    in _src_version order — I/U set the key, D removes it — always
    reconstructs the source snapshot exactly, whatever mix of appends,
    keyed merges, predicate deletes (both strategies) and compactions
    the source took between relays. This is the consumer-side
    correctness contract of relay_changes: the feed IS the table."""
    import random

    from lazy_frame_spark.sources import versioned as V

    rng = random.Random(13)
    src = str(tmp_path / "rc_src")
    feed = str(tmp_path / "rc_feed")
    V.write_versioned(_vt_rows(spark, 0, 20), src)
    V.relay_changes(spark, src, feed, "k")
    next_key = 100

    def live_keys():
        return sorted(r["k"] for r in
                      V.read_versioned(spark, src).select("k").collect())

    for step in range(6):
        action = rng.choice(["append", "merge", "delete", "mor",
                             "compact"])
        if action == "append":
            n = rng.randint(1, 8)
            V.append_versioned(
                _vt_rows(spark, next_key, next_key + n), src)
            next_key += 20
        elif action == "merge":
            ks = live_keys()
            band = rng.sample(ks, min(4, len(ks)))
            upd = _vt_rows(spark, 0, 0).sparkSession.createDataFrame(
                [(k, float(k), f"s{step}") for k in band],
                "k long, v double, flag string")
            V.merge_versioned(spark, src, upd, "k")
        elif action in ("delete", "mor"):
            ks = live_keys()
            if not ks:
                continue
            cut = rng.choice(ks)
            V.delete_versioned(
                spark, src, f"k >= {cut}",
                strategy="merge-on-read" if action == "mor"
                else "rewrite")
        else:
            V.compact_versioned(spark, src, small_mb=8)
        if rng.random() < 0.7 or step == 5:
            V.relay_changes(spark, src, feed, "k")
    V.relay_changes(spark, src, feed, "k")  # drain any tail
    state: dict = {}
    ops = V.read_versioned(spark, feed).collect()
    for r in sorted(ops, key=lambda r: r["_src_version"]):
        if r["op"] in ("I", "U"):
            state[r["k"]] = (r["v"], r["flag"])
        elif r["op"] == "D":
            state.pop(r["k"], None)
    truth = {r["k"]: (r["v"], r["flag"])
             for r in V.read_versioned(spark, src).collect()}
    assert state == truth


def test_merge_rebase_revalidates_concurrent_constraint(spark, tmp_path):
    """A merge that loses the version race to a concurrent
    add_constraint must re-validate its NEW files against the added
    constraint before the rebased commit: the merge's rows were
    validated against the pre-rebase (empty) constraint set only, and
    committing unchecked would be a silent serializability hole —
    rows landing in a table whose constraint they violate. Satisfying
    rows rebase and land; violating rows surface the named CHECK
    error and nothing commits."""
    import pytest

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "vconrace")
    V.write_versioned(_vt_rows(spark, 0, 40).repartition(2), t)
    orig = V.default_publish_arbiter
    state = {"fired": False}

    def racing_arbiter(path, version, doc):
        if doc.get("action") == "merge" and not state["fired"]:
            state["fired"] = True
            # lands FIRST at this version number: v <= 1000 holds on
            # all existing data (v = k*10, k < 40)
            V.add_constraint(spark, path, "v_cap", "v <= 1000")
        orig(path, version, doc)

    V.set_publish_arbiter(racing_arbiter)
    try:
        # round 1: merge rows satisfy the concurrently added check —
        # the rebase re-validates and commits
        state["fired"] = False
        v, _ = V.merge_versioned(
            spark, t, _vt_rows(spark, 0, 5, flag="m"), "k")
        got = V.read_versioned(spark, t)
        assert got.filter((F.col("k") < 5)
                          & (F.col("flag") == "m")).count() == 5
        assert "v_cap" in V.table_constraints(t)
        # round 2: drop, then race a fresh constraint the merge's new
        # rows VIOLATE — the rebase must refuse with the named check
        V.drop_constraint(t, "v_cap")
        state["fired"] = False
        bad = spark.createDataFrame(
            [(100, 5000.0, "big")], "k long, v double, flag string")
        with pytest.raises(ValueError, match="v_cap"):
            V.merge_versioned(spark, t, bad, "k")
        # the winner's constraint landed; the violating merge did not
        assert "v_cap" in V.table_constraints(t)
        assert V.read_versioned(spark, t).filter("k = 100").count() == 0
    finally:
        V.set_publish_arbiter(None)


def test_replicate_versioned_full_lifecycle(spark, tmp_path):
    """The CDF relay loop: bootstrap snapshot, then appends / keyed
    merges / predicate deletes / MoR erasure on the SOURCE all fold
    into dst as single CDC commits; dst equals src after every relay;
    a relay with no source changes no-ops (exactly-once)."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    V.write_versioned(_vt_rows(spark, 0, 20).repartition(2), src)

    def synced():
        a = V.read_versioned(spark, src)
        b = V.read_versioned(spark, dst)
        return (a.count() == b.count()
                and a.exceptAll(b).count() == 0
                and b.exceptAll(a).count() == 0)

    v, st = V.replicate_versioned(spark, src, dst, "k")
    assert st["bootstrap"] and synced()
    # appends + an update-merge on the source
    V.append_versioned(_vt_rows(spark, 20, 30), src)
    V.merge_versioned(spark, src,
                      _vt_rows(spark, 5, 8, flag="upd"), "k")
    v2, st2 = V.replicate_versioned(spark, src, dst, "k")
    assert st2["ops"] > 0 and synced()
    assert V.read_versioned(spark, dst).filter(
        F.col("flag") == "upd").count() == 3
    # destructive source commits replicate too (the streaming source
    # would refuse these — the relay is the retraction-bearing path)
    V.delete_versioned(spark, src, "k >= 25")
    V.delete_versioned(spark, src, "k = 0",
                       strategy="merge-on-read")
    v3, st3 = V.replicate_versioned(spark, src, dst, "k")
    assert synced()
    assert V.read_versioned(spark, dst).filter(F.col("k") == 0).count() == 0
    # no-change relay no-ops but is still callable (exactly-once)
    n_before = V.read_versioned(spark, dst).count()
    v4, st4 = V.replicate_versioned(spark, src, dst, "k")
    assert st4["ops"] == 0
    assert V.read_versioned(spark, dst).count() == n_before
    # compaction on src is a logical no-op: state advances, zero ops
    V.compact_versioned(spark, src, small_mb=64)
    v5, st5 = V.replicate_versioned(spark, src, dst, "k")
    assert st5["ops"] == 0 and synced()


def test_manifest_list_parquet_offload(spark, tmp_path, monkeypatch):
    """Columnar manifest lists: above the threshold a commit offloads
    its file list to a parquet sidecar (the JSON manifest stays small);
    every verb — append, keyed merge, delete, cluster, where-pruned and
    time-travel reads, metadata aggregates, vacuum — behaves
    identically, and vacuum reclaims dropped versions' sidecars plus
    conflict-loser orphans."""
    import json as _json
    import os

    from lazy_frame_spark.sources import versioned as V

    monkeypatch.setattr(V, "_MANIFEST_PARQUET_THRESHOLD", 0)
    V._MANIFEST_LIST_CACHE.clear()
    t = str(tmp_path / "vmlp")
    V.write_versioned(_vt_rows(spark, 0, 30).repartition(3), t)
    V.append_versioned(_vt_rows(spark, 30, 40), t)
    V.merge_versioned(spark, t, _vt_rows(spark, 0, 5, flag="m"), "k")
    V.delete_versioned(spark, t, "k >= 35")
    V.cluster_versioned(spark, t, ["k"], num_partitions=2)
    # every manifest offloaded: raw JSON carries no file list
    for v in V._versions(t):
        with open(os.path.join(V._manifest_dir(t),
                               f"{v:08d}.json")) as f:
            raw = _json.load(f)
        assert raw.get("files") == [] and raw.get("files_parquet"), v
        assert raw["files_count"] == len(V._read_manifest(t, v)["files"])
    got = sorted((r["k"], r["flag"])
                 for r in V.read_versioned(spark, t).collect())
    exp = sorted([(k, "m") for k in range(5)]
                 + [(k, "a") for k in range(5, 35)])
    assert got == exp
    # where-pruned + time-travel reads work off the parquet lists
    assert V.read_versioned(
        spark, t, where=[("k", "between", (10, 12))]).count() == 3
    assert V.read_versioned(spark, t, version=1).count() == 30
    m = V.metadata_aggregate(t, ["k"])
    assert m["count"] == 35 and m["cols"]["k"]["max"] == 34
    # plant a conflict-loser orphan; vacuum reclaims it AND dropped
    # versions' sidecars, and the table stays readable
    orphan = os.path.join(V._manifest_dir(t),
                          "00000099-files-deadbeef.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"file": ["data/x/y.parquet"]}), orphan)
    stats = V.vacuum_versioned(t, keep_last=2)
    assert not os.path.exists(orphan)
    assert stats["manifests_dropped"] >= 1
    leftovers = [n for n in os.listdir(V._manifest_dir(t))
                 if "-files-" in n]
    kept_vs = V._versions(t)
    assert len(leftovers) == len(kept_vs)
    assert V.read_versioned(spark, t).count() == 35


def test_relay_bootstrap_is_single_commit(spark, tmp_path):
    """The CDF bootstrap rides ONE commit: snapshot rows, relay state,
    and the txn identifier all land on feed v1 — there is no window in
    which the feed exists without its state (the old two-commit shape
    re-bootstrapped destructively after a crash between them)."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "sb_src")
    feed = str(tmp_path / "sb_feed")
    V.write_versioned(_vt_rows(spark, 0, 10), src)
    v, st = V.relay_changes(spark, src, feed, "k")
    assert st["bootstrap"] and v == 1
    assert V.latest_version(feed) == 1
    man = V._read_manifest_meta(feed, 1)
    assert man["relay_stream"] == "cdf_feed"
    assert man["relay_src_version"] == 1
    assert man["txn_app"] == "cdf:cdf_feed" and man["txn_version"] == 1
    assert V._relay_state(feed, "cdf_feed") == 1
    # replicate's bootstrap has the same single-commit shape
    dst = str(tmp_path / "sb_dst")
    v2, st2 = V.replicate_versioned(spark, src, dst, "k")
    assert st2["bootstrap"] and v2 == 1 and V.latest_version(dst) == 1
    assert V._read_manifest_meta(dst, 1)["relay_stream"] == "cdf_relay"


def test_relay_refuses_destructive_rebootstrap(spark, tmp_path):
    """A feed (or replica) that already holds data but carries no
    recoverable relay state is NOT overwritten — re-bootstrapping
    would silently destroy the retained history truncate_changes'
    consumer protocol depends on."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "rb_src")
    feed = str(tmp_path / "rb_feed")
    V.write_versioned(_vt_rows(spark, 0, 5), src)
    # a pre-existing table with no relay state at the feed path
    V.write_versioned(_vt_rows(spark, 100, 105), feed)
    with pytest.raises(ValueError, match="refusing to re-bootstrap"):
        V.relay_changes(spark, src, feed, "k")
    # untouched — the refusal wrote nothing
    assert V.latest_version(feed) == 1
    assert V.read_versioned(spark, feed).count() == 5
    dst = str(tmp_path / "rb_dst")
    V.write_versioned(_vt_rows(spark, 100, 105), dst)
    with pytest.raises(ValueError, match="refusing to re-bootstrap"):
        V.replicate_versioned(spark, src, dst, "k")


def test_relay_state_recovers_from_txn_sidecar(spark, tmp_path):
    """A vacuum that drops every state-bearing manifest does not force
    a bootstrap decision: the relay's txn high-water sidecar preserves
    the last relayed source version, and the next relay CONTINUES from
    it (appending only the new changes)."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "rc_src")
    feed = str(tmp_path / "rc_feed")
    V.write_versioned(_vt_rows(spark, 0, 10), src)                # v1
    V.relay_changes(spark, src, feed, "k")
    V.append_versioned(_vt_rows(spark, 10, 14), src)              # v2
    V.relay_changes(spark, src, feed, "k")
    # a feed-side compaction commit carries no relay state; vacuuming
    # to it drops every manifest that did (sidecar keeps the txn mark)
    V.compact_versioned(spark, feed)
    V.vacuum_versioned(feed, keep_last=1)
    assert V._relay_state(feed, "cdf_feed") is None
    assert V._relay_state_recovered(feed, "cdf_feed") == 2
    V.append_versioned(_vt_rows(spark, 20, 23), src)              # v3
    v, st = V.relay_changes(spark, src, feed, "k")
    assert not st["bootstrap"] and st["ops"] == 3
    ops = V.read_versioned(spark, feed)
    assert ops.count() == 17  # 10 bootstrap + 4 + 3, never re-seeded
    assert ops.filter("_src_version = 3").count() == 3


def test_truncate_changes_is_single_commit(spark, tmp_path):
    """Retention = ONE snapshot commit carrying both the retained rows
    and the re-stamped relay state."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "ts_src")
    feed = str(tmp_path / "ts_feed")
    V.write_versioned(_vt_rows(spark, 0, 10), src)                # v1
    V.relay_changes(spark, src, feed, "k")
    V.append_versioned(_vt_rows(spark, 10, 14), src)              # v2
    V.relay_changes(spark, src, feed, "k")
    before = V.latest_version(feed)
    v, st = V.truncate_changes(spark, feed, keep_from_src_version=2)
    assert v == before + 1  # exactly one commit
    man = V._read_manifest_meta(feed, v)
    assert man["action"] == "overwrite"
    assert man["relay_stream"] == "cdf_feed"
    assert man["relay_src_version"] == 2
    assert man["truncated_below"] == 2


def test_write_versioned_txn_idempotent(spark, tmp_path):
    """write_versioned carries the same per-app idempotence contract
    as append_versioned: a replayed snapshot commit with an
    already-applied txn returns the current version without writing."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "wv_txn")
    v1 = V.write_versioned(_vt_rows(spark, 0, 5), t, txn=("snap", 7))
    assert v1 == 1
    v2 = V.write_versioned(_vt_rows(spark, 0, 5), t, txn=("snap", 7))
    assert v2 == 1 and V.latest_version(t) == 1
    # a newer txn version commits a new snapshot
    v3 = V.write_versioned(_vt_rows(spark, 0, 3), t, txn=("snap", 8))
    assert v3 == 2 and V.read_versioned(spark, t).count() == 3


def test_commit_rejects_out_of_order_txn(spark, tmp_path):
    """Defense in depth at the commit choke point: per app,
    txn_version must strictly increase along the chain — a bypassing
    caller committing an out-of-order txn is refused, so the
    newest-first O(1) mark walk in last_txn_version stays exact."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "mono")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    V.append_versioned(_vt_rows(spark, 5, 8), t, txn=("app", 5))
    files = list(V._read_manifest(t, 2)["files"])
    with pytest.raises(ValueError, match="strictly increase"):
        V._commit(t, "append", files,
                  V._read_manifest(t, 2)["schema"], 2,
                  extra={"txn_app": "app", "txn_version": 5})
    with pytest.raises(ValueError, match="strictly increase"):
        V._commit(t, "append", files,
                  V._read_manifest(t, 2)["schema"], 2,
                  extra={"txn_app": "app", "txn_version": 3})
    # the public path treats the same replay as a no-op, not an error
    assert V.append_versioned(_vt_rows(spark, 5, 8), t,
                              txn=("app", 3)) == 2


def test_append_creation_race_idempotent_and_rebased(spark, tmp_path):
    """The table-CREATION race honors the txn contract: a racing twin
    whose winner already committed v1 with the same txn no-ops instead
    of surfacing VersionConflict; a non-twin creation race rebases as
    an ordinary append on top of the winner."""
    from lazy_frame_spark.sources import versioned as V

    # --- twin case: winner commits v1 with the SAME txn mid-race ----
    t = str(tmp_path / "race_twin")
    real_commit = V._commit
    state = {"fired": False}

    def inject_twin(path, action, files, schema_json, parent,
                    extra=None, dvs=None):
        if not state["fired"]:
            state["fired"] = True
            winner = _vt_rows(spark, 0, 6)
            wfiles = V._write_data_dir(winner, path, 1)
            real_commit(path, "overwrite", wfiles, winner.schema.json(),
                        None, {"txn_app": "stream:s", "txn_version": 0})
            raise V.VersionConflict("injected creation race")
        return real_commit(path, action, files, schema_json, parent,
                           extra, dvs)

    V._commit = inject_twin
    try:
        v = V.append_versioned(_vt_rows(spark, 0, 6), t,
                               txn=("stream:s", 0))
    finally:
        V._commit = real_commit
    assert v == 1 and V.latest_version(t) == 1
    assert V.read_versioned(spark, t).count() == 6  # never doubled

    # --- non-twin case: a different writer created the table --------
    t2 = str(tmp_path / "race_other")
    state["fired"] = False

    def inject_other(path, action, files, schema_json, parent,
                     extra=None, dvs=None):
        if not state["fired"]:
            state["fired"] = True
            winner = _vt_rows(spark, 100, 104)
            wfiles = V._write_data_dir(winner, path, 1)
            real_commit(path, "overwrite", wfiles,
                        winner.schema.json(), None)
            raise V.VersionConflict("injected creation race")
        return real_commit(path, action, files, schema_json, parent,
                           extra, dvs)

    V._commit = inject_other
    try:
        v2 = V.append_versioned(_vt_rows(spark, 0, 6), t2)
    finally:
        V._commit = real_commit
    assert v2 == 2  # rebased on top of the winner's v1
    got = V.read_versioned(spark, t2)
    assert got.count() == 10  # winner's 4 + loser's 6, nothing lost
    assert got.filter("k >= 100").count() == 4


def test_table_changes_from_version_zero(spark, tmp_path):
    """table_changes(path, 0) — Delta's 'from table creation' — emits
    the bootstrap commit's rows as inserts stamped _commit_version=1
    instead of dying on the never-existing manifest 0."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "tc0")
    V.write_versioned(_vt_rows(spark, 0, 5), t)                   # v1
    V.append_versioned(_vt_rows(spark, 5, 8), t)                  # v2
    V.delete_versioned(spark, t, "k = 0")                         # v3
    ch = V.table_changes(spark, t, 0)
    rows = {(r["_commit_version"], r["change_type"], r["k"])
            for r in ch.collect()}
    assert {(1, "insert", k) for k in range(5)} <= rows
    assert {(2, "insert", k) for k in (5, 6, 7)} <= rows
    assert (3, "delete", 0) in rows
    assert len(rows) == 9
    with pytest.raises(ValueError, match=">= 0"):
        V.table_changes(spark, t, -1)


def test_stream_vacuumed_manifest_gives_reseed_error(spark, tmp_path):
    """A vacuum that drops a manifest the running stream still needs
    surfaces the standard re-seed guidance (naming starting_version),
    never a raw FileNotFoundError — in both the capped latestOffset
    math and partitions()."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        VersionedStreamReader,
    )

    t = str(tmp_path / "vac_stream")
    V.write_versioned(_vt_rows(spark, 0, 5), t)                   # v1
    V.append_versioned(_vt_rows(spark, 5, 10), t)                 # v2
    V.append_versioned(_vt_rows(spark, 10, 15), t)                # v3
    r = VersionedStreamReader({"path": t, "max_files_per_batch": 1})
    r._hwm, r._hwm_known = 1, True
    V.vacuum_versioned(t, keep_last=1)  # drops manifests 1 and 2
    with pytest.raises(ValueError, match="starting_version=3"):
        r.latestOffset()
    r2 = VersionedStreamReader({"path": t})
    with pytest.raises(ValueError, match="starting_version"):
        r2.partitions({"version": 1}, {"version": 3})


def test_rename_column_is_metadata_only(spark, tmp_path):
    """RENAME COLUMN commits no data: same file list, new logical
    name; every read surface presents the right spelling per version
    (time travel is exact), values identical throughout; ingest and
    maintenance after the rename keep working against physical names
    under the hood."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "ren")
    V.write_versioned(_vt_rows(spark, 0, 10), t)                  # v1
    V.append_versioned(_vt_rows(spark, 10, 15), t)                # v2
    files_v2 = sorted(V._read_manifest(t, 2)["files"])
    v3 = V.rename_column(spark, t, "k", "key")
    assert v3 == 3
    man3 = V._read_manifest(t, 3)
    assert man3["action"] == "alter"
    assert sorted(man3["files"]) == files_v2          # zero data moved
    assert man3["column_mapping"] == {"key": "k"}
    # latest read: new spelling, same values
    got = V.read_versioned(spark, t)
    assert set(got.columns) == {"key", "v", "flag"}
    assert sorted(r["key"] for r in got.collect()) == list(range(15))
    # time travel: the old spelling, same values
    old = V.read_versioned(spark, t, version=2)
    assert set(old.columns) == {"k", "v", "flag"}
    assert old.count() == 15
    # pruned read by the NEW name goes through the physical sidecars
    sub = V.read_versioned(spark, t, where=[("key", "between", (3, 7))])
    assert sorted(r["key"] for r in sub.collect()) == [3, 4, 5, 6, 7]
    # ingest AFTER the rename writes physical names: an appended batch
    # (logical schema) and all 15+5 rows read back as one table
    batch = _vt_rows(spark, 20, 25).withColumnRenamed("k", "key")
    V.append_versioned(batch, t)                                  # v4
    assert V.read_versioned(spark, t).count() == 20
    # maintenance across the rename: delete + compact + cluster
    V.delete_versioned(spark, t, "key >= 23")                     # v5
    assert V.read_versioned(spark, t).count() == 18
    V.cluster_versioned(spark, t, ["key"], num_partitions=2)      # v6
    got = V.read_versioned(spark, t, where=[("key", "<", 3)])
    assert sorted(r["key"] for r in got.collect()) == [0, 1, 2]
    # restore to the PRE-rename state: old spelling again
    V.restore_versioned(t, 2)                                     # v7
    back = V.read_versioned(spark, t)
    assert set(back.columns) == {"k", "v", "flag"} and back.count() == 15
    # rename forward again, then BACK to the physical name: the
    # identity mapping entry is dropped, reads still exact
    V.rename_column(spark, t, "k", "key2")                        # v8
    V.rename_column(spark, t, "key2", "k")                        # v9
    man9 = V._read_manifest_meta(t, 9)
    assert "column_mapping" not in man9
    assert V.read_versioned(spark, t).count() == 15


def test_rename_column_refusals_and_guards(spark, tmp_path):
    """The non-additive edges fail loudly: unknown/duplicate names, a
    CHECK constraint referencing the renamed column, and a post-rename
    merge_schema column that collides with the retired physical
    slot."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "ren_g")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    with pytest.raises(ValueError, match="no column"):
        V.rename_column(spark, t, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        V.rename_column(spark, t, "k", "v")
    with pytest.raises(ValueError, match="equal"):
        V.rename_column(spark, t, "k", "k")
    V.add_constraint(spark, t, "k_pos", "k >= 0")
    with pytest.raises(ValueError, match="drop_constraint"):
        V.rename_column(spark, t, "k", "key")
    # a constraint on ANOTHER column doesn't block the rename
    V.rename_column(spark, t, "flag", "tag")
    assert set(V.read_versioned(spark, t).columns) == {"k", "v", "tag"}
    # adding a column named like the retired spelling gets a FRESH
    # physical slot: the physical 'flag' storage (now logical 'tag')
    # is never written into or read out of — old rows see NULL, and
    # 'tag' keeps its own values
    import pyspark.sql.functions as _F

    batch = (_vt_rows(spark, 5, 8)
             .withColumnRenamed("flag", "tag")
             .withColumn("flag", _F.lit("fresh")))
    V.append_versioned(batch, t, merge_schema=True)
    man = V._read_manifest_meta(t, V.latest_version(t))
    slot = man["column_mapping"]["flag"]
    assert slot != "flag" and slot.startswith("flag__s")
    got = V.read_versioned(spark, t)
    assert got.filter("flag = 'fresh'").count() == 3
    assert got.filter("flag IS NULL").count() == 5   # old rows: NULL
    assert got.filter("tag IS NOT NULL").count() == 8  # never clobbered
    # a differently-named new column evolves fine across the rename
    batch2 = (_vt_rows(spark, 8, 10).withColumnRenamed("flag", "tag")
              .withColumn("flag", _F.lit("fresh"))
              .withColumn("quality", _F.lit(1.0)))
    V.append_versioned(batch2, t, merge_schema=True)
    got = V.read_versioned(spark, t)
    assert "quality" in got.columns and got.count() == 10
    # pre-evolution rows read the new column as NULL, renamed column intact
    assert got.filter("quality IS NULL").count() == 8
    assert got.filter("tag IS NOT NULL").count() == 10


def test_rename_column_stream_contract(spark, tmp_path):
    """Streams: a rename BEFORE query start reads seamlessly (old
    physical files under the new logical schema); a rename DURING the
    run fails the chain loudly with restart guidance."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        VersionedStreamReader,
    )

    t = str(tmp_path / "ren_s")
    V.write_versioned(_vt_rows(spark, 0, 5), t)                   # v1
    V.append_versioned(_vt_rows(spark, 5, 8), t)                  # v2
    V.rename_column(spark, t, "k", "key")                         # v3
    # started AFTER the rename: full history streams under new names
    r = VersionedStreamReader({"path": t})
    parts = r.partitions({"version": 0}, {"version": 3})
    import pyarrow as pa

    rows = []
    for p in parts:
        for b in r.read(p):
            rows.extend(pa.Table.from_batches([b]).to_pylist())
    assert sorted(x["key"] for x in rows) == list(range(8))
    # rename DURING the run: the reader fixed its schema at v4, the
    # rename lands at v5 — the chain fails with restart guidance
    V.append_versioned(
        _vt_rows(spark, 8, 10).withColumnRenamed("k", "key"), t)  # v4
    r2 = VersionedStreamReader({"path": t})
    V.rename_column(spark, t, "key", "kk")                        # v5
    with pytest.raises(ValueError, match="restart the stream"):
        r2.partitions({"version": 3}, {"version": 5})
    # a FRESH reader (restarted query, new checkpoint) replays the
    # whole chain under the newest spelling without complaint
    r3 = VersionedStreamReader({"path": t})
    parts3 = r3.partitions({"version": 0}, {"version": 5})
    rows3 = []
    for p in parts3:
        for b in r3.read(p):
            rows3.extend(pa.Table.from_batches([b]).to_pylist())
    assert sorted(x["kk"] for x in rows3) == list(range(10))


def test_rename_column_metadata_surfaces(spark, tmp_path):
    """Zero-scan metadata answers by the CURRENT logical name after a
    rename: metadata_aggregate, metadata_ndv, metadata_count_where,
    skipping_summary, and bloom/ndv builds all translate through the
    mapping to the physically-keyed sidecars."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "ren_m")
    V.write_versioned(_vt_rows(spark, 0, 20), t)
    V.build_ndv(spark, t, ["k"])
    V.rename_column(spark, t, "k", "key")
    m = V.metadata_aggregate(t, ["key"])
    assert m["count"] == 20
    assert m["cols"]["key"]["min"] == 0 and m["cols"]["key"]["max"] == 19
    nd = V.metadata_ndv(t, ["key"])
    assert nd["key"] is not None and abs(nd["key"] - 20) < 2
    # building by the NEW name after the rename is idempotent with the
    # pre-rename build (physical sidecars already cover the column)
    st = V.build_ndv(spark, t, ["key"])
    assert st["dirs_built"] == 0
    V.build_blooms(spark, t, ["key"])
    ss = V.skipping_summary(t, [("key", "between", (0, 5))])
    assert ss["total_files"] >= 1
    n = V.metadata_count_where(t, [("key", "<", 10)])
    assert n["exact"] and n["count_min"] == 10
    # constraints still enforce and revalidate across the rename
    V.add_constraint(spark, t, "key_pos", "key >= 0")
    rep = V.revalidate_constraints(spark, t)
    assert rep["constraints"]["key_pos"]["total_files"] >= 1


def test_drop_column_metadata_only_and_safe_readd(spark, tmp_path):
    """DROP COLUMN commits no data, retires the physical slot, time
    travel still shows the column, and RE-ADDING the same name later
    is a NEW column (fresh physical slot): old rows read NULL, the
    dropped column's stale storage is never resurrected."""
    import pyspark.sql.functions as _F

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "dropc")
    V.write_versioned(_vt_rows(spark, 0, 6), t)                   # v1
    files_v1 = sorted(V._read_manifest(t, 1)["files"])
    v2 = V.drop_column(spark, t, "flag")
    man2 = V._read_manifest(t, 2)
    assert v2 == 2 and man2["action"] == "alter"
    assert sorted(man2["files"]) == files_v1          # zero data moved
    assert man2["retired_columns"] == ["flag"]
    got = V.read_versioned(spark, t)
    assert set(got.columns) == {"k", "v"} and got.count() == 6
    # time travel: the column is still there at v1
    assert set(V.read_versioned(spark, t, version=1).columns) == \
        {"k", "v", "flag"}
    # re-add the same NAME: fresh slot, old rows NULL — never the
    # dropped column's 'a' values
    batch = _vt_rows(spark, 6, 9).withColumn("flag", _F.lit("NEW"))
    V.append_versioned(batch, t, merge_schema=True)               # v3
    man3 = V._read_manifest_meta(t, 3)
    assert man3["column_mapping"]["flag"].startswith("flag__s")
    assert man3["retired_columns"] == ["flag"]        # still guarded
    cur = V.read_versioned(spark, t)
    vals = {r["k"]: r["flag"] for r in cur.collect()}
    assert all(vals[k] is None for k in range(6))     # NOT 'a'
    assert all(vals[k] == "NEW" for k in (6, 7, 8))
    # rewrites (delete) keep the retired guard and the fresh slot
    V.delete_versioned(spark, t, "k = 0")                         # v4
    man4 = V._read_manifest_meta(t, 4)
    assert man4["retired_columns"] == ["flag"]
    cur = V.read_versioned(spark, t)
    assert cur.count() == 8 and cur.filter("flag = 'NEW'").count() == 3
    # restore to v1 revives the ORIGINAL column and clears the retire
    V.restore_versioned(t, 1)                                     # v5
    back = V.read_versioned(spark, t)
    assert set(back.columns) == {"k", "v", "flag"}
    assert back.filter("flag = 'a'").count() == 6
    assert "retired_columns" not in V._read_manifest_meta(t, 5)
    # refusals: unknown, last-column, constraint-referenced
    with pytest.raises(ValueError, match="no column"):
        V.drop_column(spark, t, "nope")
    V.add_constraint(spark, t, "fl", "flag IS NOT NULL",
                     validate=False)
    with pytest.raises(ValueError, match="drop_constraint first"):
        V.drop_column(spark, t, "flag")
    one = str(tmp_path / "one")
    V.write_versioned(_vt_rows(spark, 0, 3).select("k"), one)
    with pytest.raises(ValueError, match="only column"):
        V.drop_column(spark, one, "k")


def test_drop_column_stream_contract(spark, tmp_path):
    """A drop DURING the run fails the chain with restart guidance; a
    restarted query streams the reduced schema."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        VersionedStreamReader,
    )

    t = str(tmp_path / "drop_s")
    V.write_versioned(_vt_rows(spark, 0, 5), t)                   # v1
    r = VersionedStreamReader({"path": t})
    V.drop_column(spark, t, "flag")                               # v2
    with pytest.raises(ValueError, match="restart the stream"):
        r.partitions({"version": 0}, {"version": 2})
    r2 = VersionedStreamReader({"path": t})
    parts = r2.partitions({"version": 0}, {"version": 2})
    import pyarrow as pa

    rows = []
    for p in parts:
        for b in r2.read(p):
            rows.extend(pa.Table.from_batches([b]).to_pylist())
    assert sorted(x["k"] for x in rows) == list(range(5))
    assert all(set(x) == {"k", "v"} for x in rows)


def test_evolution_chain_matches_model(spark, tmp_path):
    """Model-based chain test for the column-mapping verbs: a seeded
    random interleaving of append / rename / drop / re-add
    (merge_schema) / delete, checked after EVERY step against a plain
    Python model, plus time travel against recorded snapshots — the
    mapping machinery can never drift from rename-is-just-a-label
    semantics."""
    import random

    import pyspark.sql.functions as _F
    from pyspark.sql import types as _T

    from lazy_frame_spark.sources import versioned as V

    rng = random.Random(2024)
    t = str(tmp_path / "chain")
    cols = ["k", "a"]          # logical names, k is the key
    rows = {k: {"k": k, "a": k * 10} for k in range(8)}
    schema = _T.StructType([
        _T.StructField("k", _T.LongType()),
        _T.StructField("a", _T.LongType()),
    ])
    V.write_versioned(
        spark.createDataFrame(list(rows.values()), schema), t)
    snapshots = {1: ({k: dict(r) for k, r in rows.items()}, list(cols))}
    next_key = 8
    dropped_gen = 0

    def check():
        got = {r["k"]: r.asDict() for r in
               V.read_versioned(spark, t).collect()}
        assert got == rows, f"divergence after v{V.latest_version(t)}"

    for _step in range(14):
        op = rng.choice(["append", "rename", "drop", "readd", "delete"])
        non_key = [c for c in cols if c != "k"]
        if op == "append":
            batch = []
            for _ in range(3):
                r = {"k": next_key}
                for c in non_key:
                    r[c] = next_key * 10
                rows[next_key] = dict(r)
                batch.append(r)
                next_key += 1
            bdf = spark.createDataFrame(
                [[r.get(c) for c in cols] for r in batch],
                _T.StructType([_T.StructField(c, _T.LongType())
                               for c in cols]))
            V.append_versioned(bdf, t)
        elif op == "rename" and non_key:
            c = rng.choice(non_key)
            new = f"{c.split('_r')[0]}_r{rng.randrange(100)}"
            if new in cols:
                continue
            V.rename_column(spark, t, c, new)
            cols[cols.index(c)] = new
            for r in rows.values():
                r[new] = r.pop(c)
        elif op == "drop" and len(non_key) >= 2:
            c = rng.choice(non_key)
            V.drop_column(spark, t, c)
            cols.remove(c)
            for r in rows.values():
                r.pop(c, None)
        elif op == "readd":
            dropped_gen += 1
            c = f"g{dropped_gen}"
            if c in cols:
                continue
            batch = []
            for _ in range(2):
                r = {"k": next_key}
                for cc in non_key:
                    r[cc] = next_key * 10
                r[c] = next_key * 100
                rows[next_key] = dict(r)
                batch.append(r)
                next_key += 1
            for r in rows.values():
                r.setdefault(c, None)
            cols.append(c)
            bdf = spark.createDataFrame(
                [[r.get(cc) for cc in cols] for r in batch],
                _T.StructType([_T.StructField(cc, _T.LongType())
                               for cc in cols]))
            V.append_versioned(bdf, t, merge_schema=True)
        elif op == "delete" and len(rows) > 4:
            cut = rng.choice(sorted(rows))
            V.delete_versioned(spark, t, f"k = {cut}")
            rows.pop(cut, None)
        else:
            continue
        check()
        snapshots[V.latest_version(t)] = (
            {k: dict(r) for k, r in rows.items()}, list(cols))

    # time travel: every recorded snapshot reads back exactly, under
    # ITS OWN spelling of the columns
    for v, (snap, vcols) in snapshots.items():
        got = {r["k"]: r.asDict() for r in
               V.read_versioned(spark, t, version=v).collect()}
        assert got == snap, f"time travel diverged at v{v}"
        assert set(next(iter(got.values())).keys()) == set(vcols) \
            if got else True


def test_upgrade_manifest_lists_table_verb(spark, tmp_path, monkeypatch):
    """The one-shot table-wide upgrade heals every retained version's
    names-only offloaded list; idempotent."""
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "upg")
    monkeypatch.setattr(V, "_MANIFEST_PARQUET_THRESHOLD", 0)
    V._MANIFEST_LIST_CACHE.clear()
    V.write_versioned(_vt_rows(spark, 0, 10), t)
    V.append_versioned(_vt_rows(spark, 10, 14), t)
    # strip stats from BOTH versions' lists (simulate legacy)
    for v in (1, 2):
        rel = V._read_manifest_meta(t, v)["files_parquet"]
        pabs = _os.path.join(V._manifest_dir(t), rel)
        tbl = _pq.read_table(pabs)
        _pq.write_table(_pa.table({"file": tbl["file"]}), pabs)
    st = V.upgrade_manifest_lists(t)
    assert st == {"upgraded": 2, "already_ok": 0, "failed": 0}
    st2 = V.upgrade_manifest_lists(t)
    assert st2 == {"upgraded": 0, "already_ok": 2, "failed": 0}
    # both versions now prune distributed; values stay exact
    got = V.read_versioned(spark, t, where=[("k", "<", 5)])
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 4]
    got1 = V.read_versioned(spark, t, version=1,
                            where=[("k", ">=", 8)])
    assert sorted(r["k"] for r in got1.collect()) == [8, 9]


def test_diff_and_table_changes_across_renames(spark, tmp_path):
    """diff_versions / table_changes survive column RENAMES in the
    range (equal physical sequences): per-commit changes stay exact
    and present the newest spelling; real evolution still raises."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "cdf_ren")
    V.write_versioned(_vt_rows(spark, 0, 6), t)                   # v1
    V.append_versioned(_vt_rows(spark, 6, 9), t)                  # v2
    V.rename_column(spark, t, "v", "value")                       # v3
    V.delete_versioned(spark, t, "k = 0")                         # v4
    d = V.diff_versions(spark, t, 2, 4)
    assert "value" in d.columns and "v" not in d.columns
    rows = {(r["change_type"], r["k"]) for r in d.collect()}
    assert rows == {("delete", 0)}
    ch = V.table_changes(spark, t, 0)
    assert "value" in ch.columns
    got = {(r["_commit_version"], r["change_type"], r["k"])
           for r in ch.collect()}
    assert {(1, "insert", k) for k in range(6)} <= got
    assert {(2, "insert", k) for k in (6, 7, 8)} <= got
    assert (4, "delete", 0) in got and len(got) == 10  # v3 contributes 0
    # DESTRUCTIVE evolution still refuses (additive now reconciles —
    # see test_evolution_cdf.py)
    V.drop_column(spark, t, "flag")                               # v5
    with pytest.raises(ValueError, match="additive"):
        V.diff_versions(spark, t, 2, 5)
    with pytest.raises(ValueError, match="destructively"):
        V.table_changes(spark, t, 0)


def test_relay_survives_source_rename(spark, tmp_path):
    """relay_changes across a source rename_column: the feed FOLLOWS
    the rename (metadata-only alters), ops land under the new
    spelling, state reconstruction stays exact, and a tailing feed
    stream fails at the feed's rename with restart guidance."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        VersionedStreamReader,
    )

    src = str(tmp_path / "rr_src")
    feed = str(tmp_path / "rr_feed")
    V.write_versioned(_vt_rows(spark, 0, 8), src)                 # v1
    V.relay_changes(spark, src, feed, "k")
    r = VersionedStreamReader({"path": feed})  # tailing consumer
    pre_head = r.latestOffset()["version"]
    V.rename_column(spark, src, "v", "value")                     # v2
    V.merge_versioned(
        spark, src,
        _vt_rows(spark, 2, 4, flag="new")
        .withColumnRenamed("v", "value"), "k")                    # v3
    V.append_versioned(
        _vt_rows(spark, 8, 10).withColumnRenamed("v", "value"),
        src)                                                      # v4
    _, st = V.relay_changes(spark, src, feed, "k")
    assert st["ops"] == 4  # 2 U + 2 I (U_pre off)
    got = V.read_versioned(spark, feed)
    assert "value" in got.columns and "v" not in got.columns
    ops = {(r["op"], r["k"]) for r in
           got.filter("_src_version = 4").collect()}
    assert ops == {("U", 2), ("U", 3), ("I", 8), ("I", 9)}
    # the tailing consumer hits the feed's rename alter and re-seeds
    with pytest.raises(ValueError, match="restart the stream"):
        r.partitions({"version": pre_head},
                     {"version": V.latest_version(feed)})
    # reconstruct source head from the feed (new spelling throughout)
    state = {}
    for r2 in sorted(V.read_versioned(spark, feed).collect(),
                     key=lambda x: x["_src_version"]):
        if r2["op"] in ("I", "U"):
            state[r2["k"]] = (r2["value"], r2["flag"])
        elif r2["op"] == "D":
            state.pop(r2["k"], None)
    truth = {r2["k"]: (r2["value"], r2["flag"]) for r2 in
             V.read_versioned(spark, src).collect()}
    assert state == truth
    # a second relay with no source change is a clean no-op
    _, st2 = V.relay_changes(spark, src, feed, "k")
    assert st2["ops"] == 0


def test_replicate_survives_key_rename_and_swap(spark, tmp_path):
    """replicate_versioned across a KEY rename and an a<->b column
    SWAP on the source: the replica follows via two-phase renames and
    stays row-identical."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "sw_src")
    dst = str(tmp_path / "sw_dst")
    V.write_versioned(_vt_rows(spark, 0, 6), src)                 # v1
    V.replicate_versioned(spark, src, dst, "k")
    V.rename_column(spark, src, "k", "id")                        # v2
    V.append_versioned(
        _vt_rows(spark, 6, 8).withColumnRenamed("k", "id"), src)  # v3
    _, st = V.replicate_versioned(spark, src, dst, "id")
    assert st["ops"] == 2
    got = V.read_versioned(spark, dst)
    assert "id" in got.columns and got.count() == 8
    # swap two columns' names on the source (v <-> flag, via temp)
    V.rename_column(spark, src, "v", "__t__")
    V.rename_column(spark, src, "flag", "v")
    V.rename_column(spark, src, "__t__", "flag")
    V.delete_versioned(spark, src, "id = 0")
    _, st2 = V.replicate_versioned(spark, src, dst, "id")
    assert st2["ops"] == 1
    got = V.read_versioned(spark, dst)
    # renames preserve POSITION: the source's field order is now
    # [id, flag, v] (each slot kept its place) and the replica matches
    src_now = V.read_versioned(spark, src)
    assert list(got.columns) == list(src_now.columns) == \
        ["id", "flag", "v"]
    truth = {tuple(r) for r in src_now.collect()}
    assert {tuple(r) for r in got.collect()} == truth


def test_relay_follow_constraint_probe_is_atomic(spark, tmp_path):
    """A feed CHECK constraint referencing a column the upstream
    renamed refuses the follow BEFORE any commit (no temp-name
    stranding); a constraint on an unchanged column rides through."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "cp_src")
    feed = str(tmp_path / "cp_feed")
    V.write_versioned(_vt_rows(spark, 0, 5), src)
    V.relay_changes(spark, src, feed, "k")
    V.add_constraint(spark, feed, "k_pos", "k >= 0")
    V.add_constraint(spark, feed, "v_pos", "v >= 0")
    pre_v = V.latest_version(feed)
    V.rename_column(spark, src, "v", "value")
    V.append_versioned(
        _vt_rows(spark, 5, 7).withColumnRenamed("v", "value"), src)
    with pytest.raises(ValueError, match="drop_constraint"):
        V.relay_changes(spark, src, feed, "k")
    # refused upfront: zero commits landed, no temp columns stranded
    assert V.latest_version(feed) == pre_v
    assert set(V.read_versioned(spark, feed).columns) == \
        {"k", "v", "flag", "op", "_src_version"}
    V.drop_constraint(feed, "v_pos")
    _, st = V.relay_changes(spark, src, feed, "k")
    assert st["ops"] == 2
    assert "value" in V.read_versioned(spark, feed).columns
    # the surviving constraint on the unchanged column still enforces
    assert "k_pos" in V.table_constraints(feed)


def test_clone_versioned_zero_copy_independent(spark, tmp_path):
    """Hardlink clone: value-identical at the cloned version, fully
    independent afterward (appends don't cross, a source vacuum can't
    break the clone), carries DVs + mapping + constraints + sidecars."""
    import os as _os

    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "cl_src")
    dst = str(tmp_path / "cl_dst")
    V.write_versioned(_vt_rows(spark, 0, 10), src)                # v1
    V.append_versioned(_vt_rows(spark, 10, 14), src)              # v2
    V.delete_versioned(spark, src, "k = 3",
                       strategy="merge-on-read")                  # v3 (DV)
    V.rename_column(spark, src, "v", "value")                     # v4
    V.add_constraint(spark, src, "k_pos", "k >= 0")               # v5
    V.build_ndv(spark, src, ["k"])
    v, cst = V.clone_versioned(src, dst)
    assert v == 1
    # observability: same-device clone links everything, copies nothing
    assert cst["files_copied"] == 0 and cst["bytes_copied"] == 0
    assert cst["files_linked"] >= len(V._read_manifest(dst, 1)["files"])
    # clone lineage is auditable from history(), not just manifests
    h1 = V.history(dst)[0]
    assert h1["cloned_from"] == _os.path.abspath(src)
    assert h1["cloned_version"] == 5
    got = V.read_versioned(spark, dst)
    assert set(got.columns) == {"k", "value", "flag"}
    assert got.count() == 13  # DV respected (k=3 masked)
    truth = {tuple(r) for r in V.read_versioned(spark, src).collect()}
    assert {tuple(r) for r in got.collect()} == truth
    # zero-copy: data files are the same inode
    rel = V._read_manifest(dst, 1)["files"][0]
    assert _os.stat(_os.path.join(src, rel)).st_ino == \
        _os.stat(_os.path.join(dst, rel)).st_ino
    # metadata rides along: mapping, constraints, NDV sidecars
    assert V._col_mapping(V._read_manifest_meta(dst, 1)) == \
        {"value": "v"}
    assert "k_pos" in V.table_constraints(dst)
    nd = V.metadata_ndv(src, ["k"])  # src has DVs -> None; clone too
    assert nd["k"] is None
    # constraint enforces on the CLONE's own ingest
    with pytest.raises(ValueError, match="k_pos"):
        V.append_versioned(
            _vt_rows(spark, -5, -2).withColumnRenamed("v", "value"),
            dst)
    # independence: clone-side append, then source-side vacuum
    V.append_versioned(
        _vt_rows(spark, 20, 22).withColumnRenamed("v", "value"), dst)
    V.write_versioned(_vt_rows(spark, 0, 2), src)   # src moves on
    V.vacuum_versioned(src, keep_last=1)            # drops old src files
    assert V.read_versioned(spark, dst).count() == 15
    assert V.read_versioned(spark, src).count() == 2
    # pruned read on the clone uses the linked sidecars
    sub = V.read_versioned(spark, dst, where=[("k", "<", 2)])
    assert sorted(r["k"] for r in sub.collect()) == [0, 1]
    # time-travel clone (of the CLONE, whose v1 is retained) + refusals
    dst2 = str(tmp_path / "cl_dst2")
    V.clone_versioned(dst, dst2, version=1)
    assert V.read_versioned(spark, dst2).count() == 13
    assert set(V.read_versioned(spark, dst2).columns) == \
        {"k", "value", "flag"}
    with pytest.raises(ValueError, match="fresh path"):
        V.clone_versioned(src, dst)


def test_append_racing_a_rename_fails_loudly(spark, tmp_path):
    """A blind append whose batch still carries the OLD spelling,
    racing a rename_column: the rebase re-validates against the
    winner's renamed schema and fails LOUDLY (Delta's behavior) — it
    never silently writes the old spelling into a renamed table."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_ren")
    V.write_versioned(_vt_rows(spark, 0, 5), t)
    real_commit = V._commit
    state = {"fired": False}

    def inject(path, action, files, schema_json, parent,
               extra=None, dvs=None):
        if not state["fired"] and action == "append":
            state["fired"] = True
            V._commit = real_commit
            V.rename_column(spark, path, "v", "value")  # winner: alter
            V._commit = inject
            raise V.VersionConflict("injected rename race")
        return real_commit(path, action, files, schema_json, parent,
                           extra, dvs)

    V._commit = inject
    try:
        with pytest.raises(ValueError, match="diverges"):
            V.append_versioned(_vt_rows(spark, 5, 8), t)
    finally:
        V._commit = real_commit
    # the table is intact under the NEW spelling; the correctly-
    # spelled retry lands
    assert set(V.read_versioned(spark, t).columns) == \
        {"k", "value", "flag"}
    V.append_versioned(
        _vt_rows(spark, 5, 8).withColumnRenamed("v", "value"), t)
    assert V.read_versioned(spark, t).count() == 8


def test_clone_metadata_surfaces(spark, tmp_path):
    """Zero-scan metadata works on a clone from the first read: the
    linked stats/NDV sidecars serve metadata_aggregate/metadata_ndv
    under the clone's (possibly renamed) logical names."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "cm_src")
    dst = str(tmp_path / "cm_dst")
    V.write_versioned(_vt_rows(spark, 0, 12), src)
    V.build_ndv(spark, src, ["k"])
    V.rename_column(spark, src, "k", "key")
    V.clone_versioned(src, dst)
    m = V.metadata_aggregate(dst, ["key"])
    assert m["count"] == 12
    assert m["cols"]["key"]["min"] == 0 and m["cols"]["key"]["max"] == 11
    nd = V.metadata_ndv(dst, ["key"])
    assert nd["key"] is not None and abs(nd["key"] - 12) < 2
    n = V.metadata_count_where(dst, [("key", "<", 6)])
    assert n["exact"] and n["count_min"] == 6


def test_stream_sinks_into_renamed_table(spark, tmp_path):
    """The exactly-once streaming sinks (append + merge writers) keep
    working after a rename_column: batches arrive under the CURRENT
    logical spelling and land in physical slots; replays still skip."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "sw_ren")
    V.write_versioned(_vt_rows(spark, 0, 4), t)
    V.rename_column(spark, t, "v", "value")
    w = V.versioned_stream_writer(t, stream_id="s1")
    b1 = _vt_rows(spark, 4, 7).withColumnRenamed("v", "value")
    w(b1, 0)
    assert V.read_versioned(spark, t).count() == 7
    w(b1, 0)  # replayed epoch: skipped by the high-water mark
    assert V.read_versioned(spark, t).count() == 7
    # keyed merge sink across the rename
    m = V.versioned_stream_merger(t, on="k", stream_id="s2")
    b2 = (_vt_rows(spark, 5, 9, flag="up")
          .withColumnRenamed("v", "value"))
    m(b2, 0)
    got = V.read_versioned(spark, t)
    assert got.count() == 9
    assert got.filter("flag = 'up'").count() == 4
    assert set(got.columns) == {"k", "value", "flag"}
    # batches still spelling the OLD name fail loudly, never mis-land
    bad = _vt_rows(spark, 20, 22)
    with pytest.raises(ValueError, match="diverges"):
        w(bad, 1)


def test_clone_offloaded_manifest(spark, tmp_path, monkeypatch):
    """Cloning a table whose manifest is OFFLOADED (columnar file
    list): the clone re-offloads its own list with embedded stats and
    pruned reads work from the first query."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "co_src")
    dst = str(tmp_path / "co_dst")
    monkeypatch.setattr(V, "_MANIFEST_PARQUET_THRESHOLD", 0)
    V._MANIFEST_LIST_CACHE.clear()
    V.write_versioned(_vt_rows(spark, 0, 20).repartition(4), src)
    V.cluster_versioned(spark, src, ["k"], num_partitions=4)
    assert V._read_manifest_meta(src, 2)["files_parquet"]
    V.clone_versioned(src, dst)
    meta = V._read_manifest_meta(dst, 1)
    assert meta["files_parquet"] and not meta["files"]
    got = V.read_versioned(spark, dst, where=[("k", "between", (5, 9))])
    assert sorted(r["k"] for r in got.collect()) == [5, 6, 7, 8, 9]
    assert V.read_versioned(spark, dst).count() == 20
