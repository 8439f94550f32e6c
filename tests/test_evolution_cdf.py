"""Round-15 capability tests: change feeds ACROSS additive schema
evolution, the evolve_schema alter verb, the rebase slot-integrity
gate (r14 ADVICE high), clone observability, and the stream source's
Delta-strict on_schema_change mode.

The reference (bwlewis/lazy.frame) is a read-only viewer with no
write/evolution surface; these extend the engine's versioned format
(sources/versioned.py) the way Delta CDF composes with ALTER TABLE
ADD COLUMNS."""

from __future__ import annotations

import os

import pytest


def _rows(spark, lo, hi, flag="a"):
    return spark.createDataFrame(
        [(i, float(i) * 10, flag) for i in range(lo, hi)],
        "k long, v double, flag string",
    )


def _rows_q(spark, lo, hi, flag="a"):
    """Post-evolution shape: adds a quality column."""
    return spark.createDataFrame(
        [(i, float(i) * 10, flag, i % 5) for i in range(lo, hi)],
        "k long, v double, flag string, q long",
    )


# ---------------------------------------------------------------------------
# evolve_schema — the metadata-only ADD COLUMNS / widen verb
# ---------------------------------------------------------------------------


def test_evolve_schema_metadata_only_add_and_widen(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS as one alter commit: zero data I/O
    (file list unchanged), every pre-evolution file reads the new
    column as NULL, widening upgrades in place, and the verb is
    idempotent (re-evolving to a covered schema doesn't commit)."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "evs")
    V.write_versioned(_rows(spark, 0, 6), t)                     # v1
    files_v1 = sorted(V._read_manifest(t, 1)["files"])
    from pyspark.sql import types as T

    v = V.evolve_schema(t, T.StructType([
        T.StructField("q", T.IntegerType(), True)]))             # v2
    assert v == 2
    man2 = V._read_manifest(t, 2)
    assert man2["action"] == "alter"
    assert sorted(man2["files"]) == files_v1                     # no I/O
    got = V.read_versioned(spark, t)
    assert got.columns == ["k", "v", "flag", "q"]
    assert got.filter("q IS NULL").count() == 6
    # history surfaces the evolution
    h = V.history(t)[-1]
    assert h["evolved"] == {"added": ["q"], "widened": []}
    # idempotent: already covered -> no new commit
    assert V.evolve_schema(t, T.StructType([
        T.StructField("q", T.IntegerType(), True)])) == 2
    assert V.latest_version(t) == 2
    # lossless widening via the same verb — DDL string form
    v3 = V.evolve_schema(t, "q long")                            # v3
    assert v3 == 3
    assert V.history(t)[-1]["evolved"] == {"added": [], "widened": ["q"]}
    # post-evolution append under the evolved schema reads seamlessly
    V.append_versioned(_rows_q(spark, 6, 9), t)                  # v4
    got = V.read_versioned(spark, t)
    assert got.count() == 9
    assert got.filter("q IS NOT NULL").count() == 3
    # destructive evolution refuses
    with pytest.raises(ValueError, match="lossless"):
        V.evolve_schema(t, T.StructType([
            T.StructField("q", T.StringType(), True)]))


def test_evolve_schema_recycled_name_gets_fresh_slot(spark, tmp_path):
    """Re-adding a DROPPED column's name via evolve_schema must NOT
    window onto the dropped column's stale storage: the recycled name
    gets a fresh physical slot and old files read it as NULL."""
    from lazy_frame_spark.sources import versioned as V
    from pyspark.sql import types as T

    t = str(tmp_path / "evs_recycle")
    V.write_versioned(_rows(spark, 0, 5), t)                     # v1
    V.drop_column(spark, t, "v")                                 # v2
    V.evolve_schema(t, T.StructType([
        T.StructField("v", T.DoubleType(), True)]))              # v3
    man = V._read_manifest_meta(t, 3)
    assert V._col_mapping(man).get("v", "v") != "v"              # fresh slot
    got = V.read_versioned(spark, t)
    assert got.filter("v IS NOT NULL").count() == 0              # no zombie


# ---------------------------------------------------------------------------
# diff_versions / table_changes across additive evolution
# ---------------------------------------------------------------------------


def test_diff_versions_across_add_column(spark, tmp_path):
    """The diff crosses a merge_schema append exactly: old-side rows
    NULL-fill the new column under v_to's schema, the add-column alter
    alone is an EMPTY diff, and a drop still refuses."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "dv_evo")
    V.write_versioned(_rows(spark, 0, 4), t)                     # v1
    V.append_versioned(_rows_q(spark, 4, 7), t,
                       merge_schema=True)                        # v2 evolves
    d = V.diff_versions(spark, t, 1, 2)
    assert set(d.columns) == {"k", "v", "flag", "q", "change_type"}
    rows = {(r["k"], r["q"], r["change_type"]) for r in d.collect()}
    assert rows == {(4, 4, "insert"), (5, 0, "insert"), (6, 1, "insert")}
    # a metadata-only evolve alter contributes an EMPTY diff
    from pyspark.sql import types as T

    V.evolve_schema(t, T.StructType([
        T.StructField("extra", T.StringType(), True)]))          # v3
    assert V.diff_versions(spark, t, 2, 3).count() == 0
    # full-range diff: v1 files shared on both sides -> cancelled,
    # so the pre-evolution epoch contributes nothing (Delta CDF rule)
    d13 = V.diff_versions(spark, t, 1, 3)
    assert d13.filter("k < 4").count() == 0
    assert d13.count() == 3
    # destructive: a drop refuses with reconciliation guidance
    V.drop_column(spark, t, "extra")                             # v4
    with pytest.raises(ValueError, match="additive"):
        V.diff_versions(spark, t, 3, V.latest_version(t))


def test_diff_versions_rename_plus_add(spark, tmp_path):
    """Renames COMPOSE with evolution in one range: slot identity
    re-labels the old side and NULL-fills the added column."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "dv_ren_add")
    V.write_versioned(_rows(spark, 0, 3), t)                     # v1
    V.rename_column(spark, t, "v", "value")                      # v2
    V.append_versioned(
        _rows_q(spark, 3, 5).withColumnRenamed("v", "value"), t,
        merge_schema=True)                                       # v3
    d = V.diff_versions(spark, t, 1, 3)
    assert set(d.columns) == {"k", "value", "flag", "q", "change_type"}
    got = {(r["k"], r["value"], r["q"]) for r in d.collect()}
    assert got == {(3, 30.0, 3), (4, 40.0, 4)}


def test_table_changes_across_evolution_stamps_hi_schema(spark, tmp_path):
    """Per-commit change feed across an evolution mid-range: every
    row — pre- and post-evolution commits alike — carries v_to's
    schema, with pre-evolution epochs NULL in the added column."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "tc_evo")
    V.write_versioned(_rows(spark, 0, 2), t)                     # v1
    V.append_versioned(_rows(spark, 2, 4), t)                    # v2
    V.append_versioned(_rows_q(spark, 4, 6), t,
                       merge_schema=True)                        # v3 evolves
    V.rename_column(spark, t, "q", "quality")                    # v4
    tc = V.table_changes(spark, t, 0)
    assert set(tc.columns) == {"k", "v", "flag", "quality",
                               "change_type", "_commit_version"}
    by_v = {(r["k"], r["_commit_version"]): r["quality"]
            for r in tc.collect()}
    assert len(by_v) == 6
    assert by_v[(0, 1)] is None and by_v[(3, 2)] is None
    assert by_v[(4, 3)] == 4 and by_v[(5, 3)] == 0
    # destructive evolution in-range still refuses
    V.drop_column(spark, t, "quality")                           # v5
    with pytest.raises(ValueError, match="destructively"):
        V.table_changes(spark, t, 0)
    # ...but a range that starts after the drop is fine
    assert V.table_changes(spark, t, 4).count() == 0


def test_table_changes_from_zero_vacuumed_gives_guidance(spark, tmp_path):
    """ADVICE r14 (low): table_changes(path, 0) over a table whose v1
    manifest was vacuumed must give the curated can't-replay guidance,
    not a raw FileNotFoundError."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "tc_vac")
    V.write_versioned(_rows(spark, 0, 3), t)                     # v1
    V.append_versioned(_rows(spark, 3, 5), t)                    # v2
    V.append_versioned(_rows(spark, 5, 6), t)                    # v3
    V.vacuum_versioned(t, keep_last=1)
    with pytest.raises(ValueError, match="retained"):
        V.table_changes(spark, t, 0)


def test_diff_and_relay_across_type_widening(spark, tmp_path):
    """A lossless widening (int -> long via merge_schema) mid-range:
    the diff casts the narrow epoch up under v_to's schema and the
    relay feed FOLLOWS the widening with a metadata-only evolve."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "dv_widen")
    feed = str(tmp_path / "dv_widen_feed")
    narrow = spark.createDataFrame(
        [(i, i * 2) for i in range(4)], "k long, n int")
    wide = spark.createDataFrame(
        [(i, i * 2) for i in range(4, 6)], "k long, n long")
    V.write_versioned(narrow, t)                                 # v1
    V.relay_changes(spark, t, feed, "k")
    V.append_versioned(wide, t, merge_schema=True)               # v2 widens
    assert V._committed_schema(
        V._read_manifest_meta(t, 2))["n"].dataType.typeName() == "long"
    d = V.diff_versions(spark, t, 1, 2)
    assert d.schema["n"].dataType.typeName() == "long"
    assert {(r["k"], r["n"]) for r in d.collect()} == {(4, 8), (5, 10)}
    _, st = V.relay_changes(spark, t, feed, "k")
    assert st["ops"] == 2
    got = V.read_versioned(spark, feed)
    assert got.schema["n"].dataType.typeName() == "long"         # followed
    assert any(h.get("evolved", {}).get("widened") == ["n"]
               for h in V.history(feed))
    assert {(r["k"], r["n"]) for r in got.collect()} == \
        {(i, i * 2) for i in range(6)}


# ---------------------------------------------------------------------------
# relays across evolution
# ---------------------------------------------------------------------------


def test_relay_feed_follows_add_column(spark, tmp_path):
    """The change-feed relay survives an upstream add-column: the feed
    evolves metadata-only (no data rewrite), old epochs read NULL in
    the new column, the new epoch's ops carry it, and the relay stays
    exactly-once (replay no-ops)."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "rf_src")
    feed = str(tmp_path / "rf_feed")
    V.write_versioned(_rows(spark, 0, 4), src)                   # v1
    V.relay_changes(spark, src, feed, "k")
    V.append_versioned(_rows_q(spark, 4, 7), src,
                       merge_schema=True)                        # v2 evolves
    files_before = set(V._read_manifest(
        feed, V.latest_version(feed))["files"])
    _, st = V.relay_changes(spark, src, feed, "k")
    assert st["ops"] == 3
    got = V.read_versioned(spark, feed)
    assert set(got.columns) == {"k", "v", "flag", "q",
                                "op", "_src_version"}
    # the follow moved no data: pre-follow files all still referenced
    files_after = set(V._read_manifest(
        feed, V.latest_version(feed))["files"])
    assert files_before <= files_after
    # epochs: bootstrap rows NULL-fill q; evolved epoch carries it
    assert got.filter("_src_version = 1 AND q IS NULL").count() == 4
    assert {(r["k"], r["q"]) for r in
            got.filter("_src_version = 2").collect()} == \
        {(4, 4), (5, 0), (6, 1)}
    # exactly-once: replay no-ops
    _, st2 = V.relay_changes(spark, src, feed, "k")
    assert st2["ops"] == 0


def test_relay_feed_follows_rename_and_add_together(spark, tmp_path):
    """One relay range holding BOTH a rename and an add-column: the
    feed follows renames positionally on the stable prefix and evolves
    for the added tail, and a subsequent MoR delete still relays as D
    ops under the evolved schema."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "rfa_src")
    feed = str(tmp_path / "rfa_feed")
    V.write_versioned(_rows(spark, 0, 5), src)                   # v1
    V.relay_changes(spark, src, feed, "k")
    V.rename_column(spark, src, "v", "value")                    # v2
    V.append_versioned(
        _rows_q(spark, 5, 8).withColumnRenamed("v", "value"),
        src, merge_schema=True)                                  # v3
    _, st = V.relay_changes(spark, src, feed, "k")
    assert st["ops"] == 3
    got = V.read_versioned(spark, feed)
    assert set(got.columns) == {"k", "value", "flag", "q",
                                "op", "_src_version"}
    assert got.filter("value IS NULL").count() == 0  # relabel exact
    # destructive source commit still relays (diff is exact over any
    # chain): MoR-delete k=1, arrives as a D op with the preimage
    V.delete_versioned(spark, src, "k = 1", strategy="merge-on-read")
    _, st2 = V.relay_changes(spark, src, feed, "k")
    d_ops = V.read_versioned(spark, feed).filter("op = 'D'").collect()
    assert [(r["k"], r["value"]) for r in d_ops] == [(1, 10.0)]


def test_replicate_follows_add_column(spark, tmp_path):
    """Incremental replication across an upstream add-column: the
    replica's schema evolves in lockstep and the CDC apply lands the
    evolved rows; pre-evolution replica rows read NULL."""
    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "rep_src")
    dst = str(tmp_path / "rep_dst")
    V.write_versioned(_rows(spark, 0, 4), src)                   # v1
    V.replicate_versioned(spark, src, dst, "k")
    V.append_versioned(_rows_q(spark, 4, 6), src,
                       merge_schema=True)                        # v2
    # also mutate an OLD row post-evolution so the relay carries an
    # update that back-fills its q
    V.merge_versioned(spark, src,
                      _rows_q(spark, 0, 1, flag="upd"), on="k")  # v3
    _, st = V.replicate_versioned(spark, src, dst, "k")
    assert st["ops"] == 3  # k=4,5 inserts + k=0 update
    truth = {tuple(r) for r in V.read_versioned(spark, src).collect()}
    got = {tuple(r) for r in V.read_versioned(spark, dst).collect()}
    assert got == truth
    # replay no-ops
    _, st2 = V.replicate_versioned(spark, src, dst, "k")
    assert st2["ops"] == 0


# ---------------------------------------------------------------------------
# the rebase slot-integrity gate (r14 ADVICE high)
# ---------------------------------------------------------------------------


def _race(spark, V, t, batch, winner, merge_schema=True):
    """Run append_versioned(batch) losing one injected commit race to
    ``winner()`` — returns whatever the append raises/returns."""
    real_commit = V._commit
    state = {"fired": False}

    def inject(path, action, files, schema_json, parent,
               extra=None, dvs=None):
        if not state["fired"] and action == "append":
            state["fired"] = True
            V._commit = real_commit
            winner()
            V._commit = inject
            raise V.VersionConflict("injected race")
        return real_commit(path, action, files, schema_json, parent,
                           extra, dvs)

    V._commit = inject
    try:
        return V.append_versioned(batch, t, merge_schema=merge_schema)
    finally:
        V._commit = real_commit


def test_rebase_refuses_concurrent_drop_resurrection(spark, tmp_path):
    """merge_schema append racing a concurrent drop_column of a column
    the batch carries: the rebase must surface VersionConflict — the
    batch's files hold the RETIRED slot, and committing would
    resurrect the dropped column's storage under a recycled name."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_drop")
    V.write_versioned(_rows(spark, 0, 4), t)
    with pytest.raises(V.VersionConflict, match="mapping ground"):
        _race(spark, V, t, _rows(spark, 4, 6),
              lambda: V.drop_column(spark, t, "v"))
    # table intact post-race: v dropped, rows unchanged
    assert V.read_versioned(spark, t).columns == ["k", "flag"]
    assert V.read_versioned(spark, t).count() == 4


def test_rebase_refuses_concurrent_rename_aliasing(spark, tmp_path):
    """merge_schema append racing a concurrent rename of a batch
    column: post-rename the batch column is 'new' to the merge and
    would default to the winner's live physical slot — two logical
    columns reading one slot. Must surface VersionConflict."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_ren_alias")
    V.write_versioned(_rows(spark, 0, 4), t)
    with pytest.raises(V.VersionConflict, match="mapping ground"):
        _race(spark, V, t, _rows(spark, 4, 6),
              lambda: V.rename_column(spark, t, "v", "value"))
    got = V.read_versioned(spark, t)
    assert set(got.columns) == {"k", "value", "flag"}
    assert got.count() == 4
    # the correctly-spelled retry lands
    V.append_versioned(
        _rows(spark, 4, 6).withColumnRenamed("v", "value"), t)
    assert V.read_versioned(spark, t).count() == 6


def test_rebase_refuses_concurrent_same_column_evolution(spark, tmp_path):
    """Two merge_schema writers adding the SAME logical column onto a
    table where its name is an occupied slot (fresh uuid slots on both
    sides): the loser's carried assignment would clobber the winner's
    committed mapping entry — the winner's data would read NULL. Must
    surface VersionConflict; a re-run then lands under the winner's
    slot."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_same_col")
    V.write_versioned(_rows(spark, 0, 4), t)
    V.rename_column(spark, t, "v", "value")  # slot 'v' now occupied
    new = _rows_q(spark, 4, 6).withColumnRenamed("v", "value") \
        .withColumnRenamed("q", "v")  # re-adds name 'v' (occupied slot)
    winner_batch = _rows_q(spark, 8, 9).withColumnRenamed("v", "value") \
        .withColumnRenamed("q", "v")
    with pytest.raises(V.VersionConflict, match="mapping ground"):
        _race(spark, V, t, new,
              lambda: V.append_versioned(winner_batch, t,
                                         merge_schema=True))
    # winner's data intact under ITS slot
    got = V.read_versioned(spark, t)
    assert got.filter("v IS NOT NULL").count() == 1
    # the clean retry composes: lands under the winner's committed slot
    V.append_versioned(new, t, merge_schema=True)
    assert V.read_versioned(spark, t).filter("v IS NOT NULL").count() == 3


def test_rebase_refuses_plain_append_over_readded_column(spark, tmp_path):
    """A plain append racing a drop_column + re-add of a batch column:
    the schema still matches, but the re-added column lives in a fresh
    slot, so the batch's already-written values would read as NULL.
    Must surface VersionConflict."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_readd")
    V.write_versioned(_rows(spark, 0, 4), t)

    def winner():
        V.drop_column(spark, t, "v")
        V.evolve_schema(t, "v double")

    with pytest.raises(V.VersionConflict, match="mapping ground"):
        _race(spark, V, t, _rows(spark, 4, 6), winner, merge_schema=False)
    got = V.read_versioned(spark, t)
    assert got.count() == 4 and got.filter("v IS NOT NULL").count() == 0


def _lose_one_race(V, action, winner, call):
    """Run ``call()`` with its first ``action`` commit losing an
    injected race to ``winner()`` — returns what ``call`` returns."""
    real_commit = V._commit
    state = {"fired": False}

    def inject(path, action_, files, schema_json, parent,
               extra=None, dvs=None):
        if not state["fired"] and action_ == action:
            state["fired"] = True
            V._commit = real_commit
            winner()
            V._commit = inject
            raise V.VersionConflict("injected race")
        return real_commit(path, action_, files, schema_json, parent,
                           extra, dvs)

    V._commit = inject
    try:
        return call()
    finally:
        V._commit = real_commit


def test_evolve_schema_rebases_over_concurrent_append(spark, tmp_path):
    """evolve_schema losing its commit to a concurrent append re-merges
    against the winner and lands on top: the winner's rows are kept
    and read the new column as NULL."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_evolve_append")
    V.write_versioned(_rows(spark, 0, 4), t)                     # v1
    v = _lose_one_race(
        V, "alter", lambda: V.append_versioned(_rows(spark, 4, 6), t),
        lambda: V.evolve_schema(t, "q long"))
    assert v == 3 and V.latest_version(t) == 3
    man = V._read_manifest(t, 3)
    assert man["action"] == "alter"
    assert man["evolved"] == {"added": ["q"], "widened": []}
    assert set(V._read_manifest(t, 2)["files"]) <= set(man["files"])
    got = V.read_versioned(spark, t)
    assert got.columns == ["k", "v", "flag", "q"]
    assert got.count() == 6 and got.filter("q IS NULL").count() == 6


def test_evolve_schema_concurrent_same_evolution_is_the_answer(
        spark, tmp_path):
    """evolve_schema losing its commit to a concurrent evolve of the
    same column returns the winner's version without committing."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "race_evolve_twin")
    V.write_versioned(_rows(spark, 0, 4), t)                     # v1
    v = _lose_one_race(
        V, "alter", lambda: V.evolve_schema(t, "q long"),
        lambda: V.evolve_schema(t, "q long"))
    assert v == 2 and V.latest_version(t) == 2
    assert V.read_versioned(spark, t).columns == ["k", "v", "flag", "q"]


# ---------------------------------------------------------------------------
# clone observability
# ---------------------------------------------------------------------------


def test_clone_cross_device_counts_and_warns(spark, tmp_path, monkeypatch):
    """EXDEV fallback is visible: stats count the copies and a
    RuntimeWarning fires on the first; a NON-EXDEV link error (perms,
    quota) propagates instead of silently copying the table."""
    import errno

    from lazy_frame_spark.sources import versioned as V

    src = str(tmp_path / "cx_src")
    V.write_versioned(_rows(spark, 0, 6), src)

    real_link = os.link

    def exdev(s, d, *a, **kw):
        if "_manifests" in str(s):
            # the commit point itself (manifest publish) also uses
            # os.link — only the DATA-file links simulate cross-device
            return real_link(s, d, *a, **kw)
        raise OSError(errno.EXDEV, "Invalid cross-device link", s)

    monkeypatch.setattr(os, "link", exdev)
    with pytest.warns(RuntimeWarning, match="NOT zero-copy"):
        v, st = V.clone_versioned(src, str(tmp_path / "cx_dst1"))
    assert v == 1
    assert st["files_linked"] == 0
    assert st["files_copied"] >= 1 and st["bytes_copied"] > 0
    # the copied clone still READS correctly
    assert V.read_versioned(spark, str(tmp_path / "cx_dst1")).count() == 6

    def eperm(s, d, *a, **kw):
        if "_manifests" in str(s):
            return real_link(s, d, *a, **kw)
        raise OSError(errno.EPERM, "Operation not permitted", s)

    monkeypatch.setattr(os, "link", eperm)
    with pytest.raises(OSError, match="not permitted"):
        V.clone_versioned(src, str(tmp_path / "cx_dst2"))
    monkeypatch.setattr(os, "link", real_link)
    v3, st3 = V.clone_versioned(src, str(tmp_path / "cx_dst3"))
    assert st3["files_copied"] == 0 and st3["files_linked"] >= 1


# ---------------------------------------------------------------------------
# stream source: Delta-strict on_schema_change='fail'
# ---------------------------------------------------------------------------


def test_stream_on_schema_change_fail_refuses_adoption(spark, tmp_path):
    """on_schema_change='fail' pins the Delta-strict restart contract:
    pending rows committed under a retired spelling refuse to flow
    beneath the adopted schema; the default 'adopt' run delivers them
    re-labeled (the r14 contract, unchanged)."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        versioned_stream_read,
    )

    t = str(tmp_path / "st_fail")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    V.write_versioned(_rows(spark, 0, 4), t)                     # v1

    def drain(mode):
        q = (versioned_stream_read(spark, t, on_schema_change=mode)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        return q

    q = drain("fail")
    assert q.exception() is None
    assert spark.read.parquet(out).count() == 4
    # rename lands BETWEEN runs, with rows pending on either side
    V.append_versioned(_rows(spark, 4, 6), t)                    # v2
    V.rename_column(spark, t, "v", "value")                      # v3
    V.append_versioned(
        _rows(spark, 6, 7).withColumnRenamed("v", "value"), t)   # v4
    q2 = drain("fail")
    err = q2.exception()
    assert err is not None and "on_schema_change='fail'" in str(err)
    # the same checkpoint under the DEFAULT contract adopts + delivers
    q3 = drain("adopt")
    assert q3.exception() is None
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert merged.count() == 7
    # bad mode value refuses loudly at reader construction
    from lazy_frame_spark.sources.versioned_stream import (
        VersionedStreamReader,
    )

    with pytest.raises(ValueError, match="'adopt' or 'fail'"):
        VersionedStreamReader({"path": t, "on_schema_change": "explode"})


def test_stream_passes_evolve_alter_even_in_fail_mode(spark, tmp_path):
    """An evolve_schema ALTER commit is ADDITIVE — it streams through
    in both modes (no spelling changed; Delta-strict 'fail' only
    guards renames/drops), and a restart adopts the new column while
    delivering pending pre- and post-evolution rows exactly once."""
    from lazy_frame_spark.sources import versioned as V
    from lazy_frame_spark.sources.versioned_stream import (
        versioned_stream_read,
    )
    from pyspark.sql import types as T

    t = str(tmp_path / "st_evo")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    V.write_versioned(_rows(spark, 0, 4), t)                     # v1

    def drain():
        q = (versioned_stream_read(spark, t, on_schema_change="fail")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return q

    assert drain().exception() is None
    V.append_versioned(_rows(spark, 4, 5), t)                    # v2 (old shape)
    V.evolve_schema(t, T.StructType([
        T.StructField("q", T.LongType(), True)]))                # v3 alter
    V.append_versioned(_rows_q(spark, 5, 7), t)                  # v4 (evolved)
    q2 = drain()
    assert q2.exception() is None
    got = spark.read.option("mergeSchema", "true").parquet(out)
    assert got.count() == 7
    assert got.filter("q IS NOT NULL").count() == 2              # k=5,6
    assert got.filter("k = 4").collect()[0]["q"] is None         # padded


# ---------------------------------------------------------------------------
# operational metadata: DESCRIBE DETAIL + VACUUM DRY RUN
# ---------------------------------------------------------------------------


def test_table_detail_and_vacuum_dry_run(spark, tmp_path):
    """table_detail is a zero-job DESCRIBE DETAIL (no SparkSession
    parameter), and vacuum dry_run reports EXACTLY what the real run
    then reclaims while deleting and writing nothing."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "td")
    V.write_versioned(_rows(spark, 0, 6).repartition(2), t)      # v1
    V.write_versioned(_rows(spark, 0, 4), t)                     # v2 overwrite
    V.append_versioned(_rows(spark, 4, 7), t)                    # v3
    V.rename_column(spark, t, "k", "key")                        # v4
    man4 = V._read_manifest(t, 4)
    d = V.table_detail(t)
    assert d["version"] == 4 and d["action"] == "alter"
    assert d["num_versions"] == 4 and d["oldest_version"] == 1
    assert d["rows"] == 7
    assert d["n_files"] == len(man4["files"]) and d["n_dv_files"] == 0
    assert d["size_bytes"] == sum(
        os.path.getsize(os.path.join(t, rel)) for rel in man4["files"])
    assert ("key", "bigint") in d["columns"]
    assert d["column_mapping"] == {"key": "k"}
    d1 = V.table_detail(t, version=1)
    assert d1["rows"] == 6 and ("k", "bigint") in d1["columns"]
    # plant commit debris so the orphan counter has something to see
    os.makedirs(os.path.join(t, "data", ".tmp-debris"))
    with open(os.path.join(t, "data", ".tmp-debris", "x.bin"), "wb") as f:
        f.write(b"\0" * 512)
    before = V._versions(t)
    dry = V.vacuum_versioned(t, keep_last=2, dry_run=True)
    assert dry["dry_run"] is True and dry["bytes_reclaimable"] > 0
    assert dry["manifests_dropped"] == 2                          # v1, v2
    assert dry["data_files_dropped"] == len(V._read_manifest(t, 1)["files"])
    assert dry["orphan_tmp_dirs"] == 1
    # NOTHING moved: same versions, v1 still readable, debris intact
    assert V._versions(t) == before
    assert V.read_versioned(spark, t, version=1).count() == 6
    assert os.path.exists(os.path.join(t, "data", ".tmp-debris", "x.bin"))
    real = V.vacuum_versioned(t, keep_last=2)
    assert {k: real[k] for k in dry if k in real} == \
        {k: v for k, v in dry.items()
         if k not in ("dry_run", "bytes_reclaimable")}
    d2 = V.table_detail(t)
    assert d2["num_versions"] == 2 and d2["oldest_version"] == 3
    assert V.read_versioned(spark, t).count() == 7
    # clone lineage surfaces in detail too
    dst = str(tmp_path / "td_clone")
    V.clone_versioned(t, dst)
    dc = V.table_detail(dst)
    assert dc["cloned_from"] == os.path.abspath(t)
    assert dc["cloned_version"] == 4 and dc["column_mapping"] == {"key": "k"}


# ---------------------------------------------------------------------------
# property: evolution-crossing diff vs a pure-Python ground truth
# ---------------------------------------------------------------------------


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_NAME_POOL = ["na", "nb", "nc", "nd", "ne", "nf", "ng", "nh", "ni", "nj"]

_EVO_OP = st.one_of(
    st.tuples(st.just("append"), st.integers(2, 4)),
    st.tuples(st.just("rename"), st.integers(0, 9), st.integers(0, 9)),
    st.tuples(st.just("add"), st.integers(0, 9)),
    st.tuples(st.just("ms_append"), st.integers(2, 4), st.integers(0, 9)),
    st.tuples(st.just("delete"), st.integers(1, 3)),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_EVO_OP, min_size=2, max_size=5))
def test_evolution_diff_matches_python_ground_truth(spark, ops):
    """Random chains of append / rename / evolve-add / merge_schema
    append / CoW delete, then diff_versions over additive spans,
    checked against a pure-Python slot-identity replay: the diff must
    present v_to's schema and NULL-fill exactly the columns younger
    than each row's epoch. Exercises rename-after-add, add-after-
    rename (occupied-name fresh slots), and deletes mid-chain."""
    import shutil
    import tempfile

    from lazy_frame_spark.sources import versioned as V
    from pyspark.sql import types as T

    t = tempfile.mkdtemp(prefix="lfs_evo_prop_")
    shutil.rmtree(t, ignore_errors=True)
    try:
        # ground truth: columns as (logical, slot) in schema order; the
        # key column "k" is never renamed; rows keyed by k hold values
        # BY SLOT (slot identity is what survives renames)
        cols = [("k", "k"), ("v1", "v1")]
        rows: dict[int, dict] = {}
        snaps: dict[int, tuple] = {}
        next_key = 0
        slot_ctr = 0

        def df_for(keys, with_col=None):
            names = [l for l, _ in cols] + ([with_col] if with_col else [])
            data = []
            for k in keys:
                vals = {s: k * 100 + i for i, (_, s) in enumerate(cols)}
                vals["k"] = k
                row = [vals[s] for _, s in cols]
                if with_col:
                    row.append(k * 100 + 99)
                data.append(tuple(row))
            return spark.createDataFrame(
                data, ", ".join(f"{n} long" for n in names))

        def record(keys, with_slot=None):
            for k in keys:
                d = {s: k * 100 + i for i, (_, s) in enumerate(cols)}
                d["k"] = k
                if with_slot:
                    d[with_slot] = k * 100 + 99
                rows[k] = d

        def snap():
            v = V.latest_version(t)
            snaps[v] = ([tuple(c) for c in cols],
                        {k: dict(d) for k, d in rows.items()})

        keys0 = list(range(next_key, next_key + 3))
        next_key += 3
        V.write_versioned(df_for(keys0), t)
        record(keys0)
        snap()

        for op in ops:
            live = {l for l, _ in cols}
            if op[0] == "append":
                ks = list(range(next_key, next_key + op[1]))
                next_key += op[1]
                V.append_versioned(df_for(ks), t)
                record(ks)
            elif op[0] == "rename":
                cands = [i for i in range(1, len(cols))]
                src_l, src_s = cols[cands[op[1] % len(cands)]]
                new = _NAME_POOL[op[2] % len(_NAME_POOL)]
                if new in live:
                    continue
                V.rename_column(spark, t, src_l, new)
                cols[[l for l, _ in cols].index(src_l)] = (new, src_s)
            elif op[0] == "add":
                new = _NAME_POOL[op[1] % len(_NAME_POOL)]
                if new in live:
                    continue
                V.evolve_schema(t, T.StructType(
                    [T.StructField(new, T.LongType(), True)]))
                slot_ctr += 1
                cols.append((new, f"__slot{slot_ctr}"))
            elif op[0] == "ms_append":
                new = _NAME_POOL[op[2] % len(_NAME_POOL)]
                ks = list(range(next_key, next_key + op[1]))
                next_key += op[1]
                if new in live:
                    V.append_versioned(df_for(ks), t)
                    record(ks)
                else:
                    V.append_versioned(df_for(ks, with_col=new), t,
                                       merge_schema=True)
                    slot_ctr += 1
                    s = f"__slot{slot_ctr}"
                    record(ks, with_slot=s)
                    cols.append((new, s))
            elif op[0] == "delete":
                if not rows:
                    continue
                thr = sorted(rows)[min(op[1], len(rows)) - 1]
                V.delete_versioned(spark, t, f"k <= {thr}")
                for k in [k for k in rows if k <= thr]:
                    del rows[k]
            snap()

        vs = sorted(snaps)
        last = vs[-1]
        pairs = {(vs[0], last), (vs[len(vs) // 2], last)}
        for lo, hi in pairs:
            if lo >= hi:
                continue
            cols_j, rows_j = snaps[hi]
            _, rows_i = snaps[lo]
            slots_j = [s for _, s in cols_j]

            def tup(d):
                return tuple(d.get(s) for s in slots_j)

            want = sorted(
                [tup(rows_j[k]) + ("insert",) for k in rows_j
                 if k not in rows_i or tup(rows_i[k]) != tup(rows_j[k])]
                + [tup(rows_i[k]) + ("delete",) for k in rows_i
                   if k not in rows_j or tup(rows_i[k]) != tup(rows_j[k])]
            )
            d = V.diff_versions(spark, t, lo, hi)
            assert d.columns == [l for l, _ in cols_j] + ["change_type"]
            got = sorted(tuple(r) for r in d.collect())
            assert got == want, (lo, hi, got, want)
    finally:
        shutil.rmtree(t, ignore_errors=True)


# ---------------------------------------------------------------------------
# MERGE / CDC apply with schema evolution (withSchemaEvolution)
# ---------------------------------------------------------------------------


def test_merge_versioned_with_schema_evolution(spark, tmp_path):
    """merge_versioned(merge_schema=True) — Delta's MERGE
    withSchemaEvolution: the table evolves additively to cover the
    source (metadata-only alter), matched rows are replaced carrying
    the new column, unmatched old rows read it as NULL; without the
    flag the widened source still refuses."""
    from lazy_frame_spark.sources import versioned as V

    t = str(tmp_path / "mse")
    V.write_versioned(_rows(spark, 0, 5), t)                     # v1
    src = _rows_q(spark, 3, 7, flag="upd")                       # 3,4 match
    with pytest.raises(ValueError, match="diverges"):
        V.merge_versioned(spark, t, src, "k")
    v, st = V.merge_versioned(spark, t, src, "k", merge_schema=True)
    assert v == 3  # v2 = evolve alter, v3 = the merge commit
    assert V.history(t)[1]["evolved"] == {"added": ["q"], "widened": []}
    got = V.read_versioned(spark, t)
    assert got.columns == ["k", "v", "flag", "q"]
    assert got.count() == 7
    rows = {r["k"]: (r["flag"], r["q"]) for r in got.collect()}
    assert rows[0] == ("a", None) and rows[2] == ("a", None)
    assert rows[3] == ("upd", 3) and rows[6] == ("upd", 1)
    # idempotent replay converges (same source, evolve no-ops)
    v2, _ = V.merge_versioned(spark, t, src, "k", merge_schema=True)
    assert v2 == 4 and V.read_versioned(spark, t).count() == 7
    # delete mode with keys-only source: merge_schema is a no-op
    v3, _ = V.merge_versioned(
        spark, t, spark.createDataFrame([(0,)], "k long"), "k",
        when_matched="delete", merge_schema=True)
    assert V.read_versioned(spark, t).count() == 6


def test_apply_cdc_with_schema_evolution(spark, tmp_path):
    """apply_cdc(merge_schema=True): an I/U/D batch carrying a new
    column evolves the table first (op column excluded from the
    evolution), then applies as ONE CoW commit."""
    from lazy_frame_spark.sources import versioned as V
    from pyspark.sql import functions as F

    t = str(tmp_path / "cse")
    V.write_versioned(_rows(spark, 0, 5), t)                     # v1
    batch = (
        _rows_q(spark, 4, 7, flag="x")
        .withColumn("op", F.when(F.col("k") == 4, "U").otherwise("I"))
        .unionByName(
            _rows_q(spark, 0, 1).withColumn("op", F.lit("D")))
    )
    with pytest.raises(ValueError, match="diverges"):
        V.apply_cdc(spark, t, batch, "k")
    v, st = V.apply_cdc(spark, t, batch, "k", merge_schema=True)
    got = V.read_versioned(spark, t)
    assert got.columns == ["k", "v", "flag", "q"]
    rows = {r["k"]: (r["flag"], r["q"]) for r in got.collect()}
    assert 0 not in rows and len(rows) == 6    # 5 - 1 D + 2 I, 1 U in place
    assert rows[4] == ("x", 4) and rows[1] == ("a", None)
    assert "op" not in got.columns and "q" in got.columns
