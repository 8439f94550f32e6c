"""Mergeable-sketch invariants (operators/sketches.py): partial-then-
merge must agree with one-shot sketching, theta set algebra must be
exact in exact mode, and KLL must track n exactly with quantiles inside
the published rank-error bound."""

import pyspark.sql.functions as F
import pytest

from lazy_frame_spark.operators import sketches as sk


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_hll_partial_merge_equals_one_shot(events):
    """HLL union is register-wise max — lossless — so merging per-day
    partials must give the IDENTICAL estimate to sketching all rows at
    once (not merely a close one)."""
    ev = events.withColumn("day", F.to_date("ts"))
    rolled = sk.hll_rollup(sk.hll_partials(ev, ["event_type", "day"], "user_id"),
                           ["event_type"])
    one_shot = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est")
    )
    j = rolled.join(one_shot, "event_type").collect()
    assert len(j) > 0
    for r in j:
        assert r["distinct_est"] == r["est"]


def test_hll_estimate_within_bound(events):
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["distinct_est"]
        for r in sk.hll_rollup(
            sk.hll_partials(events, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    for t, n in exact.items():
        assert abs(est[t] - n) <= 0.02 * n


def test_theta_setops_exact_mode(events):
    """Below ~4096 retained hashes theta sketches are exact, so the
    set-op estimates must EQUAL the true distinct counts."""
    ev = events.filter(
        (F.col("value") > 80) & F.col("event_type").isin("click", "view")
    )
    a = [r["user_id"] for r in ev.filter(F.col("event_type") == "click")
         .select("user_id").distinct().collect()]
    b = [r["user_id"] for r in ev.filter(F.col("event_type") == "view")
         .select("user_id").distinct().collect()]
    sa, sb = set(a), set(b)
    parts = sk.theta_partials(ev, ["event_type"], "user_id")
    wide = parts.groupBy().pivot("event_type", ["click", "view"]).agg(
        F.first(sk.THETA_SKETCH)
    )
    uni, inter, diff = sk.theta_setops(F.col("click"), F.col("view"))
    row = wide.select(
        uni.cast("bigint").alias("u"),
        inter.cast("bigint").alias("i"),
        diff.cast("bigint").alias("d"),
    ).first()
    assert row["u"] == len(sa | sb)
    assert row["i"] == len(sa & sb)
    assert row["d"] == len(sa - sb)


def test_kll_merge_tracks_n_exactly_and_bounds_rank(events):
    parts = sk.kll_partials(events, ["event_type"], "value")
    q = sk.kll_quantiles(sk.kll_merge(parts), [0.5, 0.9]).first()
    total = events.count()
    assert q["n"] == total
    for prob, col in [(0.5, "q50"), (0.9, "q90")]:
        rank = events.filter(F.col("value") <= q[col]).count() / total
        assert abs(rank - prob) <= 0.03


def test_kll_merge_single_group_passthrough(events):
    """kll_merge with a single partial must skip the fold and still
    report the right n."""
    parts = sk.kll_partials(events.filter(F.col("event_type") == "click"),
                            ["event_type"], "value")
    n_click = events.filter(F.col("event_type") == "click").count()
    q = sk.kll_quantiles(sk.kll_merge(parts), [0.5]).first()
    assert q["n"] == n_click


def test_kll_keyed_rollup(events):
    """Keyed merge: fold day-grain partials up to event_type and check
    per-type n is exact."""
    ev = events.withColumn("day", F.to_date("ts"))
    parts = sk.kll_partials(ev, ["event_type", "day"], "value")
    rolled = sk.kll_quantiles(sk.kll_merge(parts, ["event_type"]), [0.5])
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in rolled.collect():
        assert r["n"] == exact[r["event_type"]]


def test_hll_incremental_update_equals_full_rebuild(events):
    """Folding day-31+ batches into a stored partial table must give the
    same estimates as sketching the whole stream at once — without
    rescanning the stored days."""
    early = events.filter(F.dayofmonth("ts") <= 15)
    late = events.filter(F.dayofmonth("ts") > 15)
    stored = sk.hll_partials(early, ["event_type"], "user_id")
    updated = sk.hll_incremental_update(stored, late, ["event_type"], "user_id")
    est = {
        r["event_type"]: r["distinct_est"]
        for r in updated.withColumn(
            "distinct_est", F.hll_sketch_estimate(F.col(sk.HLL_SKETCH))
        ).collect()
    }
    full = {
        r["event_type"]: r["est"]
        for r in events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
        .collect()
    }
    assert est == full


def test_kll_merge_empty_input_yields_empty_frame(events):
    """No partials → no row (not a slice-length crash)."""
    parts = sk.kll_partials(events.filter(F.col("value") > 1e12),
                            ["event_type"], "value")
    assert sk.kll_merge(parts).count() == 0


def test_kll_quantiles_rejects_colliding_prob_names(events):
    import pytest

    parts = sk.kll_partials(events, ["event_type"], "value")
    merged = sk.kll_merge(parts)
    with pytest.raises(ValueError, match="collide"):
        sk.kll_quantiles(merged, [0.249, 0.251])


def test_theta_incremental_update_exact_mode(events):
    """Incremental theta maintenance stays exact below the retained-hash
    bound: folded estimate equals the true distinct count."""
    early = events.filter(F.dayofmonth("ts") <= 15)
    late = events.filter(F.dayofmonth("ts") > 15)
    stored = sk.theta_partials(early, ["event_type"], "user_id")
    updated = sk.theta_incremental_update(stored, late, ["event_type"], "user_id")
    est = {
        r["event_type"]: int(r["est"])
        for r in updated.select(
            "event_type",
            F.theta_sketch_estimate(F.col(sk.THETA_SKETCH)).alias("est"),
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert est == exact


def test_cms_exact_when_wide(spark, sf_dir):
    """With width >> distinct values the min-across-depth estimate is
    exact for every present value, and 0 for absent ones."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import sketches as sk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = sk.cms_partials(ev, [], "event_type", depth=5, width=4096)
    vals = ev.select("event_type").distinct().unionByName(
        spark.createDataFrame([("__never__",)], "event_type string")
    )
    est = {r["event_type"]: r["cms_estimate"]
           for r in sk.cms_query(parts, vals, "event_type",
                                 depth=5, width=4096).collect()}
    want = {r["event_type"]: r["n"]
            for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    want["__never__"] = 0
    assert est == want


def test_cms_merge_equals_one_shot(spark, sf_dir):
    """Cellwise-sum merge of per-half partials is bit-identical to
    sketching the whole table at once."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import sketches as sk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = sk.cms_partials(ev.filter(F.col("event_id") % 2 == 0), [], "event_type")
    b = sk.cms_partials(ev.filter(F.col("event_id") % 2 == 1), [], "event_type")
    merged = sk.cms_merge(a.unionByName(b))
    one = sk.cms_partials(ev, [], "event_type")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, one.collect()))
    # incremental-update helper: same result through the stored-table API
    inc = sk.cms_incremental_update(a, ev.filter(F.col("event_id") % 2 == 1),
                                    [], "event_type")
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, one.collect()))


def test_cms_never_undercounts_under_collisions(spark, sf_dir):
    """Adversarially tiny sketch (2x8): estimates must still be >= the
    true count for every value (the one-sided CMS guarantee)."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import sketches as sk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = sk.cms_partials(ev, [], "event_type", depth=2, width=8)
    vals = ev.select("event_type").distinct()
    est = {r["event_type"]: r["cms_estimate"]
           for r in sk.cms_query(parts, vals, "event_type", depth=2, width=8).collect()}
    want = {r["event_type"]: r["n"]
            for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(est[k] >= want[k] for k in want)
    # bounded partial size regardless of rows
    assert parts.count() <= 2 * 8


# --------------------------------------------------------------------- #
# incremental aggregate views (operators/incremental.py)
# --------------------------------------------------------------------- #

def test_agg_view_incremental_equals_full_rebuild(spark, sf_dir):
    """Folding batches into the stored view must equal a one-shot build
    over all data — for count, sum, min, max, and derived avg — across
    a 3-way batch split (repeated folds, new-key batches included)."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import incremental as iv

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kw = dict(sum_cols=["value"], min_cols=["value"], max_cols=["value"])
    parts = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    view = iv.agg_view_build(parts[0], ["event_type"], **kw)
    view = iv.agg_view_update(view, parts[1], ["event_type"], **kw)
    view = iv.agg_view_update(view, parts[2], ["event_type"], **kw)
    full = iv.agg_view_build(ev, ["event_type"], **kw)

    def norm(df):
        return sorted(
            (r["event_type"], r["__n__"], round(r["sum_value"], 6),
             r["min_value"], r["max_value"], r["avg_value"])
            for r in iv.agg_view_read(df, avg_of=["value"]).collect()
        )
    assert norm(view) == norm(full)
    # the view answers from grain-bounded rows, never the raw table
    assert view.count() == ev.select("event_type").distinct().count()


def test_agg_view_retract_plus_repair_equals_rebuild(spark, sf_dir):
    """Property: build view -> delete a batch -> retract + repair must
    equal a full rebuild from the remaining data, for count/sum/min/max
    — including grains whose extreme was deleted (stale -> repaired)
    and a grain deleted entirely (count reaches 0 -> drops out)."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import incremental as iv

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kw = dict(sum_cols=["value"], min_cols=["value"], max_cols=["value"])
    grain = ["event_type"]
    view = iv.agg_view_build(ev, grain, **kw)

    # delete batch: every 5th event PLUS one whole grain PLUS, for one
    # surviving grain, exactly its maximum row (forces a stale extreme)
    types = sorted(r["event_type"] for r in ev.select("event_type").distinct().collect())
    gone_type, tied_type = types[0], types[-1]
    max_row = (ev.filter(F.col("event_type") == tied_type)
                 .orderBy(F.col("value").desc()).limit(1))
    deleted = (
        ev.filter((F.col("event_id") % 5 == 0) | (F.col("event_type") == gone_type))
        .unionByName(max_row).distinct()
    )
    remaining = ev.join(deleted, on=ev.columns, how="left_anti")

    retr = iv.agg_view_retract(view, deleted, grain, **kw)
    # the fully-deleted grain is gone before repair
    assert retr.filter(F.col("event_type") == gone_type).count() == 0
    # the tied-extreme grain is flagged stale
    stale_types = {r["event_type"]
                   for r in retr.filter(F.col(iv.STALE_COL)).collect()}
    assert tied_type in stale_types

    got = iv.agg_view_repair(retr, remaining, grain, **kw)
    want = iv.agg_view_build(remaining, grain, **kw)

    def norm(df):
        return sorted(
            (r["event_type"], r["__n__"], round(r["sum_value"], 6),
             r["min_value"], r["max_value"])
            for r in df.collect()
        )
    assert norm(got) == norm(want)

    # retract-only path with no min/max cols: no stale flags, exact
    kw2 = dict(sum_cols=["value"])
    v2 = iv.agg_view_retract(iv.agg_view_build(ev, grain, **kw2),
                             deleted, grain, **kw2)
    assert v2.filter(F.col(iv.STALE_COL)).count() == 0
    w2 = iv.agg_view_build(remaining, grain, **kw2)
    n2 = sorted((r["event_type"], r["__n__"], round(r["sum_value"], 6))
                for r in v2.drop(iv.STALE_COL).collect())
    assert n2 == sorted((r["event_type"], r["__n__"], round(r["sum_value"], 6))
                        for r in w2.collect())


def test_erasure_pipeline_keeps_view_consistent(spark, sf_dir, tmp_path):
    """End-to-end right-to-erasure: delete_keys erases rows from the
    STORED table while agg_view_retract/repair folds the same delete
    batch out of the VIEW — afterwards the maintained view must equal a
    fresh build over the erased table (no ghost rows served)."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import incremental as iv
    from lazy_frame_spark.sources.parquet import delete_keys

    table = str(tmp_path / "events_store")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.parquet(table)
    kw = dict(sum_cols=["value"], min_cols=["value"])
    grain = ["event_type"]
    # the view is STORED (as in production) — a lazy plan over the
    # source would break when delete_keys swaps the underlying files
    view_dir = str(tmp_path / "view_store")
    iv.agg_view_build(spark.read.parquet(table), grain, **kw) \
        .write.parquet(view_dir)
    view = spark.read.parquet(view_dir)

    doomed = ev.filter(F.col("event_id") % 4 == 0)
    after = delete_keys(spark, table, doomed.select("event_id"), "event_id")
    maintained = iv.agg_view_repair(
        iv.agg_view_retract(view, doomed, grain, **kw), after, grain, **kw
    )
    want = iv.agg_view_build(after, grain, **kw)

    def norm(df):
        return sorted((r["event_type"], r["__n__"], round(r["sum_value"], 6),
                       r["min_value"]) for r in df.collect())
    assert norm(maintained) == norm(want)


def test_agg_view_retract_broadcast_gate(spark):
    """The retract/repair join strategy must never force a mass erasure
    through driver memory: the DEFAULT emits no broadcast hint at all
    (planner estimates + AQE decide); broadcast_limit=N opts into a
    hint PROVEN by a bounded row probe — applied under the bound,
    refused above it. All paths return identical values."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import incremental as iv

    df = spark.range(0, 2000).select(
        (F.col("id") % 200).alias("g"), (F.col("id") * 1.0).alias("v")
    )
    kw = dict(sum_cols=["v"], min_cols=["v"])
    view = iv.agg_view_build(df, ["g"], **kw)
    # v < 200 is exactly each grain's minimum row: all 200 grains are
    # touched AND flagged stale (the deleted value ties the stored min)
    doomed = df.filter(F.col("v") < 200)
    remaining = df.join(doomed, ["g", "v"], "left_anti")

    default_r = iv.agg_view_retract(view, doomed, ["g"], **kw)
    hinted_r = iv.agg_view_retract(view, doomed, ["g"], **kw,
                                   broadcast_limit=10_000)
    over_r = iv.agg_view_retract(view, doomed, ["g"], **kw,
                                 broadcast_limit=50)

    def has_hint(d):
        return "strategy=broadcast" in (
            d._jdf.queryExecution().optimizedPlan().toString()
        )

    assert not has_hint(default_r), "default must leave strategy to the planner"
    assert has_hint(hinted_r), "under the proven bound the hint must apply"
    assert not has_hint(over_r), "a 200-row erasure over limit=50 " \
                                 "must not force-broadcast"

    def norm_r(d):
        return sorted((r["g"], r["__n__"], r["sum_v"], r["min_v"],
                       r[iv.STALE_COL]) for r in d.collect())

    assert norm_r(default_r) == norm_r(hinted_r) == norm_r(over_r)
    assert all(t[-1] for t in norm_r(over_r))  # every grain stale

    rep_default = iv.agg_view_repair(default_r, remaining, ["g"], **kw)
    rep_hinted = iv.agg_view_repair(hinted_r, remaining, ["g"], **kw,
                                    broadcast_limit=10_000)
    rep_over = iv.agg_view_repair(over_r, remaining, ["g"], **kw,
                                  broadcast_limit=50)
    assert not has_hint(rep_default)
    assert has_hint(rep_hinted) and not has_hint(rep_over)
    want = iv.agg_view_build(remaining, ["g"], **kw)

    def norm(d):
        return sorted((r["g"], r["__n__"], r["sum_v"], r["min_v"])
                      for r in d.collect())

    assert norm(rep_default) == norm(want)
    assert norm(rep_hinted) == norm(want)
    assert norm(rep_over) == norm(want)


def test_agg_view_buffered_extremes_retract_exact(spark):
    """buffer_extremes=N makes min/max retractable WITHOUT rescan: the
    view keeps the N smallest/largest values per grain, a delete of the
    current extreme serves the exact next-best from the synopsis (no
    stale flag), a grain losing more than N rows in one batch goes
    stale, repair rebuilds it, and incremental update folds merge
    synopses exactly (N-prefix of unions)."""
    from lazy_frame_spark.operators import incremental as iv

    rows = ([("a", float(v)) for v in range(20)]
            + [("b", float(v)) for v in range(100, 120)]
            + [("c", float(v)) for v in range(7)])
    df = spark.createDataFrame(rows, "g string, v double")
    kw = dict(sum_cols=["v"], min_cols=["v"], max_cols=["v"])
    N = 4
    view = iv.agg_view_build(df, ["g"], **kw, buffer_extremes=N)
    vrow = {r["g"]: r for r in view.collect()}
    assert vrow["a"]["minbuf_v"] == [0.0, 1.0, 2.0, 3.0]
    assert vrow["a"]["maxbuf_v"] == [19.0, 18.0, 17.0, 16.0]
    assert vrow["c"]["minbuf_v"] == [0.0, 1.0, 2.0, 3.0]

    # incremental folds merge synopses exactly: half + half == full
    h1 = df.filter(F.col("v") % 2 == 0)
    h2 = df.join(h1, ["g", "v"], "left_anti")
    folded = iv.agg_view_update(
        iv.agg_view_build(h1, ["g"], **kw, buffer_extremes=N),
        h2, ["g"], **kw, buffer_extremes=N)

    def norm_full(d):
        return sorted((r["g"], r["__n__"], r["sum_v"], r["min_v"],
                       r["max_v"], tuple(r["minbuf_v"]), tuple(r["maxbuf_v"]))
                      for r in d.collect())

    assert norm_full(folded) == norm_full(view)

    doomed = spark.createDataFrame(
        [("a", 0.0), ("a", 1.0), ("a", 2.0), ("a", 19.0)]       # 4 <= N
        + [("b", float(v)) for v in range(100, 110)],           # 10 > N
        "g string, v double")
    remaining = df.join(doomed, ["g", "v"], "left_anti")
    retr = iv.agg_view_retract(view, doomed, ["g"], **kw, buffer_extremes=N)
    got = {r["g"]: r for r in retr.collect()}
    # 'a' serves the EXACT next-best from the synopsis — no staleness
    assert got["a"]["min_v"] == 3.0 and got["a"]["max_v"] == 18.0
    assert got["a"][iv.STALE_COL] is False
    assert got["c"][iv.STALE_COL] is False
    # 'b' lost 10 > N rows in one batch: the synopsis can't prove the
    # next-best -> flagged for repair
    assert got["b"][iv.STALE_COL] is True

    fixed = iv.agg_view_repair(retr, remaining, ["g"], **kw,
                               buffer_extremes=N)
    want = iv.agg_view_build(remaining, ["g"], **kw, buffer_extremes=N)

    def norm_scalar(d):
        return sorted((r["g"], r["__n__"], r["sum_v"], r["min_v"],
                       r["max_v"]) for r in d.collect())

    assert norm_scalar(fixed) == norm_scalar(want)
    # the repaired grain regrew its full synopsis
    brow = {r["g"]: r for r in fixed.collect()}["b"]
    wrow = {r["g"]: r for r in want.collect()}["b"]
    assert brow["minbuf_v"] == wrow["minbuf_v"]
    assert brow["maxbuf_v"] == wrow["maxbuf_v"]


def test_agg_view_buffered_merge_respects_coverage(spark):
    """Review regression: a synopsis shrunk below N by a retraction is
    NOT a full N-prefix — merging it with fresh batches must truncate
    at its coverage bound instead of refilling the gap with new values.
    Sequence: build {0..9} (N=4) -> retract {0,1,2} (buf [3.0]) ->
    update with insert {100} -> retract {3}. The unfixed merge produced
    minbuf [3.0, 100.0] and then served min=100.0 UNflagged (true min
    4.0); the coverage-aware merge keeps [3.0], and the final retract
    drains the buffer into __stale__ with repair recovering 4.0."""
    from lazy_frame_spark.operators import incremental as iv

    N = 4
    kw = dict(min_cols=["v"])
    df = spark.createDataFrame([("g", float(v)) for v in range(10)],
                               "g string, v double")
    view = iv.agg_view_build(df, ["g"], **kw, buffer_extremes=N)
    d1 = spark.createDataFrame([("g", 0.0), ("g", 1.0), ("g", 2.0)],
                               "g string, v double")
    r1 = iv.agg_view_retract(view, d1, ["g"], **kw, buffer_extremes=N)
    row = r1.collect()[0]
    assert row["minbuf_v"] == [3.0] and row[iv.STALE_COL] is False

    ins = spark.createDataFrame([("g", 100.0)], "g string, v double")
    u = iv.agg_view_update(r1.drop(iv.STALE_COL), ins, ["g"], **kw,
                           buffer_extremes=N)
    urow = u.collect()[0]
    # 100.0 must NOT enter the buffer: values 4..9 live in the grain but
    # not in the shrunk synopsis, so the merge is only trusted to 3.0
    assert urow["minbuf_v"] == [3.0], urow["minbuf_v"]
    assert urow["min_v"] == 3.0 and urow["__n__"] == 8

    d2 = spark.createDataFrame([("g", 3.0)], "g string, v double")
    r2 = iv.agg_view_retract(u, d2, ["g"], **kw, buffer_extremes=N)
    frow = r2.collect()[0]
    assert frow[iv.STALE_COL] is True          # buffer drained: repair owed
    remaining = spark.createDataFrame(
        [("g", float(v)) for v in range(4, 10)] + [("g", 100.0)],
        "g string, v double")
    fixed = iv.agg_view_repair(r2, remaining, ["g"], **kw, buffer_extremes=N)
    out = fixed.collect()[0]
    assert out["min_v"] == 4.0 and out["__n__"] == 7
    assert out["minbuf_v"] == [4.0, 5.0, 6.0, 7.0]


def test_agg_view_retract_null_grain(spark):
    """NULL is a real grain under groupBy: retracting NULL-grain rows
    must subtract (null-safe join), flag stale tied extremes, and drop
    the grain at count zero — no ghost rows served (review finding)."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import incremental as iv

    rows = [(None, 10.0), (None, 4.0), (None, 2.0), ("a", 5.0), ("a", 1.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    kw = dict(sum_cols=["v"], min_cols=["v"], max_cols=["v"])
    view = iv.agg_view_build(df, ["g"], **kw)

    # delete the NULL grain's maximum -> subtract + stale flag
    deleted = spark.createDataFrame([(None, 10.0)], "g string, v double")
    retr = iv.agg_view_retract(view, deleted, ["g"], **kw)
    nrow = [r for r in retr.collect() if r["g"] is None]
    assert len(nrow) == 1 and nrow[0]["__n__"] == 2
    assert abs(nrow[0]["sum_v"] - 6.0) < 1e-9
    assert nrow[0][iv.STALE_COL] is True   # deleted value tied the max

    # repair rescans the stale NULL grain (null-safe semi-join)
    remaining = df.join(deleted, ["g", "v"], "left_anti")
    got = iv.agg_view_repair(retr, remaining, ["g"], **kw)
    want = iv.agg_view_build(remaining, ["g"], **kw)
    n = lambda d: sorted(  # noqa: E731
        ((r["g"] or "", r["__n__"], r["sum_v"], r["min_v"], r["max_v"])
         for r in d.collect()),
    )
    assert n(got) == n(want)

    # deleting EVERY NULL-grain row drops the grain entirely
    all_null = spark.createDataFrame(
        [(None, 10.0), (None, 4.0), (None, 2.0)], "g string, v double")
    gone = iv.agg_view_retract(view, all_null, ["g"], **kw)
    assert [r["g"] for r in gone.collect()] == ["a"]


def test_equi_depth_histogram_properties(spark):
    """Equi-depth invariants on a skewed fixture: bin sizes differ by
    at most one, bins partition the value order (hi of bin b <= lo of
    bin b+1 under the tie-broken order), every row lands somewhere,
    and a brute-force Python replication matches bin-for-bin."""
    from lazy_frame_spark.operators.stats import equi_depth_histogram

    vals = [float(v) for v in
            [1] * 40 + [2] * 5 + list(range(3, 30)) + [1000] * 3]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    k, n = 7, len(rows)
    got = {r["bin"]: (r["n_rows"], r["lo"], r["hi"])
           for r in equi_depth_histogram(df, "v", k=k, id_col="id")
           .collect()}
    ordered = sorted(rows, key=lambda x: (x[1], x[0]))
    want: dict = {}
    for rank, (_i, v) in enumerate(ordered, start=1):
        b = int((rank - 1) * k / n)
        c, lo, hi = want.get(b, (0, v, v))
        want[b] = (c + 1, min(lo, v), max(hi, v))
    assert got == want
    sizes = [got[b][0] for b in sorted(got)]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) == n
    bs = sorted(got)
    assert all(got[a][2] <= got[b][1] or got[a][2] == got[b][1]
               or got[a][2] <= got[b][1] for a, b in zip(bs, bs[1:]))
    assert all(got[a][2] <= got[b][2] for a, b in zip(bs, bs[1:]))


# ------------------------------------------------------------------
# Incremental JOIN views over versioned tables
# ------------------------------------------------------------------

def _jv_tables(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from lazy_frame_spark.sources import versioned as V

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .select("c_custkey", "c_name", "c_acctbal")
         .withColumnRenamed("c_custkey", "o_custkey"))
    ap, bp = str(tmp_path / "a"), str(tmp_path / "b")
    V.write_versioned(
        o.filter(F.col("o_orderkey") % 3 == 0)
        .repartitionByRange(4, "o_custkey"), ap)
    V.write_versioned(
        c.filter(F.col("o_custkey") % 2 == 0)
        .repartitionByRange(4, "o_custkey"), bp)
    return o, c, ap, bp


def test_join_view_incremental_equals_full_join(spark, sf_dir, tmp_path):
    """Two rounds of two-sided appends folded via the delta expansion
    must equal the one-shot join of the final sides, multiset-exact."""
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators import incremental as I
    from lazy_frame_spark.sources import versioned as V

    o, c, ap, bp = _jv_tables(spark, sf_dir, tmp_path)
    vp = str(tmp_path / "v")
    I.join_view_init(spark, vp, ap, bp, "o_custkey")
    V.append_versioned(o.filter(F.col("o_orderkey") % 3 == 1), ap)
    V.append_versioned(c.filter(F.col("o_custkey") % 2 == 1), bp)
    I.join_view_update(spark, vp, ap, bp)
    V.append_versioned(o.filter(F.col("o_orderkey") % 3 == 2), ap)
    st = I.join_view_update(spark, vp, ap, bp)
    got = V.read_versioned(spark, vp)
    exp = o.join(c, "o_custkey", "inner").select(*got.columns)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # no-op update commits nothing new beyond state bookkeeping
    st2 = I.join_view_update(spark, vp, ap, bp)
    assert st2["a_from"] == st2["a_to"]
    assert V.read_versioned(spark, vp).count() == exp.count()
    assert st["view_version"] >= 1


def test_join_view_snapshot_scan_is_bounds_pruned(spark, sf_dir, tmp_path):
    """The cost story: with sides key-clustered, an update whose delta
    sits in a narrow key band must SKIP most snapshot files (the
    where-pruned read), not rescan the body."""
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators import incremental as I
    from lazy_frame_spark.sources import versioned as V, filestats

    o, c, ap, bp = _jv_tables(spark, sf_dir, tmp_path)
    vp = str(tmp_path / "v")
    I.join_view_init(spark, vp, ap, bp, "o_custkey")
    # delta confined to the top of the key domain
    hi = c.agg(F.max("o_custkey")).first()[0]
    dB = c.filter((F.col("o_custkey") % 2 == 1)
                  & (F.col("o_custkey") >= hi - 5))
    assert dB.count() > 0
    V.append_versioned(dB, bp)
    w = I._jv_key_bounds_where(dB, ["o_custkey"])
    assert w is not None
    man = V._read_manifest(ap, V.latest_version(ap))
    kept = filestats.prune_files(ap, list(man["files"]), w)
    assert len(kept) < len(man["files"])  # body files skipped
    I.join_view_update(spark, vp, ap, bp)
    got = V.read_versioned(spark, vp)
    exp = (o.filter(F.col("o_orderkey") % 3 == 0)
           .join(c.filter((F.col("o_custkey") % 2 == 0)
                          | ((F.col("o_custkey") % 2 == 1)
                             & (F.col("o_custkey") >= hi - 5))),
                 "o_custkey", "inner").select(*got.columns))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_join_view_point_delta_prunes_through_blooms(
        spark, sf_dir, tmp_path):
    """round-11 verdict item 5: an equality-heavy POINT delta must
    prune the snapshot through the bloom sidecars, beating the
    interval test — two keys at opposite ends of the domain make the
    [lo, hi] form keep ~every file, while the exact ``in`` form keeps
    only the files whose blooms admit one of the two keys."""
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators import incremental as I
    from lazy_frame_spark.sources import versioned as V, filestats

    o, c, ap, bp = _jv_tables(spark, sf_dir, tmp_path)
    vp = str(tmp_path / "v")
    I.join_view_init(spark, vp, ap, bp, "o_custkey")
    V.build_blooms(spark, ap, ["o_custkey"])
    # a point delta on B: the smallest and largest existing custkeys —
    # the worst case for bounds (the between straddles everything)
    lo_k, hi_k = c.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    dB = (c.filter(F.col("o_custkey").isin(int(lo_k), int(hi_k)))
          .withColumn("c_name", F.lit("refresh")))
    assert dB.count() > 0
    V.append_versioned(dB, bp)
    w_set = I._jv_key_bounds_where(dB, ["o_custkey"])
    assert w_set is not None and w_set[0][1] == "in"  # exact form won
    man = V._read_manifest(ap, V.latest_version(ap))
    files = list(man["files"])
    kept_set = filestats.prune_files(ap, files, w_set)
    kept_bounds = filestats.prune_files(
        ap, files, filestats.key_bounds_where(dB.select("o_custkey"),
                                              ["o_custkey"]))
    assert len(kept_set) < len(kept_bounds)  # blooms engaged
    st = I.join_view_update(spark, vp, ap, bp)
    assert st["a0_files_kept"] == len(kept_set)
    assert st["a0_files_total"] == len(files)
    # and the maintained view is still multiset-exact
    got = V.read_versioned(spark, vp)
    b_all = V.read_versioned(spark, bp)
    exp = (V.read_versioned(spark, ap)
           .join(b_all, "o_custkey", "inner").select(*got.columns))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_join_view_folded_probe_one_aggregate(spark):
    """r15 optimization: join_view_update's per-delta probes (capped
    count, approx-NDV gate, bounds aggregate) fold into ONE aggregate
    job — _jv_probe_delta returns count + bounds + NDV together, and
    _jv_where_from_probe reuses the collected bounds as the free
    fallback. Point-like deltas still pick the exact ``in`` form; wide
    deltas get the ``between`` bounds without a distinct-collect."""
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators import incremental as I

    point = spark.range(0, 5).select(F.col("id").alias("k"))
    n, row = I._jv_probe_delta(point, ["k"])
    assert n == 5
    assert row["__lo_k__"] == 0 and row["__hi_k__"] == 4
    w = I._jv_where_from_probe(point, ["k"], row)
    assert w == [("k", "in", [0, 1, 2, 3, 4])]
    wide = spark.range(0, 20000).select(F.col("id").alias("k"))
    n, row = I._jv_probe_delta(wide, ["k"])
    assert n == 20000
    w = I._jv_where_from_probe(wide, ["k"], row)
    assert w == [("k", "between", (0, 19999))]
    empty = spark.range(0, 0).select(F.col("id").alias("k"))
    n, row = I._jv_probe_delta(empty, ["k"])
    assert n == 0
    # NULL-only key: bounds unusable, standalone form degrades to None
    nulls = spark.range(0, 3).select(
        F.lit(None).cast("bigint").alias("k"))
    assert I._jv_key_bounds_where(nulls, ["k"]) is None


def test_join_view_refuses_ambiguous_and_unbuilt(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from lazy_frame_spark.operators import incremental as I
    from lazy_frame_spark.sources import versioned as V

    o, c, ap, bp = _jv_tables(spark, sf_dir, tmp_path)
    with _pytest.raises(ValueError, match="ambiguous"):
        I.join_view_init(spark, str(tmp_path / "v2"), ap, ap,
                         "o_custkey")
    # update on a plain versioned table (no jv state) is refused
    with _pytest.raises(ValueError, match="join-view state"):
        I.join_view_update(spark, ap, ap, bp)
    # a destructive side chain surfaces appended_since's guard
    vp = str(tmp_path / "v3")
    I.join_view_init(spark, vp, ap, bp, "o_custkey")
    V.delete_versioned(spark, ap, "o_orderkey < 10")
    with _pytest.raises(ValueError, match="additive"):
        I.join_view_update(spark, vp, ap, bp)


def test_join_view_update_releases_deltas_on_raise(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """Both delta pins are call-scoped: a raise after they are taken
    (here in the probe) surfaces its own exception and leaves the cache
    manager as it was."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators import incremental as I
    from lazy_frame_spark.sources import versioned as V

    o, c, ap, bp = _jv_tables(spark, sf_dir, tmp_path)
    vp = str(tmp_path / "v")
    I.join_view_init(spark, vp, ap, bp, "o_custkey")
    V.append_versioned(o.filter(F.col("o_orderkey") % 3 == 1), ap)

    def probe_fails(df, keys):
        raise ZeroDivisionError("probe")

    monkeypatch.setattr(I, "_jv_probe_delta", probe_fails)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with _pytest.raises(ZeroDivisionError, match="probe"):
        I.join_view_update(spark, vp, ap, bp)
    assert cache.numCachedEntries() == before
