"""Incremental materialized aggregate views — the COUNT/SUM/MIN/MAX
generalization of the mergeable-sketch maintenance pattern
(operators/sketches.py): aggregate each ingest batch ONCE into a small
partial table, fold new batches into the stored partials, and answer
queries from the view — the raw data is never rescanned.

Every supported aggregate is decomposable (merge of partials ==
aggregate of the union): count -> sum of counts, sum -> sum of sums,
min/max -> min/max of partials. AVG is DERIVED at read time
(sum/count) — storing it directly would make the view un-mergeable.
Non-decomposable distincts belong to the sketch family (HLL/theta);
exact medians need the raw data by nature.

At 100 TB this is the difference between a dashboard query that reads a
per-grain view of a few thousand rows and one that rescans a year of
events: the view's size is bounded by grain cardinality, each update
costs one batch scan plus a view-sized merge, and both steps are plain
partial-aggregate shuffles."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lazy_frame_spark.pins import pin_scope

COUNT_COL = "__n__"

#: default bounded-extreme buffer width: the view keeps the 8 smallest
#: (largest) values per grain so a CDC delete of the current min/max can
#: serve the next-best WITHOUT a source rescan — repair is only needed
#: when a single grain loses more than BUF_N rows in one batch or the
#: buffer drains. 8 doubles/grain is noise next to the partials.
BUF_N = 8


def _agg_exprs(sum_cols, min_cols, max_cols, first: bool,
               buffer_extremes: int | None = None):
    """Partial-building (first=True) or partial-merging aggregate list.
    Merging re-applies the same functions to the partial columns —
    decomposability makes build and merge the same shape.

    With ``buffer_extremes=N``, each min/max column also carries a
    bounded synopsis ``minbuf_<c>`` / ``maxbuf_<c>``: the N smallest
    (largest) values of the grain, sorted. Merging is coverage-aware: a
    buffer is a COMPLETE multiset of its grain's values out to its last
    element (an N-prefix's bound is its last value; a buffer covering
    its whole partial — size == count — is unbounded), and a merge may
    only trust the union out to the LEAST input bound. Without the
    truncation, a buffer shrunk below N by an earlier retraction would
    merge with fresh batches as if it were a full N-prefix, and the gap
    values it no longer knows about (still live in the grain) would be
    silently skipped — a later retract would then serve a WRONG extreme
    with no stale flag (review finding, regression-tested). A buffer
    that is empty yet incomplete poisons the merge to empty, which the
    next retraction turns into ``__stale__`` + repair. Bounded either
    way: at most N values per input row, never the raw data."""
    # the count is ALIASED LAST: the buffered merge references the
    # input's COUNT_COL inside collect_list, and Spark's lateral column
    # alias resolution would otherwise capture the freshly aliased
    # output (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_AGGREGATE)
    exprs = []
    for c in sum_cols:
        src = c if first else f"sum_{c}"
        exprs.append(F.sum(src).alias(f"sum_{c}"))
    for c in min_cols:
        src = c if first else f"min_{c}"
        exprs.append(F.min(src).alias(f"min_{c}"))
    for c in max_cols:
        src = c if first else f"max_{c}"
        exprs.append(F.max(src).alias(f"max_{c}"))
    if buffer_extremes:
        n = int(buffer_extremes)

        def merged_buf(src: str, desc: bool):
            entries = F.collect_list(F.struct(
                F.col(src).alias("b"), F.col(COUNT_COL).alias("c")
            ))
            vals = F.flatten(F.transform(entries, lambda e: e["b"]))
            svals = (F.reverse(F.array_sort(vals)) if desc
                     else F.array_sort(vals))
            bounded = F.filter(
                entries, lambda e: F.size(e["b"]).cast("long") != e["c"]
            )
            empty_inc = F.exists(bounded, lambda e: F.size(e["b"]) == 0)
            lasts = F.transform(
                F.filter(bounded, lambda e: F.size(e["b"]) > 0),
                lambda e: F.get(e["b"], F.size(e["b"]) - 1),
            )
            bound = F.array_max(lasts) if desc else F.array_min(lasts)
            kept = (
                F.when(empty_inc, F.slice(svals, 1, 0))
                .when(F.size(bounded) == 0, svals)
                .otherwise(F.filter(
                    svals,
                    (lambda v: v >= bound) if desc else (lambda v: v <= bound),
                ))
            )
            return F.slice(kept, 1, n)

        for c in min_cols:
            buf = (F.slice(F.array_sort(F.collect_list(c)), 1, n)
                   if first else merged_buf(f"minbuf_{c}", desc=False))
            exprs.append(buf.alias(f"minbuf_{c}"))
        for c in max_cols:
            buf = (F.slice(F.reverse(F.array_sort(F.collect_list(c))), 1, n)
                   if first else merged_buf(f"maxbuf_{c}", desc=True))
            exprs.append(buf.alias(f"maxbuf_{c}"))
    exprs.append(
        (F.count(F.lit(1)) if first else F.sum(COUNT_COL))
        .cast("long")
        .alias(COUNT_COL)
    )
    return exprs


def agg_view_build(
    df: DataFrame,
    grain: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    buffer_extremes: int | None = None,
) -> DataFrame:
    """One-scan partial table: per grain key — row count, per-column
    sums/mins/maxes. This IS the stored view.

    ``buffer_extremes=N`` adds the bounded min/max synopses (see
    ``_agg_exprs``) via a TWO-PHASE aggregation: a pre-aggregate keyed
    by (grain, scan partition) cuts each partition's contribution to N
    values before the grain shuffle, so no task ever holds a hot
    grain's full value list — the same skew discipline as the
    two-phase distinct. Without buffers the plain single hash
    aggregation stands (scalar partials need no bounding)."""
    if not buffer_extremes:
        return df.groupBy(*grain).agg(
            *_agg_exprs(sum_cols, min_cols, max_cols, first=True)
        )
    pre = df.groupBy(*grain, F.spark_partition_id().alias("__pid__")).agg(
        *_agg_exprs(sum_cols, min_cols, max_cols, first=True,
                    buffer_extremes=buffer_extremes)
    )
    return pre.groupBy(*grain).agg(
        *_agg_exprs(sum_cols, min_cols, max_cols, first=False,
                    buffer_extremes=buffer_extremes)
    )


def agg_view_update(
    stored: DataFrame,
    new_batch: DataFrame,
    grain: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    buffer_extremes: int | None = None,
) -> DataFrame:
    """Fold a new ingest batch into the stored view WITHOUT rescanning
    stored data: build the batch's partials (one batch scan), union
    with the view, re-merge per grain key (a view-sized shuffle).
    Exactly equal to rebuilding from all data — pinned by tests.
    ``buffer_extremes`` must match the stored view's build setting (the
    synopsis columns merge by name)."""
    fresh = agg_view_build(new_batch, grain, sum_cols, min_cols, max_cols,
                           buffer_extremes=buffer_extremes)
    return stored.unionByName(fresh).groupBy(*grain).agg(
        *_agg_exprs(sum_cols, min_cols, max_cols, first=False,
                    buffer_extremes=buffer_extremes)
    )


def agg_view_read(
    view: DataFrame,
    avg_of: Sequence[str] = (),
    round_avg: int | None = 4,
) -> DataFrame:
    """Read-time derivations over the stored view: averages from
    sum/count (the reason AVG is never stored). Returns the view with
    ``avg_<c>`` columns appended."""
    out = view
    for c in avg_of:
        avg = F.col(f"sum_{c}") / F.col(COUNT_COL)
        if round_avg is not None:
            avg = F.round(avg, round_avg)
        out = out.withColumn(f"avg_{c}", avg)
    return out


def agg_view_stream_writer(
    view_dir: str,
    grain: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    op_col: str | None = None,
    buffer_extremes: int | None = None,
):
    """``foreachBatch`` sink that maintains the stored view under
    streaming ingest, EXACTLY-ONCE: each micro-batch folds into the
    view and promotes through the journaled swap, with the folded batch
    id recorded INSIDE the promoted directory — view and progress
    marker commit in the same atomic rename, so a foreachBatch replay
    after any crash sees its own id and skips (double-folding a
    non-idempotent merge is the classic streaming-upsert bug).

    ``op_col`` turns the writer CDC-aware: rows whose ``op_col`` value
    is ``'D'`` (case-insensitive) RETRACT from the view via
    ``agg_view_retract``; every other row upserts. count/sum are always
    stream-retractable; min/max under CDC need ``buffer_extremes=N``
    (bounded next-best synopses): a delete of a grain's current extreme
    then serves the exact next-best from the buffer, no source rescan.
    Grains that exhaust their synopsis (more than N deletes in one
    batch, or a drained buffer) keep a PERSISTED ``__stale__`` flag —
    carried forward across batches until an out-of-band batch
    ``agg_view_repair`` against the compacted source rebuilds them (a
    stream cannot be rescanned). Configuring ``op_col`` with
    ``min_cols``/``max_cols`` and NO buffer still raises up front
    instead of serving stale extremes silently.

    Usage::

        q = (stream.writeStream.foreachBatch(
                agg_view_stream_writer(dir, ["k"], sum_cols=["v"]))
             .option("checkpointLocation", ckpt).start())
    """
    import json
    import os

    cdc_extremes = op_col is not None and bool(min_cols or max_cols)
    if cdc_extremes and not buffer_extremes:
        raise ValueError(
            "op_col (streaming retraction) supports count/sum views only: "
            "min/max retraction needs a bounded next-best synopsis — pass "
            "buffer_extremes=N (e.g. 8), or maintain extremes with the "
            "batch retract+repair path instead"
        )

    marker = "_FOLDED_BATCH.json"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        from lazy_frame_spark.sources.parquet import (
            _swap_in_place,
            recover_table,
        )

        spark = batch_df.sparkSession
        recover_table(view_dir)
        last = -1
        mp = os.path.join(view_dir, marker)
        if os.path.exists(mp):
            with open(mp, encoding="utf-8") as f:
                last = json.load(f)["batch_id"]
        if batch_id <= last:  # replayed batch: already folded
            return
        inserts, deletes = batch_df, None
        if op_col is not None:
            # null-safe: a NULL op means "not a delete" and must upsert
            # ('every other row upserts') — a plain == would evaluate
            # to NULL and silently drop the row from BOTH sides
            is_del = F.upper(F.col(op_col)).eqNullSafe(F.lit("D"))
            inserts = batch_df.filter(~is_del).drop(op_col)
            deletes = batch_df.filter(is_del).drop(op_col)
        old_stale = None
        if os.path.exists(view_dir):
            stored = spark.read.parquet(view_dir)
            if STALE_COL in stored.columns:
                # staleness persists across batches: an exhausted grain
                # stays flagged until an out-of-band repair, no matter
                # how many clean batches fold in meanwhile
                old_stale = stored.filter(F.col(STALE_COL)).select(
                    *[F.col(c).alias(f"__os_{c}__") for c in grain],
                    F.lit(True).alias("__os_hit__"),  # NULL grains need
                    # an explicit match marker — the key itself is NULL
                )
                stored = stored.drop(STALE_COL)
            updated = agg_view_update(
                stored, inserts, grain, sum_cols, min_cols, max_cols,
                buffer_extremes=buffer_extremes,
            )
        else:
            updated = agg_view_build(inserts, grain, sum_cols, min_cols,
                                     max_cols, buffer_extremes=buffer_extremes)
        if deletes is not None:
            updated = agg_view_retract(
                updated, deletes, grain, sum_cols, min_cols, max_cols,
                buffer_extremes=buffer_extremes,
            )
            if not cdc_extremes:
                updated = updated.drop(STALE_COL)  # count/sum: never stale
        if cdc_extremes:
            if STALE_COL not in updated.columns:  # insert-only batch
                updated = updated.withColumn(STALE_COL, F.lit(False))
            if old_stale is not None:
                cond = F.lit(True)
                for c in grain:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__os_{c}__"))
                updated = (
                    updated.join(old_stale, on=cond, how="left")
                    .withColumn(
                        STALE_COL,
                        F.col(STALE_COL)
                        | F.coalesce(F.col("__os_hit__"), F.lit(False)),
                    )
                    .drop("__os_hit__", *[f"__os_{c}__" for c in grain])
                )
        dest = view_dir.rstrip("/") + "__fold_tmp"
        updated.write.mode("overwrite").parquet(dest)
        with open(os.path.join(dest, marker), "w", encoding="utf-8") as f:
            json.dump({"batch_id": batch_id}, f)
        if os.path.exists(view_dir):
            _swap_in_place(view_dir.rstrip("/"), dest, "__fold_old")
        else:
            os.rename(dest, view_dir.rstrip("/"))

    return fold


STALE_COL = "__stale__"

#: suggested grain-count bound for the EXPLICIT broadcast-hint mode of
#: agg_view_retract/repair (broadcast_limit=BROADCAST_GRAIN_LIMIT): 100k
#: grain rows of keys+partials is ~10 MB — comfortably inside executor
#: broadcast budgets. The DEFAULT mode is no hint at all: the planner's
#: estimate-based auto-broadcast plus AQE's runtime small-side
#: conversion pick the strategy with zero probe jobs, and an erasure
#: touching grains comparable to the view's cardinality (a whole-tenant
#: GDPR purge at 100 TB can) is never forced through driver memory.
BROADCAST_GRAIN_LIMIT = 100_000


def _buf_subtract(buf: Column, dels: Column) -> Column:
    """Multiset subtraction of two bounded synopsis arrays: remove ONE
    occurrence of each deleted value from ``buf`` (first match). Both
    arrays are <= N elements, so the fold is a bounded expression —
    no joins, no explode. Values in ``dels`` absent from ``buf`` are
    no-ops (they lived outside the synopsis window)."""
    def remove_one(acc: Column, d: Column) -> Column:
        pos = F.array_position(acc, d).cast("int")
        head = F.slice(acc, 1, pos - 1)
        tail = F.when(
            pos < F.size(acc), F.slice(acc, pos + 1, F.size(acc) - pos)
        ).otherwise(F.filter(acc, lambda _: F.lit(False)))
        return F.when(pos > 0, F.concat(head, tail)).otherwise(acc)

    return F.aggregate(
        F.coalesce(dels, F.filter(buf, lambda _: F.lit(False))),
        buf,
        remove_one,
    )


def _proven_small(df: DataFrame, limit: int | None) -> bool:
    """The one smallness probe both hint sites share: count at most
    ``limit + 1`` rows (CollectLimit stops the collection there, so the
    decision job's driver cost is bounded regardless of actual size).
    ``None`` means the caller opted out of probing entirely."""
    return limit is not None and df.limit(limit + 1).count() <= limit


def _hint_if_small(side: DataFrame, limit: int | None) -> DataFrame:
    """Broadcast hint only when the build side is PROVABLY small
    (``_proven_small``). ``None`` disables the hint unconditionally.
    Either way the join stays an equi-join (eqNullSafe is a
    planner-recognized equi-key), so above the bound the planner's
    estimates + AQE pick a broadcast or shuffled hash/sort-merge join —
    never a nested loop."""
    if _proven_small(side, limit):
        return F.broadcast(side)
    return side


def agg_view_retract(
    stored: DataFrame,
    deleted_batch: DataFrame,
    grain: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    broadcast_limit: int | None = None,
    buffer_extremes: int | None = None,
) -> DataFrame:
    """Fold a DELETE batch out of the stored view without rescanning
    stored data — the maintenance pass a ``delete_keys`` erasure run
    owes the views built over the erased table (without it the view
    silently serves ghosts of erased rows).

    Join strategy: by DEFAULT no hint is emitted — the eqNullSafe
    predicate is a planner-recognized equi-key, so Catalyst's
    estimate-based auto-broadcast handles the typical small delete
    batch and AQE's runtime conversion catches underestimates, with
    zero extra jobs either way (a round-6 force-broadcast here was the
    one knowing 100 TB violation: a whole-tenant erasure with grains
    comparable to the view's cardinality would have been pushed through
    driver memory). Passing ``broadcast_limit=N`` opts into a PROVEN
    hint: a bounded CollectLimit row probe of the RAW batch (rows >=
    grains, short-circuits, no aggregation) hints broadcast only under
    the bound — for callers whose estimates overshoot but who know
    their batches are small.

    count/sum are subtractable: the deleted batch aggregates once (one
    batch scan) and its partials subtract per grain key. min/max are
    NOT — a partial can't say what the next-best extreme was — so by
    default each grain gets a ``__stale__`` flag instead: True only
    when a deleted value ties the stored extreme for some min/max
    column (the only case the stored extreme can be wrong; a strictly
    interior deletion leaves it intact). ``agg_view_repair`` rebuilds
    exactly the stale grains from the remaining source — a grain-pruned
    rescan, never a full rebuild. Grains whose count reaches zero drop
    out of the view.

    With ``buffer_extremes=N`` (view built with the same setting),
    min/max become RETRACTABLE up to N deletions per grain per batch:
    the deleted values multiset-subtract from the bounded synopsis and
    the new head IS the exact next-best extreme — no rescan, no
    staleness. A grain only goes ``__stale__`` when its synopsis drains
    or more than N of its rows die in one batch (the delete synopsis
    itself is N-bounded, so a bigger per-grain delete can't prove it
    hit every buffered value). Correctness of the subtract rests on the
    erasure contract: the synopsis is an N-prefix of the grain's sorted
    multiset, so every deleted copy of a value strictly inside the
    prefix is IN the prefix, and the post-subtract head provably
    survives in the remaining data.

    Assumes the deleted rows were previously folded in (the erasure
    contract); retracting rows never ingested would drive counts
    negative, which the zero-count filter treats as fully-deleted."""
    # the gate probes the RAW batch, not the aggregated partials: rows
    # >= grains, so a bounded CollectLimit row count (short-circuits
    # after limit+1 rows, no shuffle, no aggregation) proves smallness
    # without re-running the partial build the join needs anyway. A
    # many-rows-few-grains batch merely misses the hint — AQE's runtime
    # small-side broadcast conversion is the backstop.
    hint_ok = _proven_small(deleted_batch, broadcast_limit)
    d = agg_view_build(deleted_batch, grain, sum_cols, min_cols, max_cols,
                       buffer_extremes=buffer_extremes)
    ren = {COUNT_COL: "__d_n__"}
    for c in grain:  # NULL is a real grain under groupBy — the join
        ren[c] = f"__d_g_{c}__"  # below must match it null-safely
    for c in sum_cols:
        ren[f"sum_{c}"] = f"__d_sum_{c}__"
    for c in min_cols:
        ren[f"min_{c}"] = f"__d_min_{c}__"
    for c in max_cols:
        ren[f"max_{c}"] = f"__d_max_{c}__"
    if buffer_extremes:
        for c in min_cols:
            ren[f"minbuf_{c}"] = f"__d_minbuf_{c}__"
        for c in max_cols:
            ren[f"maxbuf_{c}"] = f"__d_maxbuf_{c}__"
    for old, new in ren.items():
        d = d.withColumnRenamed(old, new)

    # eqNullSafe, not on=grain: groupBy treats NULL as an ordinary grain
    # key, so an equality join would never subtract a NULL-grain delete
    # and the view would silently serve ghosts of those erased rows
    cond = F.lit(True)
    for c in grain:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__d_g_{c}__"))
    out = stored.join(F.broadcast(d) if hint_ok else d, on=cond, how="left")
    hit = F.col("__d_n__").isNotNull()
    out = out.withColumn(
        COUNT_COL, F.col(COUNT_COL) - F.coalesce(F.col("__d_n__"), F.lit(0))
    )
    for c in sum_cols:
        out = out.withColumn(
            f"sum_{c}",
            F.col(f"sum_{c}") - F.coalesce(F.col(f"__d_sum_{c}__"), F.lit(0)),
        )
    if buffer_extremes:
        n = int(buffer_extremes)
        # the delete synopsis is complete only while the grain lost <= N
        # rows this batch; beyond that it may have missed buffered values
        over = hit & (F.col("__d_n__") > n)
        stale = F.lit(False)
        for c in min_cols:
            out = out.withColumn(
                f"minbuf_{c}",
                F.when(hit, _buf_subtract(F.col(f"minbuf_{c}"),
                                          F.col(f"__d_minbuf_{c}__")))
                .otherwise(F.col(f"minbuf_{c}")),
            )
            stale = stale | over | (hit & (F.size(f"minbuf_{c}") == 0))
            # F.get, not element_at: a drained buffer must yield NULL
            # (coalesced to the stale-flagged old extreme), not an ANSI
            # out-of-bounds error
            out = out.withColumn(
                f"min_{c}",
                F.coalesce(F.get(f"minbuf_{c}", 0), F.col(f"min_{c}")),
            )
        for c in max_cols:
            out = out.withColumn(
                f"maxbuf_{c}",
                F.when(hit, _buf_subtract(F.col(f"maxbuf_{c}"),
                                          F.col(f"__d_maxbuf_{c}__")))
                .otherwise(F.col(f"maxbuf_{c}")),
            )
            stale = stale | over | (hit & (F.size(f"maxbuf_{c}") == 0))
            out = out.withColumn(
                f"max_{c}",
                F.coalesce(F.get(f"maxbuf_{c}", 0), F.col(f"max_{c}")),
            )
    else:
        stale = F.lit(False)
        for c in min_cols:
            stale = stale | (hit & (F.col(f"__d_min_{c}__") <= F.col(f"min_{c}")))
        for c in max_cols:
            stale = stale | (hit & (F.col(f"__d_max_{c}__") >= F.col(f"max_{c}")))
    out = out.withColumn(STALE_COL, F.coalesce(stale, F.lit(False)))
    return out.filter(F.col(COUNT_COL) > 0).drop(*ren.values())


def agg_view_repair(
    retracted: DataFrame,
    remaining_source: DataFrame,
    grain: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    broadcast_limit: int | None = None,
    buffer_extremes: int | None = None,
) -> DataFrame:
    """Rebuild ONLY the ``__stale__`` grains of a retracted view from
    the remaining (post-delete) source, and return a clean view (flag
    dropped). The rescan is grain-pruned: the source is semi-joined to
    the stale keys before aggregating, so repair cost scales with the
    affected grains, not the table. A view with no stale grains costs
    one empty semi-join. Join strategy as in ``agg_view_retract``:
    default = planner estimates + AQE, no hint, no probe job;
    ``broadcast_limit=N`` opts into a bounded-count-proven hint on the
    stale-key side. ``buffer_extremes`` must match the view's setting
    so rebuilt grains regrow their synopses."""
    stale_keys = retracted.filter(F.col(STALE_COL)).select(
        *[F.col(c).alias(f"__s_g_{c}__") for c in grain]
    )
    clean = retracted.filter(~F.col(STALE_COL)).drop(STALE_COL)
    # null-safe semi-join: a stale NULL grain must still be rescanned
    cond = F.lit(True)
    for c in grain:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__s_g_{c}__"))
    rebuilt = agg_view_build(
        remaining_source.join(
            _hint_if_small(stale_keys, broadcast_limit), on=cond, how="left_semi"
        ),
        grain, sum_cols, min_cols, max_cols,
        buffer_extremes=buffer_extremes,
    )
    return clean.unionByName(rebuilt)


# --------------------------------------------------------------------
# Incremental materialized JOIN views over versioned tables
# --------------------------------------------------------------------

def _jv_check_columns(a_cols, b_cols, keys) -> None:
    overlap = (set(a_cols) & set(b_cols)) - set(keys)
    if overlap:
        raise ValueError(
            f"join_view: non-key columns {sorted(overlap)} exist on "
            "both sides — the joined row would have ambiguous names; "
            "rename or drop before building the view"
        )
    for k in keys:
        if k not in a_cols or k not in b_cols:
            raise ValueError(f"join key {k!r} missing from a side")


def _jv_probe_delta(delta: DataFrame, keys):
    """ONE aggregate job per delta — row count, per-key [min, max]
    bounds and approx NDV together. The count gates emptiness, the NDV
    gates the exact-set probe, and the bounds double as the free
    fallback conjunction, so the old shape's three separate probe jobs
    (capped count, approx_count_distinct gate, bounds aggregate) fold
    into one pass over the (persisted, O(increment)) delta. Returns
    ``(n_rows, probe_row)``."""
    from lazy_frame_spark.sources import filestats

    row = delta.agg(
        F.count(F.lit(1)).alias("__n__"),
        *filestats.key_bounds_aggs(keys),
        *[F.approx_count_distinct(c).alias(f"__d_{c}__") for c in keys],
    ).collect()[0]
    return int(row["__n__"]), row


def _jv_where_from_probe(delta: DataFrame, keys, row) -> list | None:
    """The delta's key footprint as a skipping conjunction for the OLD
    side's scan — sound for an INNER equi-join: a snapshot row outside
    the delta's key footprint on ANY key cannot produce a join match.
    Prefers the EXACT distinct-value form (``filestats.key_set_where``)
    when the delta is point-like (≤1024 distinct int/str keys): ``in``
    conjuncts let the bloom sidecars prune files the [lo, hi] interval
    test must keep — an equality-heavy tail delta against a
    wide-keyed snapshot prunes to the files actually holding those
    keys, not every file the range straddles. The probe row's
    approx_count_distinct gates that per-key distinct job (1.25x
    headroom over key_set_where's 1024 cap absorbs the sketch's
    relative error — approximation error only ever costs pruning
    sharpness, either path is sound, never correctness); big or
    non-probeable deltas fall back to the bounds ALREADY collected in
    the probe row (``filestats.key_bounds_from_row`` — the same
    derivation as merge_versioned's discovery pre-cut), costing no
    further job."""
    from lazy_frame_spark.sources import filestats

    if all((row[f"__d_{c}__"] or 0) <= 1280 for c in keys):
        w = filestats.key_set_where(delta, keys)
        if w is not None:
            return w
    return filestats.key_bounds_from_row(row, keys)


def _jv_key_bounds_where(delta: DataFrame, keys) -> list | None:
    """Standalone form of the footprint derivation (probe + where in
    one call) for callers outside ``join_view_update``'s folded-probe
    flow."""
    _n, row = _jv_probe_delta(delta, keys)
    return _jv_where_from_probe(delta, keys, row)


def join_view_init(
    spark,
    view_path: str,
    a_path: str,
    b_path: str,
    on: Sequence[str] | str,
) -> int:
    """Materialize ``V = A INNER JOIN B ON on`` (both sides VERSIONED
    tables — sources/versioned.py) as a versioned table of its own,
    recording the side versions it reflects in the commit manifest.
    The join-view family completes the incremental-view story: agg
    views (above) fold batches into partials; a JOIN has no partial —
    its increment is the standard delta expansion, which
    ``join_view_update`` maintains without ever rejoining the bodies.

    INNER equi-join only, and non-key columns must be disjoint across
    sides (checked): both restrictions are what make the delta exact
    and the snapshot scans boundable. The view being versioned means
    downstream jobs consume ITS increments via ``appended_since`` —
    the whole pipeline stays O(increment) end to end."""
    from lazy_frame_spark.sources import versioned as V

    keys = [on] if isinstance(on, str) else list(on)
    va, vb = V.latest_version(a_path), V.latest_version(b_path)
    if va is None or vb is None:
        raise FileNotFoundError("both sides must be versioned tables")
    a = V.read_versioned(spark, a_path, version=va)
    b = V.read_versioned(spark, b_path, version=vb)
    _jv_check_columns(a.columns, b.columns, keys)
    joined = a.join(b, on=keys, how="inner")
    import shutil

    shutil.rmtree(view_path, ignore_errors=True)  # CREATE OR REPLACE
    # state rides the SAME commit as the data (manifest extras on the
    # snapshot), so view data and state can never desynchronize — an
    # interrupted init leaves nothing, a retry rebuilds from scratch
    return V.write_versioned(
        joined, view_path,
        extra={"jv_on": keys, "jv_a_version": va, "jv_b_version": vb},
    )


def _jv_state(view_path: str) -> tuple[list, int, int]:
    from lazy_frame_spark.sources import versioned as V

    v = V.latest_version(view_path)
    while v is not None:
        try:
            man = V._read_manifest_meta(view_path, v)
        except FileNotFoundError:
            break  # vacuumed tail: no state survives in the window
        if "jv_on" in man:
            return (list(man["jv_on"]), man["jv_a_version"],
                    man["jv_b_version"])
        v = man.get("parent")
    raise ValueError(
        f"{view_path} carries no join-view state — build it with "
        "join_view_init"
    )


def join_view_update(
    spark,
    view_path: str,
    a_path: str,
    b_path: str,
) -> dict:
    """Fold both sides' appends into the view WITHOUT rejoining the
    bodies: with A = A0 ∪ dA and B = B0 ∪ dB,

        dV = dA⋈B0  ∪  A0⋈dB  ∪  dA⋈dB

    appended to the view (multiset-exact for the inner equi-join;
    append-only side chains are enforced by ``appended_since``, which
    raises on delete/overwrite chains — rebuild with join_view_init
    after a destructive side change). Snapshot terms are the cost
    story: B0/A0 are read via ``read_versioned(where=<delta key
    bounds>)``, so on key-clustered sides each snapshot scan prunes to
    the files overlapping the delta's key range — the 100 TB body
    never rescans for a tail increment. State (side versions) rides
    the view's own commit log, so update is crash-consistent and
    re-runnable."""
    from lazy_frame_spark.sources import versioned as V

    keys, va0, vb0 = _jv_state(view_path)
    va1, vb1 = V.latest_version(a_path), V.latest_version(b_path)
    # each delta feeds up to THREE evaluations (the folded probe
    # aggregate, its snapshot-join term, the dA⋈dB term) — pin it for
    # the update's duration so the delta files are scanned once, not
    # per consumer. O(increment) state, released on every exit.
    with pin_scope() as pin:
        dA = pin(V.appended_since(spark, a_path, va0, version=va1))
        dB = pin(V.appended_since(spark, b_path, vb0, version=vb1))
        # ONE probe job per delta: count (the emptiness gate) + key
        # bounds + approx NDV ride the same aggregate (_jv_probe_delta)
        n_da, probe_a = _jv_probe_delta(dA, keys)
        n_db, probe_b = _jv_probe_delta(dB, keys)
        stats = {"a_from": va0, "a_to": va1, "b_from": vb0, "b_to": vb1}
        if n_da == 0 and n_db == 0:
            stats["view_version"] = V.latest_version(view_path)
            return stats
        parts = []
        if n_da:
            w = _jv_where_from_probe(dA, keys, probe_a)
            if w is not None:
                s = V.skipping_summary(b_path, w, version=vb0)
                stats["b0_files_kept"] = s["kept_files"]
                stats["b0_files_total"] = s["total_files"]
            b0 = V.read_versioned(spark, b_path, version=vb0, where=w)
            parts.append(dA.join(b0, on=keys, how="inner"))
        if n_db:
            w = _jv_where_from_probe(dB, keys, probe_b)
            if w is not None:
                s = V.skipping_summary(a_path, w, version=va0)
                stats["a0_files_kept"] = s["kept_files"]
                stats["a0_files_total"] = s["total_files"]
            a0 = V.read_versioned(spark, a_path, version=va0, where=w)
            parts.append(a0.join(dB, on=keys, how="inner"))
        if n_da and n_db:
            parts.append(dA.join(dB, on=keys, how="inner"))
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        view_cols = V.read_versioned(spark, view_path).columns
        # ONE commit carries the delta AND the new state — atomic by the
        # manifest publish, so a crash before it leaves the old state
        # and the retry recomputes the identical delta (no double-apply)
        stats["view_version"] = V.append_versioned(
            delta.select(*view_cols), view_path,
            extra={"jv_on": keys, "jv_a_version": va1,
                   "jv_b_version": vb1},
        )
    return stats
