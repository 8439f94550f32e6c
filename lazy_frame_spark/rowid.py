"""Stable positional row ids — the Spark-native replacement for the
reference's newline byte index (``src/lazy.frame.c:252-298``).

The reference scans the file once at open and records every newline offset
so row *i* is an O(1) seek. On Spark, positional semantics are carried by
an explicit ``__row_id__`` column (1-based, mirroring the R/``which()``
contract at ``R/lazy.frame.R:203``). Two assignment strategies:

``order_by`` given — value-bucketed rank
    A bare ``row_number() OVER (ORDER BY …)`` funnels every row through
    one task (would not survive 100×). Instead: value-range bounds on the
    leading key (or, for string keys, on its byte-prefix numeric
    surrogate) split the data into B buckets, each bucket ranks in
    parallel (``row_number`` partitioned by bucket), and exact per-bucket
    counts fold back into the plan as literal offsets. Final ids are
    invariant to where the bucket boundaries fall (offset + within-bucket
    rank is always the global rank), so bound approximation only affects
    balance, never values. Every step is a deterministic function of DATA
    VALUES — nothing depends on physical partition ids, which are NOT
    stable across plan branches once a shuffle is involved (AQE may
    coalesce the same reused exchange differently per consumer — observed
    corrupting ids).

    Bounds come, in preference order, from (a) caller-supplied values,
    (b) parquet footer row-group min/max statistics — a pure metadata
    read, no data scan (``parquet_footer_bounds``), or (c) one
    ``percentile_approx`` job. With ``cache=True`` the bucketed+ranked
    frame is persisted and the per-bucket counts are read through that
    cache, so the whole enumeration costs exactly ONE scan of the source
    — the same floor as the reference's newline-index pass
    (``src/lazy.frame.c:252-298``).

file order (default) — partition-offset enumeration
    Scalable zipWithIndex: ``monotonically_increasing_id()`` is
    consecutive within each scan partition, so ``mid - min(mid)`` is the
    in-partition sequence; per-partition counts give offsets via a tiny
    window, broadcast-joined back, all inside one plan (no driver
    round-trip, the frame stays a pure lazy promise). Safe here because
    file-scan partitioning (no shuffle) is deterministic and AQE never
    re-reads a scan differently.

For repeatable positional queries across sessions, register the frame once
(``LazyFrame.register``) — ids are persisted to Parquet, mirroring the
reference's contract that the same file always yields the same numbering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lazy_frame_spark.pins import release

ROW_ID = "__row_id__"

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def with_row_ids(
    df: DataFrame,
    order_by: Sequence[str] | None = None,
    col: str = ROW_ID,
    num_buckets: int | None = None,
    bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Attach a 1-based positional id column.

    ``order_by``: columns forming a deterministic total order (unique key
    recommended). When omitted, ids follow the source's partition/file
    order — deterministic for a fixed file layout, like the reference's
    line numbering. ``bounds``: optional precomputed bucket bounds in the
    leading key's surrogate domain (balance-only — see module docstring).
    """
    return enumerate_rows(df, order_by, col=col, num_buckets=num_buckets,
                          bounds=bounds)[0]


def enumerate_rows(
    df: DataFrame,
    order_by: Sequence[str] | None = None,
    col: str = ROW_ID,
    num_buckets: int | None = None,
    bounds: Sequence[float] | None = None,
    cache: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """``with_row_ids`` plus cache control: with ``cache=True`` the
    scan-heavy intermediate (bucketed + ranked) is persisted and
    materialized by the same tiny job that reads the per-bucket counts,
    so the source is scanned exactly once and every later positional
    query hits the cache. Returns ``(frame, persisted_handle)`` —
    unpersist the handle to release storage (``LazyFrame.close``)."""
    if order_by:
        return _with_ordered_ids(df, list(order_by), col, num_buckets, bounds, cache)
    out = _with_partition_offset_ids(df, col)
    if cache:
        out = out.persist()
        return out, out
    return out, None


def _lead_bucket_expr(df: DataFrame, lead: str):
    """A numeric expression that is (non-strictly) monotone in the leading
    sort key, used ONLY to range-bucket rows — final ids are invariant to
    the bucketing (offset + within-bucket rank always reconstructs the
    global rank), so approximation/ties here affect balance, never values.

    Numeric keys bucket on their double cast; dates on epoch days and
    timestamps on epoch micros (Spark 4 forbids direct date→double
    casts). String keys bucket on the big-endian integer of the first 7
    UTF-8 bytes (zero-padded) — monotone under Spark's binary string
    ordering, so a string leading key ranks in parallel instead of
    funneling into one task. Returns None for types with no monotone
    surrogate (rare; single-bucket fallback)."""
    lead_type = df.schema[lead].dataType
    if isinstance(lead_type, _NUMERIC_TYPES):
        return F.col(lead).cast("double")
    if isinstance(lead_type, T.DateType):
        return F.unix_date(F.col(lead)).cast("double")
    if isinstance(lead_type, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(F.col(lead).cast("timestamp")).cast("double")
    if isinstance(lead_type, T.StringType):
        hex14 = F.rpad(
            F.substring(F.hex(F.encode(F.col(lead), "UTF-8")), 1, 14), 14, "0"
        )
        return F.conv(hex14, 16, 10).cast("double")
    return None


def _resolve_bounds(
    df: DataFrame, lead_expr, b: int, bounds: Sequence[float] | None
) -> list[float]:
    if lead_expr is None or b <= 1:
        return []
    if bounds is not None:
        return sorted({float(x) for x in bounds})
    probs = [i / b for i in range(1, b)]
    qrow = df.select(
        F.percentile_approx(
            lead_expr, F.array(*[F.lit(p) for p in probs]), 1_000
        ).alias("q")
    ).collect()[0]["q"]
    return sorted(set(qrow or []))


def _offset_lookup(offsets: dict[int, int], idx):
    """Constant-time offset lookup as ONE flat literal-array
    ``element_at`` instead of a B-deep nested CASE WHEN chain. The
    nested chain JIT-compiled ~0.3 s per distinct literal set (the
    entire lf_row_range/lf_head "regression" in BENCH_r03 — warmup at
    another SF compiles different literals, so the first positional
    read at the target SF paid fresh codegen). Constant folding turns
    the array into a single ArrayType literal, so per-row cost is one
    bounds-checked load."""
    if not offsets or not any(offsets.values()):
        return F.lit(0).cast("bigint")
    n = max(offsets) + 1
    arr = F.array(*[F.lit(int(offsets.get(i, 0))).cast("bigint") for i in range(n)])
    return F.element_at(arr, idx.cast("int") + F.lit(1))


def _bisect_bucket_expr(name: str, cuts: list[float]):
    """``Σ (v >= b_i)`` over SORTED cuts as a nested-IF binary search —
    the same bucket id for EVERY input as the flat compare-sum (it is
    searchsorted-right; a NULL value's NULL comparisons take every
    else-branch down to leaf 0, matching the sum's NULL→coalesce→0;
    Spark orders NaN above everything, so NaN descends right to leaf
    ``len(cuts)``, exactly the all-true sum) — but evaluated in
    O(log n) comparisons per row, and O(log n) plan text per
    evaluation path, instead of n. The flat n-term sum was measured
    30× slower than the scan it rode on: its generated method exceeds
    HotSpot's JIT size threshold, so every row paid n
    bytecode-interpreted compare+cast+adds. One parsed expression,
    double literals via the exact ``D`` spelling. Shared by the
    ordered-id buckets here and ``versioned``'s cluster quantiles."""
    def node(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (f"IF(`{name}` >= {cuts[mid]!r}D, "
                f"{node(mid + 1, hi)}, {node(lo, mid)})")

    return F.expr(node(0, len(cuts)))


def _bucketed(df: DataFrame, lead_expr, bounds: list[float]) -> DataFrame:
    import math

    # non-finite cuts can't be spelled as SQL double literals; dropping
    # them keeps the bucketing monotone (a ±inf cut splits nothing
    # meaningful), and bucketing is balance-only — ids are invariant
    cuts = sorted({float(b) for b in bounds if math.isfinite(b)})
    if not cuts:
        return df.withColumn("__bkt__", F.lit(0))
    # stage the (possibly compound — string surrogates) lead expression
    # as a named attribute so the bisection tree references an
    # attribute, not n-1 inlined copies of the surrogate expression
    return (df.withColumn("__lfb_lead__", lead_expr)
            .withColumn("__bkt__", _bisect_bucket_expr("__lfb_lead__", cuts))
            .drop("__lfb_lead__"))


def _with_ordered_ids(
    df: DataFrame,
    keys: list[str],
    col: str,
    num_buckets: int | None,
    bounds: Sequence[float] | None,
    cache: bool,
) -> tuple[DataFrame, DataFrame | None]:
    spark = df.sparkSession
    # Sorted-input fast path: when row-group footer stats prove the
    # table COULD be key-sorted (non-overlapping ranges -- a free check
    # that instantly rejects unsorted tables), one narrow key-column
    # verify pass either proves global sortedness -- ids become the
    # zero-shuffle partition-offset enumeration, skipping the rank
    # shuffle that dominates open cost -- or falls through to the rank
    # path. Ids are provably identical either way.
    if footer_sorted_candidate(df, keys):
        # the candidate check's pyarrow prefix probe already screened
        # the composite-key head driver-side — skip the Spark head-gate
        # job and go straight to the layout verify
        fast = sorted_fast_path_ids(df, keys, col, head_gate=False)
        if fast is not None:
            if cache:
                fast = fast.persist()
                return fast, fast
            return fast, None
    b = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    lead_expr = _lead_bucket_expr(df, keys[0])
    bounds = _resolve_bounds(df, lead_expr, b, bounds)
    base = _bucketed(df, lead_expr, bounds)

    w_rank = Window.partitionBy("__bkt__").orderBy(*[F.col(k) for k in keys])
    ranked = base.withColumn("__rn__", F.row_number().over(w_rank))
    handle = None
    if cache:
        # persist BEFORE the counts job: that job's scan both populates
        # the cache and returns the counts — one source scan total
        ranked = ranked.persist()
        handle = ranked

    if bounds or cache:
        # exact per-bucket counts, collected once (≤ b rows; a narrow
        # aggregation when uncached, a cache-building scan when cached)
        # and folded back as plan LITERALS — no second in-plan counts
        # branch, no broadcast join
        counts_src = ranked if cache else base
        rows = counts_src.groupBy("__bkt__").agg(F.count(F.lit(1)).alias("c")).collect()
        cnt = {r["__bkt__"]: r["c"] for r in rows}
        run, offsets = 0, {}
        for i in sorted(cnt):
            offsets[i] = run
            run += cnt[i]
        off = _offset_lookup(offsets, F.col("__bkt__"))
    else:
        off = F.lit(0)
    out = (
        ranked.withColumn(col, (off + F.col("__rn__")).cast("bigint"))
        .drop("__bkt__", "__rn__")
    )
    return out, handle


def with_prefix_sum(
    df: DataFrame,
    val_col: str,
    order_by: Sequence[str],
    col: str = "__running__",
    num_buckets: int | None = None,
    bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Inclusive running total of ``val_col`` over a global order WITHOUT
    a single-task window: the same value-bucketing as ordered row ids —
    each bucket computes its partial cumsum in parallel, per-bucket
    totals collect once (≤ B rows) and fold back as literal offsets. The
    result is invariant to where the bounds fall, by the identical
    offset-plus-within-bucket argument."""
    keys = list(order_by)
    spark = df.sparkSession
    b = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    lead_expr = _lead_bucket_expr(df, keys[0])
    bounds = _resolve_bounds(df, lead_expr, b, bounds)
    base = _bucketed(df, lead_expr, bounds)

    w = (
        Window.partitionBy("__bkt__")
        .orderBy(*[F.col(k) for k in keys])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(F.col(val_col)).over(w)
    off = F.lit(0).cast("bigint")
    if bounds:
        rows = base.groupBy("__bkt__").agg(F.sum(F.col(val_col)).alias("t")).collect()
        tot = {r["__bkt__"]: r["t"] or 0 for r in rows}
        cum, offsets = 0, {}
        for i in sorted(tot):
            offsets[i] = cum
            cum += tot[i]
        off = _offset_lookup(offsets, F.col("__bkt__"))
    return base.withColumn(col, (off + run).cast("bigint")).drop("__bkt__")


def _surrogate_value(v, dtype) -> float | None:
    """Python-side mirror of ``_lead_bucket_expr``: map a footer-stat
    min/max value into the same numeric domain the bucketing expression
    evaluates to. Returns None for values it cannot map (caller falls
    back to the quantile job)."""
    import calendar
    import datetime
    import decimal

    if isinstance(dtype, _NUMERIC_TYPES):
        if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
            return float(v)
        return None
    if isinstance(dtype, T.DateType):
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return float((v - datetime.date(1970, 1, 1)).days)
        return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, datetime.datetime):
            # interpret naive stats values as UTC instants (the session
            # pins spark.sql.session.timeZone=UTC; see session.py)
            if v.tzinfo is not None:
                return v.timestamp() * 1e6 + 0.0
            return calendar.timegm(v.timetuple()) * 1e6 + v.microsecond
        return None
    if isinstance(dtype, T.StringType):
        if isinstance(v, bytes):
            raw = v
        elif isinstance(v, str):
            raw = v.encode("utf-8")
        else:
            return None
        return float(int.from_bytes(raw[:7].ljust(7, b"\x00"), "big"))
    return None


def _footer_row_groups(df: DataFrame, col: str,
                       max_files: int | None = None):
    """``(files, [(rows, stats), ...])`` — ``col``'s row-group
    statistics in every parquet footer of ``df``'s scan, read
    driver-side with pyarrow: no data scan, no job. ``files`` are the
    plan's data files (writer debris such as ``_SUCCESS`` dropped); with
    ``max_files`` only an evenly spaced sample of that many footers is
    read. None when the frame is not a clean parquet file scan, a
    footer cannot be read or lacks ``col``, or a row group has no
    min/max."""
    try:
        import pyarrow.parquet as pq

        files = df.inputFiles()
    except Exception:
        return None
    files = [f for f in files if not f.rsplit("/", 1)[-1].startswith("_")]
    if not files or not all(f.endswith((".parquet", ".parq")) for f in files):
        return None
    if max_files is not None and len(files) > max_files:
        step = len(files) / max_files
        files = [files[int(i * step)] for i in range(max_files)]
    groups = []
    for uri in files:
        try:
            md = pq.ParquetFile(
                uri[7:] if uri.startswith("file://") else uri).metadata
        except Exception:
            return None
        names = {md.schema.column(i).path: i for i in range(md.num_columns)}
        if col not in names:
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(names[col]).statistics
            if st is None or not st.has_min_max:
                return None
            groups.append((rg.num_rows, st))
    return files, groups


def parquet_footer_bounds(
    df: DataFrame, lead: str, num_buckets: int, max_files: int = 256
) -> list[float] | None:
    """Bucket bounds for the ordered-id path derived from parquet footer
    row-group statistics — a pure metadata read, NO data scan. Each row
    group contributes a (min, max, rows) interval; a piecewise-uniform
    CDF over those intervals is inverted at the i/B quantiles.

    This is balance-only machinery: ids are invariant to the bounds, so
    skew inside a row group (or truncated string stats) can only make
    buckets uneven, never wrong. Returns None — caller falls back to one
    ``percentile_approx`` job — when the plan is not a parquet file scan,
    the lead column is absent from the footer, any row group lacks
    min/max, or values don't map into the surrogate domain. With many
    files only an evenly-spaced sample of ``max_files`` footers is read
    (at 100 TB ≈ 100k files, reading every footer on the driver would
    itself be a bottleneck; a sample estimates balance just as well)."""
    dtype = df.schema[lead].dataType
    footer = _footer_row_groups(df, lead, max_files)
    if footer is None:
        return None
    intervals: list[tuple[float, float, int]] = []
    for rows, st in footer[1]:
        lo, hi = _surrogate_value(st.min, dtype), _surrogate_value(st.max, dtype)
        if lo is None or hi is None or not (lo <= hi):
            return None
        n = rows - (st.null_count if st.has_null_count else 0)
        if n > 0:
            intervals.append((lo, hi, n))
    if not intervals:
        return None

    # invert the piecewise-uniform CDF via weighted synthetic points
    pts: list[tuple[float, float]] = []
    for lo, hi, n in intervals:
        if hi <= lo:
            pts.append((lo, float(n)))
            continue
        k = 64
        step = (hi - lo) / k
        pts.extend((lo + (j + 0.5) * step, n / k) for j in range(k))
    pts.sort()
    total = sum(w for _, w in pts)
    targets = [q * total / num_buckets for q in range(1, num_buckets)]
    bounds, cum, ti = [], 0.0, 0
    for v, w in pts:
        cum += w
        while ti < len(targets) and cum >= targets[ti]:
            bounds.append(v)
            ti += 1
        if ti >= len(targets):
            break
    return sorted(set(bounds))


def _with_partition_offset_ids(df: DataFrame, col: str) -> DataFrame:
    mid, pid = "__lfs_mid__", "__lfs_pid__"
    base = df.withColumn(mid, F.monotonically_increasing_id()).withColumn(
        pid, F.spark_partition_id()
    )
    stats = base.groupBy(pid).agg(
        F.count(F.lit(1)).alias("__cnt__"), F.min(mid).alias("__mn__")
    )
    w = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        F.col(pid),
        F.col("__mn__"),
        F.coalesce(F.sum("__cnt__").over(w), F.lit(0)).alias("__off__"),
    )
    return (
        base.join(F.broadcast(offsets), on=pid, how="inner")
        .withColumn(
            col,
            (F.col("__off__") + (F.col(mid) - F.col("__mn__")) + F.lit(1)).cast("bigint"),
        )
        .drop(mid, pid, "__mn__", "__off__")
    )


def parquet_footer_stats(df: DataFrame, col: str):
    """(n_rows, min, max) of a parquet-backed frame from FOOTER METADATA
    ONLY — no data scan, no job: every row group contributes its row
    count and column min/max statistics, read driver-side with pyarrow.
    The metadata answer to "how big is this table and what's the key
    range", the same question the reference answers by maintaining its
    newline index (``src/lazy.frame.c``) — here it is free because the
    format already carries it.

    Returns None when the frame is not a clean parquet scan or any row
    group lacks statistics (caller falls back to a data scan). Raw
    min/max values are returned as stored (int/float/date/bytes), NOT
    the bucketing surrogate."""
    footer = _footer_row_groups(df, col)
    if footer is None:
        return None
    n_rows, lo, hi = 0, None, None
    for rows, st in footer[1]:
        n_rows += rows
        lo = st.min if lo is None or st.min < lo else lo
        hi = st.max if hi is None or st.max > hi else hi
    return n_rows, lo, hi


#: key dtypes the sorted-input detector can compare driver-side
_SORTABLE_TYPES = _NUMERIC_TYPES + (
    T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _partition_key_layout(df: DataFrame, keys: list[str]):
    """One NARROW pass over just the key columns (column pruning reaches
    the scan): per scan partition, (pid, n_rows, first/last key values,
    strictly_sorted). Runs via ``mapInPandas`` — the function is invoked
    once per partition, so partition boundaries are visible, unlike any
    SQL aggregate. First/last values come back in their ORIGINAL types
    (the output schema embeds the key fields), so the driver's boundary
    comparisons use exactly the values Spark would sort. Returns a list
    of Rows, or None when a key dtype isn't driver-comparable."""
    for k in keys:
        if not isinstance(df.schema[k].dataType, _SORTABLE_TYPES):
            return None
    fields = [
        T.StructField("pid", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sorted", T.BooleanType()),
    ]
    for k in keys:
        dt = df.schema[k].dataType
        fields.append(T.StructField(f"first_{k}", dt))
        fields.append(T.StructField(f"last_{k}", dt))
    out_schema = T.StructType(fields)

    def stats(batches):
        import numpy as np
        import pandas as _pd

        from pyspark import TaskContext

        def strictly_increasing(pdf):
            """Vectorized lexicographic strict-increase check between
            consecutive rows (no Python row loop). A NULL anywhere in a
            key column means "treat as unsorted" — comparing None on an
            object array raises TypeError, and the driver's fallback
            handlers never see a worker-side crash, so nulls must be
            decided HERE (the rank path sorts NULLS FIRST; file order
            can't be proven to agree, so the fast path just declines)."""
            if pdf.isna().any().any():
                return False
            if len(pdf) < 2:
                return True
            gt = np.zeros(len(pdf) - 1, dtype=bool)
            eq = np.ones(len(pdf) - 1, dtype=bool)
            try:
                for c in pdf.columns:
                    col = pdf[c].to_numpy()
                    a, b = col[:-1], col[1:]
                    gt |= eq & (b > a)
                    eq &= b == a
            except TypeError:
                return False
            return bool(gt.all()) and not bool(eq.any())

        first = last = None
        n = 0
        sorted_ok = True
        prev_tail = None
        for pdf in batches:
            if pdf.empty:
                continue
            if first is None:
                first = tuple(pdf.iloc[0])
            if prev_tail is not None and sorted_ok:
                bridge = _pd.concat([prev_tail, pdf.iloc[:1]])
                sorted_ok = strictly_increasing(bridge)
            if sorted_ok:
                sorted_ok = strictly_increasing(pdf)
            prev_tail = pdf.iloc[-1:]
            last = tuple(pdf.iloc[-1])
            n += len(pdf)
        pid = TaskContext.get().partitionId()
        row = {"pid": [pid], "n": [n], "sorted": [bool(sorted_ok)]}
        for i, k in enumerate(keys):
            row[f"first_{k}"] = [first[i] if first is not None else None]
            row[f"last_{k}"] = [last[i] if last is not None else None]
        yield _pd.DataFrame(row)

    return df.select(*keys).mapInPandas(stats, out_schema).collect()


def _with_partition_offset_ids_custom(
    df: DataFrame, col: str, offsets: dict[int, int]
) -> DataFrame:
    """File-order enumeration with caller-supplied per-partition BASE
    offsets (literals) — the zero-shuffle id assignment used when the
    source is already globally sorted on the keys.

    The within-partition record number comes from
    ``monotonically_increasing_id``'s documented layout (partition id
    in the upper 31 bits, record number in the lower 33 — the API
    contract since Spark 1.6): ``mid & (2^33 - 1)``. Pure arithmetic,
    ONE pass over the source — the previous groupBy-min + broadcast
    re-join read the source twice inside the cache-build job. Ids are
    pinned equal to the rank path by tests either way."""
    mid, pid = "__lfs_mid__", "__lfs_pid__"
    base = df.withColumn(mid, F.monotonically_increasing_id()).withColumn(
        pid, F.spark_partition_id()
    )
    off = _offset_lookup(offsets, F.col(pid))
    local = F.col(mid).bitwiseAND(F.lit((1 << 33) - 1))
    return (
        base.withColumn(col, (off + local + F.lit(1)).cast("bigint"))
        .drop(mid, pid)
    )


def sorted_fast_path_ids(
    df: DataFrame, keys: list[str], col: str = ROW_ID, head_gate: bool = True
) -> DataFrame | None:
    """Ordered row ids WITHOUT the rank shuffle, when the data already
    IS in key order: one narrow key-column pass proves (a) every scan
    partition is strictly sorted on the composite key and (b) partition
    boundaries strictly increase — then file order equals global key
    order, so ids are the zero-shuffle partition-offset enumeration with
    key-ordered base offsets. Measured at sf0.1 lineitem: ~2.3 s vs
    ~7 s through the rank shuffle — the dominant open cost removed for
    ingest-sorted tables (the common case: data written by this
    engine's own register(), or time-ordered logs).

    Strictness matters: duplicate composite keys make rank assignment
    within ties engine-arbitrary, so any equality (inside a partition or
    at a boundary) returns None and the caller falls back to the rank
    path. Returns None (fall back) rather than ever guessing: the
    verification pass costs one pruned-column scan; ids from this path
    are provably identical to the rank path's, never approximately so.
    """
    # head-sample gate: sortedness of the first ~2k rows is necessary
    # for global sortedness and costs one short-circuit job — randomly
    # ordered tables exit here in ~0.1 s instead of paying the full
    # verify pass. Callers that already screened the head driver-side
    # (footer_sorted_candidate's pyarrow prefix probe) pass
    # head_gate=False to skip the redundant job.
    if head_gate:
        head = df.select(*keys).limit(2048).toPandas()
        if len(head) >= 2:
            tuples = list(head.itertuples(index=False, name=None))
            try:
                if any(b <= a for a, b in zip(tuples, tuples[1:])):
                    return None
            except TypeError:
                return None

    layout = _partition_key_layout(df, keys)
    if not layout:
        return None
    parts = [r for r in layout if r["n"] > 0]
    if not parts:
        return None
    if not all(r["sorted"] for r in parts):
        return None

    def first_key(r):
        return tuple(r[f"first_{k}"] for k in keys)

    def last_key(r):
        return tuple(r[f"last_{k}"] for k in keys)

    try:
        parts.sort(key=first_key)
        for a, b in zip(parts, parts[1:]):
            if not last_key(a) < first_key(b):
                return None
    except TypeError:  # null keys or incomparable values: fall back
        return None
    offsets: dict[int, int] = {}
    run = 0
    for r in parts:
        offsets[int(r["pid"])] = run
        run += int(r["n"])
    return _with_partition_offset_ids_custom(df, col, offsets)


def _prefix_probe_sorted(files: list[str], keys: list[str], n: int = 4096) -> bool:
    """Driver-side reject probe, NO Spark job: read the first ``n`` rows
    of just the key columns from one file with pyarrow and check strict
    lexicographic increase. Any descent, tie, or NULL in the prefix
    proves the full verify pass would decline the fast path (its
    ``strictly_increasing`` treats those identically), so the candidate
    check can return False before any job launches — the case that
    previously cost a ``limit(2048).toPandas()`` job per open on a
    single-row-group unsorted table (the BENCH_r04 lf_open_enumerate
    +16% drift). A passing prefix proves nothing; the real verify still
    decides. Sound at any scale: one bounded batch from one file."""
    import pyarrow.parquet as pq

    path = files[0][7:] if files[0].startswith("file://") else files[0]
    try:
        pf = pq.ParquetFile(path)
        batch = next(pf.iter_batches(batch_size=n, columns=keys), None)
    except Exception:
        return True  # can't probe: stay a candidate, the verify decides
    if batch is None or batch.num_rows < 2:
        return True
    pdf = batch.to_pandas()
    if pdf.isna().any().any():
        return False  # the verify pass treats NULL keys as unsorted
    tuples = list(pdf[keys].itertuples(index=False, name=None))
    try:
        return not any(b <= a for a, b in zip(tuples, tuples[1:]))
    except TypeError:
        return False  # incomparable values: the verify would decline too


def footer_sorted_candidate(df: DataFrame, keys) -> bool:
    """Free pre-check for the sorted fast path: from parquet footers
    only, are the ROW-GROUP [min, max] ranges of the leading key
    pairwise non-overlapping? Overlapping ranges prove the table cannot
    be globally key-sorted, so the verify scan is skipped entirely —
    unsorted tables pay nothing for the fast-path attempt. When the
    footer evidence is vacuous (one row group), a driver-side pyarrow
    prefix probe over the full composite key still rejects visibly
    unsorted tables without a job. Non-parquet or stats-less sources
    return False (no cheap evidence). ``keys``: the composite sort key
    (a single column name is accepted for the lead-only check)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    dtype = df.schema[keys[0]].dataType
    footer = _footer_row_groups(df, keys[0])
    if footer is None:
        return False
    files, groups = footer
    spans: list[tuple[float, float]] = []
    for _rows, st in groups:
        lo, hi = _surrogate_value(st.min, dtype), _surrogate_value(st.max, dtype)
        if lo is None or hi is None:
            return False
        spans.append((lo, hi))
    if len(spans) > 1:
        spans.sort()
        if not all(a[1] < b[0] for a, b in zip(spans, spans[1:])):
            return False
    if not all(k in df.columns for k in keys):
        return False
    return _prefix_probe_sorted(files, keys)


class ColumnarPositionalIndex:
    """Late-materialization positional index: the NARROW alternative to
    caching the full id'd table (NEXT.md round-3 item — the remaining
    open-cost lever for UNSORTED tables).

    ``enumerate_rows(cache=True)`` pins id + EVERY column; for a wide
    table that is the whole table in executor memory. This index pins
    only ``(row_id, *order_by keys)`` — a few longs per row — and
    answers positional reads in two steps:

    1. the narrow cache filters to the requested id range/points and
       yields the LEADING-KEY span of the selection;
    2. the WIDE source scans with that span pushed down as a key-range
       predicate (row-group pruning on sorted-ish data — the slice, not
       the table), then inner-joins the selection on the full unique
       key to attach ids and drop non-selected rows inside the span.

    Ids are identical to ``enumerate_rows`` by construction (the rank
    depends only on the key columns, which the narrow frame carries).
    Wide-row cost is paid per positional READ, proportional to the
    selection's key span — the right trade when a 100 TB table serves
    occasional point/range lookups and caching the wide table is not an
    option. ``which()``-style index queries never touch the wide table
    at all.
    """

    def __init__(self, df: DataFrame, order_by: Sequence[str], col: str = ROW_ID):
        if not order_by:
            raise ValueError("columnar index requires order_by keys")
        self._src = df
        self._keys = list(order_by)
        self._col = col
        narrow, handle = enumerate_rows(
            df.select(*self._keys), order_by=self._keys, col=col, cache=True
        )
        self._narrow = narrow
        self._handle = handle

    def close(self) -> None:
        release(self._handle)
        self._handle = None

    def _fetch(self, sel: DataFrame) -> DataFrame:
        lead = self._keys[0]
        span = sel.agg(
            F.min(lead).alias("__lo__"), F.max(lead).alias("__hi__")
        ).first()
        if span["__lo__"] is None:
            empty = self._src.withColumn(self._col, F.lit(None).cast("bigint"))
            return empty.filter(F.lit(False))
        sliced = self._src.filter(
            (F.col(lead) >= F.lit(span["__lo__"]))
            & (F.col(lead) <= F.lit(span["__hi__"]))
        )
        return sliced.join(F.broadcast(sel), on=self._keys, how="inner")

    def row_range(self, lo: int, hi: int) -> DataFrame:
        """Wide rows with ids for 1-based positions [lo, hi]."""
        sel = self._narrow.filter(
            (F.col(self._col) >= int(lo)) & (F.col(self._col) <= int(hi))
        )
        return self._fetch(sel)

    def rows(self, points: Sequence[int]) -> DataFrame:
        """Wide rows with ids for scattered 1-based positions."""
        sel = self._narrow.filter(F.col(self._col).isin([int(p) for p in points]))
        return self._fetch(sel)

    def which(self, predicate) -> DataFrame:
        """Matching row ids for a KEY-COLUMN predicate — narrow cache
        only, the wide table is never touched."""
        return self._narrow.filter(predicate).select(self._col)
