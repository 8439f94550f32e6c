"""Corpus mixing and training-order operators.

What a training-data pipeline does after curation: fix a *global,
reproducible shuffle order* for the examples (so every rerun and every
resume sees the same sequence) and *resample domains to a target mix*
(so the training distribution matches the recipe, not the crawl).

Both are built on portable md5-derived keys (the same cross-engine
anchor as operators/dedup.token_hash), so a DuckDB oracle reproduces
every value bit-for-bit:

- ``shuffle_key``: md5 over (seed, id columns) — a uniform, seeded,
  data-deterministic sort key. Changing the seed re-shuffles; keeping it
  reproduces the epoch exactly.
- ``epoch_shuffle``: orders the corpus by that key. The physical plan is
  a range repartition + within-partition sort (Spark's scalable total
  sort — no single reducer); the optional global rank reuses the
  value-bucketed parallel ranking from rowid.py, never a one-task
  window.
- ``uniform_bp`` / ``sample_by_rates``: per-row uniform in integer
  basis points from the hash — domain-conditional Bernoulli acceptance
  as a pure map-side filter (small rate tables) or one broadcast hash
  join (large ones): no shuffle of the corpus, no RNG state,
  deterministic resume.
- ``rates_for_target_mix`` / ``mix_corpora`` / ``mix_temperature``:
  turn target proportions + observed domain counts into per-domain
  acceptance rates (downsampling only — the largest achievable corpus
  with the exact target mix). The end-to-end mixers compute the rates
  as DATAFRAMES (count agg → two 1-row scalar aggs → a k-row rate
  table hash-joined onto the corpus) — never an unbounded driver
  collect, never a per-domain expression chain, so a registered-domain
  mix (10^5-10^8 domains on a web corpus) plans the same three-shuffle
  shape as a 4-domain one. The rate join's build side is SIZED, not
  assumed: the broadcast hint applies only up to
  ``BROADCAST_RATES_MAX_ROWS`` domains (auto-counted, or forced via
  ``broadcast=``); above it the table shuffles like any big build side
  — a forced hint at host-grain cardinality would OOM executors.

Rate formula (shared by the driver helper and the DataFrame twins, in
this exact float op order so DuckDB oracles mirror it term-for-term)::

    w_d  = weight of domain d              (count^alpha for temperature)
    s    = min over d of (c_d / w_d)       (order-independent — no float
                                            SUM anywhere, so the result
                                            does not depend on domain
                                            enumeration order)
    rate = min(BP, floor(s * w_d / c_d * BP))

which equals the textbook ``t = min(c/norm); rate = t*norm/c`` after
the normalizing ``sum(w)`` cancels — dropping the sum is what makes
the formula engine-portable (a float sum is association-order
dependent; a float min is not).

Reference parity note: the reference (bwlewis/lazy.frame) has no corpus
operations (SURVEY.md §2.2) — north-star scope.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from lazy_frame_spark.pins import PinRegistry
from lazy_frame_spark.rowid import with_row_ids

#: basis-point denominator for acceptance sampling
BP = 10_000

#: persisted k-row rate intermediates keyed by purpose: a repeat call
#: replaces the previous pin; release_rate_tables() frees everything
_rate_tables = PinRegistry()


def release_rate_tables() -> None:
    """Unpersist every counts frame pinned by the mixing operators
    (mirror of dedup.release_sketches). Rate tables derived from a
    released pin stay correct — they just recompute."""
    _rate_tables.release_all()


#: Above this many domains, ``sample_by_rates`` abandons the literal
#: ``when``-chain (the nested expression tree StackOverflows Catalyst's
#: analyzer near depth 400 — measured — and churns the optimizer's
#: iteration cap from ~200; the same interpreted-expression failure
#: mode as the pre-fix IVF argmax) and routes through the broadcast
#: rate-table join. Below it, the chain stays: a map-only filter with
#: zero joins beats a join for the coarse hand-written mixes (tens of
#: domains) this entry point exists for.
WHEN_CHAIN_MAX_DOMAINS = 128


def shuffle_key(seed: int, cols: Sequence[Column | str]) -> Column:
    """Seeded, portable shuffle key: ``md5(seed:col1:col2:…)``. Identical
    in DuckDB as ``md5(seed || ':' || col1 || …)`` — integers render the
    same way in both engines' string casts."""
    parts = [F.lit(str(int(seed)))] + [
        (F.col(c) if isinstance(c, str) else c).cast("string") for c in cols
    ]
    return F.md5(F.concat_ws(":", *parts))


def epoch_shuffle(
    df: DataFrame,
    key_cols: Sequence[str],
    seed: int = 0,
    key_col: str = "shuffle_key",
    rank_col: str | None = None,
) -> DataFrame:
    """Reproducible global shuffle: attach the seeded key and return the
    frame ordered by it. ``orderBy`` compiles to a range exchange plus
    per-partition sort — Spark's distributed total ordering, so writing
    the result yields globally shuffled shards with no single-task
    stage. ``rank_col`` additionally materializes the 1-based global
    position via the value-bucketed parallel rank (rowid.py) — the key
    is a string, so it buckets on the byte-prefix surrogate, not one
    reducer."""
    out = df.withColumn(key_col, shuffle_key(seed, key_cols))
    if rank_col is not None:
        return with_row_ids(out, order_by=[key_col], col=rank_col)
    return out.orderBy(key_col)


def uniform_bp(seed: int, cols: Sequence[Column | str]) -> Column:
    """Deterministic per-row uniform draw in integer basis points
    [0, 10000): the 60-bit md5-prefix hash of (seed, cols) mod 10^4.
    Engine-portable (dedup.token_hash's anchor) and exactly resumable —
    a row's draw never depends on partitioning or scan order."""
    h = F.conv(F.substring(shuffle_key(seed, cols), 1, 15), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(BP))


#: ``broadcast="auto"`` forces the rate-table broadcast hint only up to
#: this many domains: a two-column rate row is ~50-100 B in a broadcast
#: hashmap, so 10^6 rows is ~100 MB — comfortably inside executor
#: memory, far above any hand-written mix, and two orders of magnitude
#: under Spark's 8 GB broadcast hard cap. Above it (host-grain web
#: corpora reach 10^8 domains — a multi-GB table that would OOM
#: executors if force-broadcast), no hint is applied and Catalyst/AQE
#: pick the join strategy from real sizes.
BROADCAST_RATES_MAX_ROWS = 1_000_000


def sample_by_rates_df(
    df: DataFrame,
    domain_col: str,
    rates_df: DataFrame,
    id_cols: Sequence[str],
    rate_col: str = "rate_bp",
    seed: int = 0,
    default_bp: int = 0,
    broadcast: bool | str = "auto",
) -> DataFrame:
    """Domain-conditional Bernoulli downsampling against a RATE TABLE:
    keep a row iff its deterministic uniform draw falls below its
    domain's acceptance rate (basis points), looked up by ONE hash join
    on ``domain_col``. This is the high-cardinality path — the rate
    table is one row per domain (KBs-to-MBs at 10^6 domains: two
    columns), while the corpus side streams map-only, so the plan shape
    is identical at 4 domains and 10^8 rows-per-domain. Domains absent
    from the table (and NULL domains — a left join keeps them with a
    NULL rate) fall back to ``default_bp``.

    ``broadcast`` sizes the join's build side: ``True`` forces the
    broadcast hint (the caller vouches the table fits an executor),
    ``False`` never hints (Catalyst/AQE still broadcast small tables on
    their own size estimates), and ``"auto"`` (default) counts the rate
    table — ONE cheap job over the k-row frame; the mixers pass a
    pinned counts-derived table, so the count materializes the cache
    the join reuses — and hints only up to
    ``BROADCAST_RATES_MAX_ROWS``. An unconditional hint would OOM
    executors at host-grain domain cardinality (~10^8 distinct domains
    is a multi-GB build side AQE must be allowed to shuffle instead)."""
    if rate_col not in rates_df.columns:
        raise ValueError(f"rates_df has no column {rate_col!r}")
    if rate_col in df.columns:
        raise ValueError(
            f"rate column {rate_col!r} collides with an input column — "
            "rename one of them"
        )
    rates = rates_df.select(domain_col, rate_col)
    if broadcast == "auto":
        broadcast = rates.count() <= BROADCAST_RATES_MAX_ROWS
    out = df.join(F.broadcast(rates) if broadcast else rates,
                  on=domain_col, how="left")
    rate = F.coalesce(F.col(rate_col), F.lit(int(default_bp)))
    # restore the INPUT column order — join(on=...) hoists the key
    # column first, and the when-chain path preserves input order, so
    # without this the two routes disagree on shape at the guard
    # boundary (a positional consumer would silently misread)
    return (out.filter(uniform_bp(seed, id_cols) < rate)
            .select(*df.columns))


def sample_by_rates(
    df: DataFrame,
    domain_col: str,
    rates_bp: Mapping[str, int],
    id_cols: Sequence[str],
    seed: int = 0,
    default_bp: int = 0,
) -> DataFrame:
    """Domain-conditional Bernoulli downsampling from a driver-side rate
    mapping. Small mappings (≤ ``WHEN_CHAIN_MAX_DOMAINS``) compile to a
    literal ``when``-chain — a pure map-side filter: at 100 TB this is
    a scan with a predicate, nothing shuffles, and the filter composes
    with column pruning like any Catalyst predicate. Larger mappings
    route through :func:`sample_by_rates_df` (one broadcast hash join)
    instead — a 10^5-entry expression chain is a plan-size blowup, not
    a filter."""
    if len(rates_bp) > WHEN_CHAIN_MAX_DOMAINS:
        dom_type = df.schema[domain_col].dataType
        rates = df.sparkSession.createDataFrame(
            [(d, int(bp)) for d, bp in rates_bp.items()],
            StructType([
                StructField(domain_col, dom_type),
                StructField("__rate_bp__", LongType()),
            ]),
        )
        # broadcast=True is safe BY CONSTRUCTION here: the table is the
        # caller's own driver-side mapping (already resident in driver
        # memory), so its size is bounded long before the hint matters —
        # and it skips auto's sizing count on a LocalRelation
        return sample_by_rates_df(
            df, domain_col, rates, id_cols=id_cols, rate_col="__rate_bp__",
            seed=seed, default_bp=default_bp, broadcast=True,
        )
    rate = F.lit(int(default_bp))
    for dom, bp in sorted(rates_bp.items()):
        rate = F.when(F.col(domain_col) == dom, F.lit(int(bp))).otherwise(rate)
    return df.filter(uniform_bp(seed, id_cols) < rate)


def rates_for_target_mix(
    counts: Mapping[str, int], target_weights: Mapping[str, float]
) -> dict[str, int]:
    """Per-domain acceptance rates (basis points) that hit the target mix
    by downsampling only: the achievable corpus size is limited by the
    domain that is scarcest relative to its target share
    (``s = min(count_d / w_d)`` — the module-docstring formula), and
    every domain keeps ``s * w_d`` of its rows. Domains absent from
    ``target_weights`` get rate 0; a target domain absent from the
    corpus forces s = 0 (the empty corpus is the only one achieving
    that mix by downsampling alone) rather than raising. Raises a clear
    ``ValueError`` when no target weight is positive (there is no mix
    to hit — the silent alternative was a ZeroDivisionError)."""
    pos = {d: float(w) for d, w in target_weights.items() if w > 0}
    if not pos:
        raise ValueError(
            "target_weights must contain at least one positive weight "
            "(an empty or all-zero target has no achievable mix)"
        )
    s = min(counts.get(d, 0) / w for d, w in pos.items())
    return {
        d: min(BP, int(s * w / counts[d] * BP)) if counts.get(d) else 0
        for d, w in pos.items()
    }


def temperature_weights(
    counts: Mapping[str, int], alpha: float = 0.5
) -> dict[str, float]:
    """Temperature-based mixture weights — the standard multilingual /
    multi-domain sampling scheme: target share of domain d is
    ``count_d^alpha / sum(count^alpha)``. ``alpha=1`` reproduces the
    natural (proportional) mix, ``alpha=0`` the uniform mix; the usual
    0.2-0.7 range upsamples the tail RELATIVE to its natural share
    while keeping heads dominant. Feed the result straight into
    ``rates_for_target_mix``/``mix_corpora`` (the rate formula is
    scale-invariant in the weights, so raw ``count^alpha`` values are
    returned — exact in float for the integer counts involved)."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    return {d: float(c) ** alpha for d, c in counts.items() if c > 0}


def _domain_counts(df: DataFrame, domain_col: str) -> DataFrame:
    """(domain, __c__) over non-NULL domains — ONE partial-aggregated
    count; NULL domains are excluded up front (an unattributed row has
    no defensible share in a domain mix; rate-table lookups give them
    ``default_bp=0`` anyway)."""
    return (
        df.filter(F.col(domain_col).isNotNull())
        .groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
    )


def _rate_expr() -> Column:
    """``min(BP, floor(s * w / c * BP))`` with the exact left-associated
    op order the module docstring pins (and every oracle mirrors);
    guarded to 0 for c=0 rows (``least`` skips NULLs, so an unguarded
    0/0=NaN would silently become rate BP)."""
    raw = F.floor(
        F.col("__s__") * F.col("__w__") / F.col("__c__") * F.lit(BP)
    ).cast("long")
    return F.when(
        F.col("__c__") > 0, F.least(F.lit(BP).cast("long"), raw)
    ).otherwise(F.lit(0).cast("long"))


def temperature_rates(
    df: DataFrame, domain_col: str, alpha: float, rate_col: str = "rate_bp"
) -> DataFrame:
    """Per-domain acceptance rates for temperature mixing as a
    DATAFRAME — the high-cardinality path: one count aggregation over
    the corpus (k rows out, k = distinct domains), ``w = pow(c, alpha)``
    per row, ONE 1-row min aggregate for the scarcity scalar s, and the
    k-row rate projection. Nothing about k ever reaches the driver —
    at 10^8 registered domains this is still two tiny shuffles. An
    empty / all-NULL-domain corpus yields an empty rate table (and the
    downstream join then keeps nothing — the empty corpus IS the only
    downsample achieving any mix of nothing)."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    cw = _domain_counts(df, domain_col).withColumn(
        "__w__", F.pow(F.col("__c__").cast("double"), F.lit(float(alpha)))
    )
    # the counts feed BOTH the scalar agg and the rate projection —
    # pin the k-row result so the corpus-sized count scan runs ONCE
    # (measured: Spark does not exchange-reuse across the two
    # subtrees, so the unpersisted plan scanned the corpus twice for
    # counts). The pin replaces the previous call's block and
    # release_rate_tables() frees it — no per-call accumulation.
    cw = _rate_tables.pin("temperature_counts", cw)
    s = cw.agg(F.min(F.col("__c__") / F.col("__w__")).alias("__s__"))
    return (
        cw.crossJoin(F.broadcast(s))
        .select(F.col(domain_col), _rate_expr().alias(rate_col))
    )


def mix_temperature(
    df: DataFrame,
    domain_col: str,
    alpha: float,
    id_cols: Sequence[str],
    seed: int = 0,
    broadcast: bool | str = "auto",
) -> DataFrame:
    """End-to-end temperature mixing, fully distributed: the rate table
    from :func:`temperature_rates` (count agg → 1-row scalar → k-row
    rates — no driver collect, no per-domain expression) hash-joined
    onto the corpus with the deterministic acceptance filter. TWO
    passes over the corpus total (one to count, one to filter), at ANY
    domain cardinality — the web-scale registered-domain mix plans the
    same shape as a 4-domain one, with the join's build side sized by
    ``broadcast`` (auto-counted by default: hinted up to
    ``BROADCAST_RATES_MAX_ROWS`` domains, left to AQE above — a forced
    hint at 10^8 domains would OOM executors)."""
    rates = temperature_rates(df, domain_col, alpha, rate_col="__rate_bp__")
    return sample_by_rates_df(
        df, domain_col, rates, id_cols=id_cols, rate_col="__rate_bp__",
        seed=seed, default_bp=0, broadcast=broadcast,
    )


def mix_corpora(
    df: DataFrame,
    domain_col: str,
    target_weights: Mapping[str, float],
    id_cols: Sequence[str],
    seed: int = 0,
) -> DataFrame:
    """End-to-end domain mixing to an explicit target recipe, fully
    distributed: observed counts stay a DataFrame (never collected —
    only the user's own ``target_weights`` mapping is driver-side, and
    its size is the user's to bound), the scarcity scalar s and the
    matched-domain count are 1-row aggregates, and the k-row rate table
    broadcast-joins onto the corpus. A target domain absent from the
    corpus forces s = 0 — every rate 0, the empty corpus — matching
    :func:`rates_for_target_mix`; detection is the 1-row matched-count
    aggregate, not a driver lookup. The expected output proportions
    match ``target_weights`` to sampling noise."""
    pos = [(d, float(w)) for d, w in target_weights.items() if float(w) > 0]
    if not pos:
        raise ValueError(
            "target_weights must contain at least one positive weight "
            "(an empty or all-zero target has no achievable mix)"
        )
    dom_type = df.schema[domain_col].dataType
    wdf = df.sparkSession.createDataFrame(
        pos,
        StructType([
            StructField(domain_col, dom_type),
            StructField("__w__", DoubleType()),
        ]),
    )
    # inner join keeps (targeted ∩ present) domains — build side is the
    # broadcast weights table, stream side the counts agg, so domain
    # cardinality never crosses the driver
    cw = _domain_counts(df, domain_col).join(
        F.broadcast(wdf), on=domain_col, how="inner"
    )
    # pinned for the same single-count-scan reason as temperature_rates
    # (the k here is further bounded by the user's target_weights
    # mapping)
    cw = _rate_tables.pin("corpora_counts", cw)
    # s over PRESENT target domains, zeroed if any target domain is
    # absent (its c=0 term would have been the min) — both 1-row aggs
    s = cw.agg(
        F.min(F.col("__c__") / F.col("__w__")).alias("__s0__"),
        F.count(F.lit(1)).alias("__k__"),
    ).select(
        F.when(F.col("__k__") < len(pos), F.lit(0.0))
        .otherwise(F.col("__s0__")).alias("__s__")
    )
    rates = (
        cw.crossJoin(F.broadcast(s))
        .select(F.col(domain_col), _rate_expr().alias("__rate_bp__"))
    )
    # broadcast=True is safe BY CONSTRUCTION: the inner join against the
    # user's weights mapping bounds the rate table to len(target_weights)
    # rows — driver-resident already — and skips auto's sizing count
    return sample_by_rates_df(
        df, domain_col, rates, id_cols=id_cols, rate_col="__rate_bp__",
        seed=seed, default_bp=0, broadcast=True,
    )


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    n: int,
    order_by: Sequence[str],
    pre_cut: bool = True,
) -> DataFrame:
    """Keep at most ``n`` rows per group — the anti-spam cap every web
    corpus applies per domain/source (one hostile domain must not be
    able to dominate the training mix). ``order_by`` decides WHICH n
    survive (e.g. quality score desc, doc_id as tiebreak); make it a
    total order within each group or the selection at the boundary is
    engine-arbitrary.

    Scale shape: the naive single window puts every row of a hot group
    through ONE task. With ``pre_cut`` (default), a local pass ranks
    within (group, scan partition) first — Spark's window exchange
    hashes on BOTH keys, so a hot domain spreads across tasks — and
    keeps n per cell; only ≤ n x touched-partitions rows per group
    reach the global rank. Every global top-n row survives its local
    cut by construction, so results are identical with or without the
    pre-cut (property-tested)."""
    from pyspark.sql import Window

    order = [F.col(c) for c in order_by]
    out = df
    if pre_cut:
        wl = Window.partitionBy(
            *[F.col(c) for c in group_cols], F.spark_partition_id()
        ).orderBy(*order)
        out = (
            out.withColumn("__rl__", F.row_number().over(wl))
            .filter(F.col("__rl__") <= n)
            .drop("__rl__")
        )
    wg = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order)
    return (
        out.withColumn("__rg__", F.row_number().over(wg))
        .filter(F.col("__rg__") <= n)
        .drop("__rg__")
    )


def cap_tokens_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    budget: int,
    token_col: str,
    order_by: Sequence[str],
    pre_cut: bool = True,
) -> DataFrame:
    """Keep rows, in ``order_by`` order, while the group's RUNNING token
    sum stays within ``budget`` — the token-grain counterpart of
    ``cap_per_group``: training mixes are budgeted in TOKENS, so a
    domain of long documents must not out-spend one of short documents
    just by having fewer rows. The rule is the deterministic prefix
    cut: a row is kept iff its inclusive running sum ≤ budget (token
    counts must be non-negative, making the running sum monotone — the
    first overflowing row cuts the sequence; NULL counts coalesce to 0
    so such rows ride along free). ``order_by`` is ASCENDING column
    names and must totally order each group (id as final tiebreak) or
    the boundary row is engine-arbitrary; encode a descending
    preference as a derived ascending column (e.g. negated score) —
    the pre-cut repair's boundary min/compare assumes the ascending
    struct order.

    Scale shape, with a subtlety ``cap_per_group``'s rank version does
    not have: the local (group, scan-partition) cumsum filter keeps
    every global winner (a winner's local prefix sum ≤ its true prefix
    sum), but dropping locally-overflowing rows DEFLATES later
    survivors' sums — a survivor after a dropped row could sneak under
    budget. The exact repair: no dropped row may precede a true winner
    (monotone running sum), so survivors are additionally cut at the
    group's EARLIEST locally-dropped order key — a tiny
    (group × touched-partitions)-grain aggregate joined back on the
    group key. Within that boundary the survivor cumsum IS the true
    cumsum, so the global window (hot groups bounded by the pre-cut)
    reproduces the single-window result exactly (property-tested).
    Cost note: the pre-cut evaluates the local window twice (survivor
    filter and boundary aggregate are separate subtrees over a
    corpus-sized frame — persisting it would cache the corpus, a worse
    trade); two fully-parallel passes still beat one pass serialized
    through a single task per hot group, and ``pre_cut=False`` is the
    right knob when groups are many and balanced. Measured crossover
    (tools/bench_precut.py, 6M rows / 50k groups, min-of-3 at
    local[32]): one group owning 70% of rows -> 4.8 s pre-cut vs 6.6 s
    without (the hot group serializes the global window); uniform
    groups (~120 rows each) -> 0.9 s without vs 3.4 s with (the second
    local-window pass is pure overhead when every group is already
    small). Rule of thumb: pre-cut iff the hottest group exceeds a few
    scan partitions' worth of rows. The pre-cut bucket is
    a DETERMINISTIC hash of the order key (not spark_partition_id):
    both subtrees must see the identical row→bucket assignment, and a
    physical partition id can differ between two evaluations of the
    same frame (AQE re-planning, nondeterministic sources), which would
    desynchronize the survivor set from its repair boundary."""
    from pyspark.sql import Window

    order = [F.col(c) for c in order_by]
    okey = F.struct(*order)
    # NULL tokens ride free ('add nothing'): without the coalesce, a
    # NULL before any non-NULL token makes the windowed sum NULL and
    # silently drops the row
    tok = F.coalesce(F.col(token_col), F.lit(0))
    out = df
    if pre_cut:
        nbuckets = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        bucket = F.pmod(F.xxhash64(*order), F.lit(nbuckets))
        wl = (
            Window.partitionBy(*[F.col(c) for c in group_cols], bucket)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        marked = out.withColumn("__tl__", F.sum(tok).over(wl))
        renames = {c: f"__g{i}__" for i, c in enumerate(group_cols)}
        cut0 = (
            marked.filter(F.col("__tl__") > budget)
            .groupBy(*[F.col(c) for c in group_cols])
            .agg(F.min(okey).alias("__cut0__"))
            .withColumnsRenamed(renames)
        )
        # NULL-safe group match: Window.partitionBy groups NULL keys
        # together, so the boundary join must too (a plain equi-join
        # would let NULL-keyed groups skip the repair and keep
        # over-budget rows)
        cond = None
        for i, c in enumerate(group_cols):
            term = F.col(c).eqNullSafe(F.col(f"__g{i}__"))
            cond = term if cond is None else (cond & term)
        out = (
            marked.filter(F.col("__tl__") <= budget)
            .drop("__tl__")
            .join(cut0, on=cond, how="left")
            .filter(F.col("__cut0__").isNull() | (okey < F.col("__cut0__")))
            .drop("__cut0__", *renames.values())
        )
    wg = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        out.withColumn("__tg__", F.sum(tok).over(wg))
        .filter(F.col("__tg__") <= budget)
        .drop("__tg__")
    )
