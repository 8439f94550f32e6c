"""LazyFrame — the engine's core abstraction.

A thin facade over ``pyspark.sql.DataFrame`` implementing the reference's
lazy dataframe algebra (``R/lazy.frame.R``, ``src/lazy.frame.c``) with
Spark-native execution:

==============================  =============================================
reference                        here
==============================  =============================================
lazy.frame promise env           ``LazyFrame`` wrapping a lazy DataFrame plan
newline byte index               ``__row_id__`` column (lazy_frame_spark.rowid)
``x[j, k]`` RANGE/LINES          ``row_range`` / ``rows`` (pushdown filters)
``x[, k] op scalar`` WHICH       ``filter`` / ``which`` (typed_compare)
``head``/``tail``                ``head`` / ``tail`` (id-range pruned)
``column_attr``                  ``ColumnAttrs`` applied at ``to_pandas``
``[<-`` write denial             ``__setitem__`` raises (read-only contract)
``str``/``print``                ``describe_str`` / ``show``
``summary`` (unimplemented!)     ``summary`` — implemented via df.summary()
==============================  =============================================

Scale notes (100 TB design):
- No driver-side per-row state anywhere; row ids are data (LongType).
- Positional ops compile to ``__row_id__`` range/set predicates, which
  Parquet row-group statistics prune at scan time — the distributed
  analogue of the reference's O(1) byte-offset seek.
- ``which()`` returns a DataFrame of ids, not a collected vector; the
  reference's own "return a giant index vector to the driver" pattern is
  the anti-scale path and is opt-in only (``collect=True``).
- A positional call costs a constant number of Python→JVM round trips,
  whatever the frame's width: predicates and projections go to the JVM
  as one SQL string or one name list, never one ``Column`` per id or
  field (with DataFrame debugging on, each ``Column`` built in Python
  costs several round trips).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lazy_frame_spark.functions.compare import OPS, typed_compare
from lazy_frame_spark.metadata import ColumnAttrs
from lazy_frame_spark.pins import release
from lazy_frame_spark.rowid import (
    ROW_ID,
    enumerate_rows,
    parquet_footer_bounds,
)

READ_ONLY_MSG = "File frames are read-only."  # R/lazy.frame.R:123


def _default_buckets(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _warn_sample_unverified() -> None:
    """One-time (per call-site) warning for opens that keep a
    sample-inferred schema WITHOUT the corrupt-channel verification
    pass: a type first appearing past the head sample silently parses
    to NULL under PERMISSIVE. Deliberate on cache=False one-shot opens
    — the warning makes the trade explicit instead of silent."""
    import warnings

    warnings.warn(
        "cache=False open keeps the head-sampled CSV schema UNVERIFIED: "
        "values of a type the ~1000-line sample missed parse to NULL. "
        "Use cache=True / register() (verified, with automatic "
        "full-inference fallback), infer_schema=True, or an explicit "
        "schema= if the file's types may surprise.",
        UserWarning,
        stacklevel=4,
    )


def _quote(name: str) -> str:
    """SQL identifier for an exact name — backtick-quoted so dotted names
    (e.g. the reference's canonical ``Sepal.Length``) resolve literally."""
    return "`" + name.replace("`", "``") + "`"


class LazyFrame:
    """A read-only, lazily evaluated, positionally addressable frame."""

    def __init__(
        self,
        df: DataFrame,
        attrs: ColumnAttrs | None = None,
        order_by: Sequence[str] | None = None,
        cache: bool = True,
    ):
        self._df = df
        self._attrs = attrs or ColumnAttrs()
        self._order_by = list(order_by) if order_by else None
        self._cache = cache
        self._cache_handle: DataFrame | None = None
        # verified sample-infer state (CSV opens): the corrupt-channel
        # frame to enumerate through, and the one-full-pass fallback
        self._verify_df: DataFrame | None = None
        self._reopen_full = None
        # deferred-verify lineage (pure promise semantics,
        # man/lazy.frame.Rd:5-9): a frame DERIVED from a still-unverified
        # open records its root and the op chain from it, so
        # filter()/select()/rename() stay zero-job plan builders and the
        # corrupt-count runs at materialization — replaying the chain on
        # the full-inference reopen if the sample lied
        self._verify_root: "LazyFrame | None" = None
        self._verify_ops: tuple = ()
        self._verify_swapped = False
        # row count N of an indexed root, counted by the verify aggregate
        # fused into the index build; its ids are then dense 1..N, so
        # head/tail become id-range predicates and nrow() is free
        self._n_rows: int | None = None

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        format: str | None = None,
        order_by: Sequence[str] | None = None,
        cache: bool = True,
        **options: Any,
    ) -> "LazyFrame":
        """Open a file as a LazyFrame without reading data (S1 parity,
        ``R/lazy.frame.R:37-87``). Format inferred from the extension when
        not given. CSV goes through the engine's schema-infer-once reader
        (sources.csv) supporting sep/header-autodetect/skip/gzip.

        CSV schema inference defaults to VERIFIED sample-infer: the
        schema comes from a ~1000-line driver-side head peek (no
        full-scan job — the old default paid a whole dedicated
        inferSchema pass over the file), and the first enumerate scan
        verifies it via a PERMISSIVE corrupt-record channel aggregated
        in the SAME job that builds the positional cache. If any row
        fails the sampled schema (a type the head sample missed), the
        open falls back to ONE full-inference pass automatically — so
        the fast path is free and the slow path costs exactly what it
        used to. Escapes: ``infer_schema=True`` (always full pass),
        ``"sample"`` (unverified, reference-style), ``False`` (all
        strings), or an explicit ``schema=``. The ``skip=N`` path gets
        the SAME guarantee: ``from_csv`` carries the corrupt channel
        per row. Verification runs at the FIRST materialization —
        positional paths fuse it into the enumerate build; pure
        transformations (filter/select/rename) are zero-job plan
        builders carrying deferred-verify lineage (the reference's pure
        promise semantics, man/lazy.frame.Rd:5-9), and the corrupt
        count runs before any data leaves (to_pandas/collect/to_df/
        nrow-of-a-filter), replaying the recorded op chain on the
        full-inference reopen if the sample lied. ``cache=False``
        one-shot opens skip verification by design (a dedicated
        full-width parse would double the one-shot cost) and emit a
        one-time warning instead.

        ``cache=False`` skips persisting the enumerated frame: the right
        mode for ONE-shot positional queries (open → slice → done), where
        building an in-memory cache nobody re-reads only costs executor
        storage. Repeated positional access should keep the default, or
        better, ``register()`` the frame once.
        """
        fmt = format or _infer_format(path)
        if fmt == "csv":
            from lazy_frame_spark.sources.csv import CORRUPT_COL, open_csv

            opts = dict(options)
            opts.setdefault("infer_schema", "verified")
            df = open_csv(spark, path, **opts)
            if CORRUPT_COL in df.columns:
                lf = cls(df.drop(CORRUPT_COL), order_by=order_by,
                         cache=cache)
                lf._verify_df = df
                full = dict(opts, infer_schema=True)
                lf._reopen_full = lambda: open_csv(spark, path, **full)
                return lf
        elif fmt == "parquet":
            df = spark.read.options(**{k: str(v) for k, v in options.items()}).parquet(path)
        elif fmt == "json":
            df = spark.read.options(**{k: str(v) for k, v in options.items()}).json(path)
        elif fmt == "orc":
            df = spark.read.options(**{k: str(v) for k, v in options.items()}).orc(path)
        elif fmt == "versioned":
            # time travel through the facade: the reference's reopen
            # (R/lazy.frame.R:97-107 re-derives the same table state)
            # generalizes to "reopen AS OF version k" on a manifest-
            # committed table (sources/versioned.py)
            from lazy_frame_spark.sources.versioned import read_versioned

            version = options.pop("version", None)
            if version is not None:
                version = int(version)  # '3' (a stringified option) ok
            if options:
                raise ValueError(
                    "format='versioned' reads a committed manifest; "
                    f"reader options {sorted(options)} do not apply "
                    "(only version=)"
                )
            df = read_versioned(spark, path, version=version)
        else:
            raise ValueError(f"unsupported format {fmt!r}")
        return cls(df, order_by=order_by, cache=cache)

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        order_by: Sequence[str] | None = None,
        cache: bool = True,
    ) -> "LazyFrame":
        return cls(df, order_by=order_by, cache=cache)

    # ------------------------------------------------------------------ #
    # row ids (lazy attach — open() must stay a no-I/O promise)
    # ------------------------------------------------------------------ #

    def _with_ids(self) -> DataFrame:
        if self._verify_root is not None:
            # a derived child can't fuse the root's verify into its own
            # enumerate (the corrupt channel lives on the root's frame):
            # settle the chain first, then enumerate the settled plan
            self._ensure_verified()
        if ROW_ID in self._df.columns:
            # skip>0 CSV opens arrive with ids already attached (the
            # text-read path rebases them), so there is no enumerate
            # build to fuse verification into — the standalone
            # first-touch verify covers them
            self._ensure_verified()
            return self._df
        # enumerate + persist: the reference pays its newline-index scan
        # once at open (src/lazy.frame.c:252-298) and every positional
        # query reuses it — same one-time cost here, held to ONE source
        # scan: bucket bounds come from parquet footer stats when the
        # frame is a parquet scan (metadata only, no job), and the cache
        # is built by the same job that reads the per-bucket counts. At
        # cluster scale, prefer register() (ids persisted to Parquet,
        # with row-group pruning on __row_id__) over in-memory caching.
        src = self._verify_df if self._verify_df is not None else self._df
        bounds = None
        if self._order_by:
            bounds = parquet_footer_bounds(
                src, self._order_by[0], _default_buckets(src)
            )
        df, handle = enumerate_rows(
            src, order_by=self._order_by, bounds=bounds, cache=self._cache
        )
        if self._verify_df is not None:
            if self._cache:
                df, handle = self._verify_enumerated(df, handle)
                if df is None:  # sample lied — rebuilt on the full-infer path
                    return self._with_ids()
            else:
                # cache=False is the minimum-touch one-shot mode: ids
                # come from the pruned line-count scan (the reference's
                # newline-index work — no field parsing), and schema
                # verification is deliberately NOT added — a dedicated
                # full-width parse would double the one-shot cost. The
                # sampled schema keeps PERMISSIVE null semantics here
                # (still a 1000-line sample vs the reference's
                # never-verified 5); cache=True or register() verifies.
                # A one-time warning makes the silent-NULL trade
                # explicit to the caller (round-8 ADVICE).
                from lazy_frame_spark.sources.csv import CORRUPT_COL

                _warn_sample_unverified()
                df = df.drop(CORRUPT_COL)
                self._verify_df = None
        self._cache_handle = handle
        self._df = df
        return df

    def _count_corrupt(self, vdf: DataFrame) -> tuple[int, int]:
        """The ONE corrupt-channel aggregate both verify paths share:
        sums the channel while referencing every user column, so the
        CSV parser cannot prune — malformed values in any field flag
        the channel. Returns ``(bad, n)``: the count of rows the
        sample-inferred schema failed to parse, and the row count."""
        from lazy_frame_spark.sources.csv import CORRUPT_COL

        user_cols = [c for c in vdf.columns
                     if c not in (CORRUPT_COL, ROW_ID)]
        checks = vdf.selectExpr(
            f"sum(CAST({CORRUPT_COL} IS NOT NULL AS BIGINT)) AS __bad__",
            "count(1) AS __n__",
            *[f"count({_quote(c)}) AS __c{i}__"
              for i, c in enumerate(user_cols)],
        ).collect()[0]
        return int(checks["__bad__"] or 0), int(checks["__n__"])

    def _ensure_verified(self) -> None:
        """Standalone schema verification for the FIRST materialization
        on any non-positional path (to_df/to_pandas/collect/...):
        positional paths fuse the same check into the enumerate build
        (``_verify_enumerated``), and whichever runs first consumes the
        pending state — so the verified-by-default contract holds on
        EVERY read path. Transformations (filter/select/rename) do NOT
        trigger it — they record deferred lineage via ``_derive`` and
        the check runs here, at the materialization boundary, restoring
        the reference's pure promise semantics (man/lazy.frame.Rd:5-9).
        cache=False one-shot opens skip it by design (a dedicated
        full-width parse would double the one-shot cost) and warn once
        instead."""
        if self._verify_root is not None:
            if not self._sync_swapped():
                self._verify_root._ensure_verified()
                self._sync_swapped()
            return
        if self._verify_df is None:
            return
        if not self._cache:
            _warn_sample_unverified()
            self._verify_df = None
            return
        self._verify_attached(self._verify_df)

    def _sync_swapped(self) -> bool:
        """Settle a derived frame whose root's verify has already run
        (consumed by some other access). If the root swapped to the
        full-inference reopen, replay this frame's recorded op chain on
        the root's new plan; either way the lineage is freed. Pure plan
        surgery — no Spark job (the root's verify already ran). Returns
        False while the root's verify is still pending."""
        root = self._verify_root
        if root is None:
            return True
        if root._verify_df is not None:
            return False
        if root._verify_swapped:
            df = root._df
            for op in self._verify_ops:
                df = op(df)
            self._df = df
        self._verify_root = None
        self._verify_ops = ()
        return True

    def _derive(self, op, attrs: ColumnAttrs) -> "LazyFrame":
        """Build a derived LazyFrame as pure plan construction — zero
        Spark jobs. ``op`` is a replayable ``DataFrame -> DataFrame``
        closure (name/expression-based only — Column expressions are
        unresolved in Spark, so the same closure applies cleanly to the
        full-inference reopen whose column TYPES may differ). While the
        chain's root still has a pending sample-schema verify, the child
        records (root, op-chain) so the materialization-time check can
        rebuild it if the sample lied."""
        self._sync_swapped()  # never derive from a stale pre-swap plan
        child = LazyFrame(op(self._df), attrs, self._order_by,
                          cache=self._cache)
        root = self._verify_root
        if root is None and self._verify_df is not None:
            root = self
        if root is not None and root._verify_df is not None:
            child._verify_root = root
            child._verify_ops = (*self._verify_ops, op)
        return child

    def _verify_attached(self, vdf: DataFrame):
        """ONE corrupt-count aggregate over the verify frame. Clean →
        ``self`` keeps its frame (returns it); dirty → swap in the
        full-inference reopen and return None."""
        bad, _ = self._count_corrupt(vdf)
        self._verify_df = None
        if bad:
            if self._reopen_full is None:
                raise ValueError(
                    f"{bad} rows failed the sample-inferred schema — "
                    "pass infer_schema=True or an explicit schema"
                )
            self._df = self._reopen_full()
            self._verify_swapped = True
            return None
        return self._df

    def _verify_enumerated(self, df: DataFrame, handle: DataFrame | None):
        """Schema verification FUSED into the enumerate build: the
        shared corrupt-count aggregate both materializes the positional
        cache and counts rows the sample-inferred schema failed to
        parse. Zero extra passes on the (overwhelmingly common)
        honest-sample path; if the sample lied, fall back to ONE
        full-inference pass — exactly what the old always-full-infer
        default paid up front on every open."""
        from lazy_frame_spark.sources.csv import CORRUPT_COL

        bad, n = self._count_corrupt(df)
        if bad:
            release(handle or df)
            self._verify_df = None
            if self._reopen_full is None:
                raise ValueError(
                    f"{bad} rows failed the sample-inferred schema — pass "
                    "infer_schema=True or an explicit schema"
                )
            self._df = self._reopen_full()
            self._verify_swapped = True
            return None, None
        self._verify_df = None
        self._n_rows = n
        return df.drop(CORRUPT_COL), handle

    def close(self) -> None:
        """Release the state this frame persisted (M7 finalizer parity,
        R/lazy.frame.R:12-15) — never a pin the caller took on the
        DataFrame it handed to ``from_df``."""
        release(self._cache_handle)
        self._cache_handle = None

    # ------------------------------------------------------------------ #
    # shape & names (M2/M3 parity)
    # ------------------------------------------------------------------ #

    #: internal columns excluded from the user-visible surface: positional
    #: ids, and the row-names column (the reference transparently skips the
    #: row-name file column in column numbering, src/lazy.frame.c:528-530)
    _INTERNAL = (ROW_ID, "__row_name__")

    @property
    def columns(self) -> list[str]:
        return [c for c in self._df.columns if c not in self._INTERNAL]

    def names(self) -> list[str]:
        return self.columns

    def rename(self, names: Sequence[str] | dict[str, str]) -> "LazyFrame":
        """``names<-`` parity (``R/lazy.frame.R:217-226``)."""
        cols = self.columns
        if isinstance(names, dict):
            mapping = dict(names)
        else:
            names = list(names)
            if len(names) != len(cols):
                raise ValueError(f"expected {len(cols)} names, got {len(names)}")
            mapping = dict(zip(cols, names))

        def op(df: DataFrame) -> DataFrame:
            for old, new in mapping.items():
                df = df.withColumnRenamed(old, new)
            return df

        return self._derive(op, self._attrs.renamed(mapping))

    def nrow(self) -> int:
        if self._n_rows is not None:  # counted by the index build
            return self._n_rows
        # a derived chain must settle first: a filter's row count DEPENDS
        # on the schema (a sample-missed type parses to NULL →
        # compare-false), so counting a stale pre-swap plan would lie.
        # Plain root counts are verification-invariant (PERMISSIVE keeps
        # every row under either schema), so an unfiltered open→nrow()
        # stays job-minimal.
        if self._verify_root is not None:
            self._ensure_verified()
        return self._df.count()

    def ncol(self) -> int:
        return len(self.columns)

    def dim(self) -> tuple[int, int]:
        return (self.nrow(), self.ncol())

    def dimnames(self) -> tuple[None, list[str]]:
        """dimnames parity: (NULL row names, column names)
        (R/lazy.frame.R:84,227-232). A row-names column, when configured,
        is the ordinary ``__row_name__`` column."""
        return (None, self.columns)

    # ------------------------------------------------------------------ #
    # projection (P3 parity)
    # ------------------------------------------------------------------ #

    def select(self, cols: str | int | Sequence[str | int]) -> "LazyFrame":
        """Project by name or 1-based positive index; out-of-range indices
        are silently dropped (``R/lazy.frame.R:145-147``). Pure plan
        construction — no Spark job (deferred-verify lineage settles at
        materialization)."""
        names = self._resolve_cols(cols)

        def op(df: DataFrame) -> DataFrame:
            keep = [c for c in df.columns if c == ROW_ID] + names
            return df.selectExpr(*map(_quote, keep))

        return self._derive(op, self._attrs.restrict(names))

    def _resolve_cols(self, cols: str | int | Sequence[str | int]) -> list[str]:
        if isinstance(cols, (str, int)):
            cols = [cols]
        all_cols = self.columns
        out: list[str] = []
        for c in cols:
            if isinstance(c, bool):
                raise TypeError("boolean column selectors are not supported")
            if isinstance(c, int):
                if c < 1:
                    raise IndexError(
                        "only positive 1-based column indices are supported"
                    )
                if c <= len(all_cols):  # OOB silently dropped (parity)
                    out.append(all_cols[c - 1])
            elif isinstance(c, str):
                if c in all_cols:  # unknown names silently dropped (parity)
                    out.append(c)
            else:
                raise TypeError(f"bad column selector {c!r}")
        return out

    # ------------------------------------------------------------------ #
    # positional selection (P1/P2 parity)
    # ------------------------------------------------------------------ #

    def row_range(self, lo: int, hi: int) -> "LazyFrame":
        """Rows ``lo..hi`` inclusive, 1-based (RANGE, src/lazy.frame.c:189-216).

        Compiles to a ``__row_id__ BETWEEN`` predicate — Parquet row-group
        stats prune non-matching groups, the distributed analogue of the
        reference's single seek+read between newline offsets.
        """
        return self._where(f"{ROW_ID} BETWEEN {int(lo)} AND {int(hi)}")

    def _where(self, pred: str) -> "LazyFrame":
        """This frame's indexed rows filtered by one SQL predicate on
        ``__row_id__``: one JVM call, and the plan keeps a plain
        range/``In``/``InSet`` comparison, which the cached batches'
        min/max stats and Parquet row-group stats prune on."""
        return LazyFrame(self._with_ids().filter(pred), self._attrs.copy(),
                         self._order_by)

    def rows(self, indices: Iterable[int]) -> "LazyFrame":
        """Arbitrary row set, 1-based (LINES, src/lazy.frame.c:219-245).

        Set semantics in ``__row_id__`` order — the reference's dominant
        behavior (its contiguity shortcut already ignores request order,
        ``R/lazy.frame.R:152``, documented in SURVEY.md §2.1). Small sets
        become an ``IN`` predicate (pushed to the scan); large sets become a
        broadcast semi-join against an id DataFrame so the predicate never
        bloats the plan.
        """
        ids = sorted({int(i) for i in indices})
        if any(i < 1 for i in ids):
            raise IndexError("row indices are 1-based and must be positive")
        if not ids:
            return self._where("false")
        if len(ids) == ids[-1] - ids[0] + 1:  # contiguous → range pruning
            return self._where(f"{ROW_ID} BETWEEN {ids[0]} AND {ids[-1]}")
        if len(ids) <= 10_000:
            return self._where(f"{ROW_ID} IN ({','.join(map(str, ids))})")
        df = self._with_ids()
        lookup = df.sparkSession.createDataFrame(
            [(i,) for i in ids], schema=f"{ROW_ID} long"
        )
        joined = df.join(F.broadcast(lookup), on=ROW_ID, how="left_semi")
        return LazyFrame(joined, self._attrs.copy(), self._order_by)

    def sample_rows(self, n: int, seed: int = 42) -> "LazyFrame":
        """Random point extraction — the vignette's designed-for use case
        ``x[sample(nrow(x), n), ]`` (inst/doc/lazy.frame.Rnw:98-101,
        157-174), without collecting ids to the driver: rank every row by
        a seeded hash of its positional id and keep the top n. Always
        returns EXACTLY min(n, nrow) rows (a Bernoulli draw could come up
        short), is deterministic per seed, and plans as
        TakeOrderedAndProject — only n rows per partition move."""
        df = self._with_ids()
        picked = df.orderBy(F.xxhash64(F.col(ROW_ID), F.lit(int(seed)))).limit(int(n))
        return LazyFrame(picked, self._attrs.copy(), self._order_by)

    def head(self, n: int = 6) -> "LazyFrame":
        """First n rows in positional order (L1, ``R/lazy.frame.R:234-239``).

        On an indexed root (ids dense 1..N) the rows are ``__row_id__ <=
        n``, so only the leading cached batch is read; elsewhere (a
        filtered or selected child, sparse ids) the top n of all ids."""
        n = int(n)
        self._with_ids()  # a first touch builds the index and counts N
        if self._n_rows is not None:
            return self._where(f"{ROW_ID} <= {n}")._first(n)
        return self._first(n)

    def tail(self, n: int = 6) -> "LazyFrame":
        """Last n rows in positional order (L2, ``R/lazy.frame.R:241-244``),
        pruned to ``__row_id__ > N - n`` on an indexed root (see
        ``head``)."""
        n = int(n)
        df = self._with_ids()
        if self._n_rows is not None:
            return self._where(f"{ROW_ID} > {self._n_rows - n}")._first(n)
        last = df.orderBy(F.col(ROW_ID).desc()).limit(n).orderBy(ROW_ID)
        return LazyFrame(last, self._attrs.copy(), self._order_by)

    def _first(self, n: int) -> "LazyFrame":
        """The n lowest ids in id order (TakeOrderedAndProject)."""
        df = self._with_ids()
        return LazyFrame(df.orderBy(ROW_ID).limit(n), self._attrs.copy(),
                         self._order_by)

    # ------------------------------------------------------------------ #
    # predicates (F1/F2/F3 parity)
    # ------------------------------------------------------------------ #

    def col(self, col: str | int) -> Column:
        """First-class column expression — replaces the reference's mutable
        ``which``-staging (``R/lazy.frame.R:132-140``): ``col()`` is already
        an unevaluated expression, no handle mutation needed."""
        names = self._resolve_cols(col)
        if len(names) != 1:
            raise KeyError(f"no such column: {col!r}")
        return F.col(_quote(names[0]))

    def filter(self, col: str | int | Column, op: str | None = None, value: Any = None) -> "LazyFrame":
        """``x[x[,k] op v, ]`` in one Catalyst plan (F3). Either a Column
        predicate, or (col, op, scalar) in the reference's RHS-typed
        domain (F2). Pure plan construction — no Spark job; the RHS-typed
        predicate is schema-independent (try_cast picks the domain from
        the LITERAL), so it replays identically on a full-inference swap."""
        if isinstance(col, Column):
            pred = col
        else:
            if op is None:
                raise ValueError("filter(col, op, value) requires op and value")
            pred = typed_compare(self.col(col), op, value)
        return self._derive(lambda df: df.filter(pred), self._attrs.copy())

    def which(
        self, col: str | int | Column, op: str | None = None, value: Any = None,
        collect: bool = False,
    ):
        """Matching 1-based row indices (WHICH, ``src/lazy.frame.c:507-773``;
        1-based via ``R/lazy.frame.R:203``). Returns a DataFrame of ids in
        ascending order; ``collect=True`` opts into a driver-side list —
        the reference's own anti-scale pattern, off by default. The list
        is collected unsorted in one job and sorted on the driver: a
        distributed sort of ids already bound for the driver would cost
        a sampling job and a shuffle."""
        self._with_ids()
        ids = self.filter(col, op, value)._df.select(ROW_ID)
        if collect:
            return sorted(r[0] for r in ids.collect())
        return ids.orderBy(ROW_ID).withColumnRenamed(ROW_ID, "row_id")

    # ------------------------------------------------------------------ #
    # R-flavored indexing sugar
    # ------------------------------------------------------------------ #

    def __getitem__(self, key):
        if isinstance(key, str):
            return self.col(key)
        if isinstance(key, Column):
            return self.filter(key)
        if isinstance(key, tuple) and len(key) == 2:
            j, k = key
            out = self
            if j is not None:
                if isinstance(j, Column):
                    out = out.filter(j)
                elif isinstance(j, slice):
                    lo = 1 if j.start is None else j.start
                    hi = out.nrow() if j.stop is None else j.stop
                    out = out.row_range(lo, hi)
                elif isinstance(j, int):
                    out = out.rows([j])
                else:
                    out = out.rows(j)
            if k is not None:
                out = out.select(k)
            return out
        if isinstance(key, (list, range)):
            return self.rows(key)
        raise TypeError(f"unsupported index {key!r}")

    def __setitem__(self, key, value):  # M6 parity (R/lazy.frame.R:121-124)
        raise TypeError(READ_ONLY_MSG)

    # ------------------------------------------------------------------ #
    # column metadata (M1 parity)
    # ------------------------------------------------------------------ #

    def column_attr(self, col: str | int, which: str | None = None):
        names = self._resolve_cols(col)
        if len(names) != 1:
            raise KeyError(f"no such column: {col!r}")
        return self._attrs.get(names[0], which)

    def set_column_attr(self, col: str | int, which: str, value: Any) -> "LazyFrame":
        names = self._resolve_cols(col)
        if len(names) != 1:
            raise KeyError(f"no such column: {col!r}")
        self._attrs.set(names[0], which, value)
        return self

    def decode_factors(self) -> "LazyFrame":
        """Spark-side factor decode: every column carrying a ``levels``
        attribute maps its 1-based integer codes to level strings IN
        THE PLAN (``element_at`` over a literal level array — pure
        codegen, works at any scale), instead of waiting for the pandas
        materialization boundary. The distributed analogue of the
        reference applying factor levels on extraction
        (``R/lazy.frame.R:167-178``, ``man/column_attr.Rd:43-63``);
        out-of-range codes decode to NULL, matching R's behavior for
        invalid factor codes. The decoded columns drop their levels
        attr (they ARE the levels now)."""
        from pyspark.sql.types import NumericType

        # decode is TYPE-dependent (the NumericType gate below reads the
        # current schema), so unlike filter/select it cannot be replayed
        # blindly on a full-inference swap — settle any pending verify
        # first instead of recording deferred lineage
        self._ensure_verified()
        df = self._df
        attrs = self._attrs.copy()
        for c, a in list(attrs.items()):
            levels = a.get("levels")
            if levels and c in df.columns:
                # value-typed (string) categoricals are handled at the
                # pandas boundary by metadata.ColumnAttrs; the 1-based
                # integer-code decode only applies to numeric columns —
                # casting a string-valued factor to int would null every
                # row, so skip exactly where the boundary's dtype branch
                # would
                if not isinstance(df.schema[c].dataType, NumericType):
                    continue
                arr = F.array(*[F.lit(str(lv)) for lv in levels])
                code = F.col(c).cast("int")
                df = df.withColumn(
                    c,
                    F.when(
                        (code >= 1) & (code <= len(levels)),
                        F.element_at(arr, code),
                    ),
                )
                attrs.delete(c, "levels")
        return LazyFrame(df, attrs, self._order_by)

    # ------------------------------------------------------------------ #
    # materialization & introspection
    # ------------------------------------------------------------------ #

    def to_df(self, with_row_id: bool = False) -> DataFrame:
        """The underlying (lazy) DataFrame, data columns only by default."""
        self._ensure_verified()
        if with_row_id:
            return self._with_ids()
        return self._df.drop(*self._INTERNAL)

    def to_pandas(self):
        """Materialize via Arrow; re-apply column attributes here — the
        materialization boundary, exactly where the reference re-applies
        them (R/lazy.frame.R:167-178). A configured row-names column
        becomes the pandas index (R row.names semantics)."""
        # the __row_name__ branch below reads self._df directly, so the
        # verify hook must run HERE too — otherwise a row_names= open
        # whose first data access is to_pandas() would skip the
        # sample-schema check every other read path gets
        self._ensure_verified()
        if "__row_name__" in self._df.columns:
            pdf = self._df.drop(ROW_ID).toPandas().set_index("__row_name__")
            pdf.index.name = None
        else:
            pdf = self.to_df().toPandas()
        return self._attrs.apply_to_pandas(pdf)

    def collect(self):
        return self.to_df().collect()

    def show(self, n: int = 6, truncate: bool = True) -> None:
        """print parity (R/lazy.frame.R:252-261)."""
        total = self.nrow()
        self.to_df().show(n, truncate=truncate)
        if total > n:
            print(f"({total - n} more rows not displayed)")

    def describe_str(self) -> str:
        """str parity (R/lazy.frame.R:246-250)."""
        fields = ", ".join(f"{f.name}:{f.dataType.simpleString()}" for f in self.schema)
        return f"LazyFrame [{self.nrow()} x {self.ncol()}] ({fields})"

    def summary(self) -> DataFrame:
        """The reference warns 'Not yet supported' (R/lazy.frame.R:115-119);
        here it is a distributed aggregate for free. (Dotted column names
        are aliased around Spark's StatFunctions quoting bug and restored
        in the output.)"""
        cols = self.columns
        safe = [c.replace(".", "__dot__") for c in cols]
        out = self.to_df().toDF(*safe).summary()
        return out.toDF("summary", *cols)

    @property
    def schema(self):
        """Column names and types. PROVISIONAL before the first
        materialization of a verified sample-infer CSV open: the types
        come from the head-sample inference, and the deferred
        verification (``_ensure_verified``, triggered at
        ``to_pandas``/``collect``/count) swaps in a full-inference
        reopen IF the sample lied — a column the sample saw as int can
        widen to double/string once the full file is read. Parquet
        opens and already-materialized frames report settled types.
        This is the documented trade for job-free schema peeks (a
        purist stable-schema caller can force settlement with
        ``nrow()`` first)."""
        return self.to_df().schema

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode=mode)

    def register(self, path: str, order_by: Sequence[str] | None = None) -> "LazyFrame":
        """Persist with materialized row ids to Parquet — makes positional
        numbering repeatable across sessions (the reference's same-file ⇒
        same-numbering contract) and gets row-group pruning on
        ``__row_id__`` predicates for free.

        Column attributes are embedded as ``StructField.metadata`` (Spark
        stores it in the parquet footer and restores it on read), so the
        attribute store survives sessions — stronger than the reference,
        whose attrs live only in the in-memory handle
        (``R/lazy.frame.R:17-35``)."""
        tmp = LazyFrame(self._df, self._attrs, order_by or self._order_by)
        df = tmp._with_ids()
        for col, attrs in self._attrs.items():
            if attrs and col in df.columns:
                df = df.withMetadata(col, {"lazy_frame_attrs": attrs})
        df.write.mode("overwrite").parquet(path)
        tmp.close()  # the registered parquet supersedes the in-memory cache
        spark = df.sparkSession
        back = spark.read.parquet(path)
        attrs = self._attrs.copy()
        for f in back.schema.fields:
            stored = f.metadata.get("lazy_frame_attrs")
            if stored:
                for k, v in stored.items():
                    attrs.set(f.name, k, v)
        return LazyFrame(back, attrs, self._order_by)

    @classmethod
    def open_registered(cls, spark: SparkSession, path: str) -> "LazyFrame":
        """Re-open a registered frame: persisted ids + stored column attrs."""
        df = spark.read.parquet(path)
        attrs = ColumnAttrs()
        for f in df.schema.fields:
            stored = f.metadata.get("lazy_frame_attrs")
            if stored:
                for k, v in stored.items():
                    attrs.set(f.name, k, v)
        return cls(df, attrs)


def _infer_format(path: str) -> str:
    p = path.lower()
    if p.endswith(".gz"):
        p = p[: -len(".gz")]
    for ext, fmt in ((".csv", "csv"), (".tsv", "csv"), (".txt", "csv"),
                     (".parquet", "parquet"), (".json", "json"), (".orc", "orc")):
        if p.endswith(ext):
            return fmt
    return "parquet" if "." not in p.rsplit("/", 1)[-1] else "csv"
