"""Parquet sink/source helpers — the engine's registered (indexed) form.

The reference is strictly read-only (``R/lazy.frame.R:121-124``); sinks are
a capability its users got by materializing to R and writing from there.
Here writing is first-class and scale-aware: partitioned parquet with
optional bucketing for co-located joins (bucket both sides of a hot join
key once, join shuffle-free forever after).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

#: default size of the files a compaction or rewrite packs rows into
TARGET_FILE_MB = 128


def n_files(nbytes: int, target_mb: float = TARGET_FILE_MB) -> int:
    """Files ``nbytes`` fill at ``target_mb`` per file (at least one)."""
    return max(1, math.ceil(nbytes / (target_mb * 1024 * 1024)))


def _partition_columns(path: str) -> list[str]:
    """Detect a hive partition layout on disk: nested ``name=value``
    directory levels under ``path`` (pure listdir walk, no data read).
    Returns the partition column names outermost-first, [] when flat."""
    import os

    cols: list[str] = []
    cur = path
    while True:
        try:
            subdirs = [
                d for d in os.listdir(cur)
                if "=" in d and os.path.isdir(os.path.join(cur, d))
            ]
        except OSError:
            break
        if not subdirs:
            break
        cols.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])
    return cols


class _SimulatedCrash(BaseException):
    """Test-only stand-in for a hard process kill. Derives from
    BaseException ON PURPOSE: the ``except Exception`` rollback in
    ``_swap_in_place`` must NOT catch it — a real SIGKILL runs no
    rollback code either — so crash-injection tests exercise the exact
    on-disk states a kill leaves behind."""


def _journal_path(final: str) -> str:
    return final + ".__commit__"


def _write_journal(
    table_final: str, swaps: list[dict], cleanup: list[str] | None = None
) -> None:
    """Atomically publish a commit journal NEXT TO the table directory
    (not inside it — readers of the parquet dir never see it). The
    journal lists every pending directory swap ({final, tmp, backup}),
    so recovery after any kill is deterministic. Written only AFTER
    every tmp directory is fully written."""
    import json
    import os

    tmp = _journal_path(table_final) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"swaps": swaps, "cleanup": cleanup or []}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _journal_path(table_final))  # atomic publish


def _resolve_swap(sw: dict) -> None:
    """Roll one journaled swap forward (or back when the tmp is gone).
    Idempotent — safe to re-enter after a crash during recovery."""
    import os
    import shutil

    final, dest, backup = sw["final"], sw["tmp"], sw["backup"]
    if os.path.exists(dest):
        # tmp intact -> roll forward (it was complete before the journal
        # existed); re-do whichever renames the kill skipped
        if os.path.exists(final) and not os.path.exists(backup):
            os.makedirs(os.path.dirname(backup), exist_ok=True)
            os.rename(final, backup)
        if not os.path.exists(final):
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.rename(dest, final)
    elif not os.path.exists(final) and os.path.exists(backup):
        os.rename(backup, final)  # tmp vanished mid-promote: roll back
    shutil.rmtree(backup, ignore_errors=True)


def _refresh(spark: SparkSession, path: str) -> None:
    """Invalidate Spark's session file-status cache for a swapped table.
    The in-place swaps replace files under an unchanged root; the
    session's FileStatusCache (default TTL: forever) can otherwise hand
    a LATER read the pre-swap listing, which fails mid-scan with
    FAILED_READ_FILE.FILE_NOT_EXIST once the old files are gone."""
    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass  # best-effort: a plain re-list still works on cold caches


def recover_table(path: str) -> bool:
    """Complete or roll back an interrupted in-place swap (whole-table
    or partition-scoped), making the table at ``path`` readable again
    after a hard kill at ANY point of the commit. Idempotent. Returns
    True when a journal was found and resolved.

    Invariant the journal buys: it is written only AFTER every tmp
    directory is fully written, so whenever a tmp still exists its swap
    ROLLS FORWARD (promote the new data); the original is only restored
    when the new data is gone. Single-filesystem contract — object
    stores without atomic rename need a real table format
    (Iceberg/Delta) instead."""
    import json
    import os
    import shutil

    final = path.rstrip("/")
    jp = _journal_path(final)
    if not os.path.exists(jp):
        return False
    with open(jp, encoding="utf-8") as f:
        j = json.load(f)
    for sw in j["swaps"]:
        _resolve_swap(sw)
    os.remove(jp)
    for d in j.get("cleanup", []):
        shutil.rmtree(d, ignore_errors=True)
    return True


def _swap_in_place(
    final: str, dest: str, old_suffix: str, _crash: str | None = None
) -> None:
    """Journaled two-rename swap shared by compact_parquet and
    merge_upsert: publish a commit journal, move the live table aside,
    promote the freshly written sibling, drop journal then backup. A
    soft error while promoting rolls back in-process; a HARD KILL at
    any point leaves the journal behind and ``recover_table`` (run
    automatically by ``read_parquet`` / ``compact_parquet`` /
    ``merge_upsert``) restores a readable table — this closes the
    crash-between-renames window a manifest-less format otherwise has.

    ``_crash`` is test-only: raise ``_SimulatedCrash`` at the named
    point ('after_journal' | 'between_renames' | 'before_cleanup') so
    crash-injection tests reproduce each kill state exactly."""
    import os
    import shutil

    backup = final + old_suffix
    shutil.rmtree(backup, ignore_errors=True)
    _write_journal(final, [{"final": final, "tmp": dest, "backup": backup}])
    if _crash == "after_journal":
        raise _SimulatedCrash(_crash)
    os.rename(final, backup)
    if _crash == "between_renames":
        raise _SimulatedCrash(_crash)
    try:
        os.rename(dest, final)
    except Exception:
        os.rename(backup, final)  # roll back: original table intact
        os.remove(_journal_path(final))
        raise
    if _crash == "before_cleanup":
        raise _SimulatedCrash(_crash)
    os.remove(_journal_path(final))
    shutil.rmtree(backup, ignore_errors=True)


# The characters Spark escapes in hive partition path segments on
# non-Windows platforms — ASCII control chars 0x01-0x1F plus the listed
# specials — each written as %XX (uppercase hex). Behavioral spec:
# org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
# .escapePathName (Apache Spark, public source); reimplemented here so
# directory-name reconstruction matches what Spark's writers produce.
_PATH_ESCAPE_CHARS = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + ['"', "#", "%", "'", "*", "/", ":", "=", "?", "\\", "\x7f", "{", "[", "]", "^"]
)
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_partition_value(value) -> str:
    """The exact directory-name segment Spark writes for a partition
    value: NULL and the empty string become __HIVE_DEFAULT_PARTITION__;
    every character in Spark's escape set becomes %XX. Mirrors
    ExternalCatalogUtils.getPartitionValueString so os.path lookups on
    reconstructed ``col=value`` names agree with what partitionBy()
    actually wrote — including values containing '%', ':', '#', '/',
    control characters, etc."""
    if value is None:
        return _HIVE_DEFAULT_PARTITION
    s = str(value)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS else ch for ch in s
    )


def _leaf_partition_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of the ``name=value`` directories exactly
    ``depth`` levels under ``root`` (pure listdir walk)."""
    import os

    rels = [""]
    for _ in range(depth):
        nxt = []
        for rel in rels:
            d = os.path.join(root, rel) if rel else root
            for name in os.listdir(d):
                if "=" in name and os.path.isdir(os.path.join(d, name)):
                    nxt.append(os.path.join(rel, name) if rel else name)
        rels = nxt
    return rels


def _swap_partitions(
    final: str, dest: str, pdirs: list[str], _crash: str | None = None
) -> None:
    """Journaled promotion of SELECTED partition directories: each
    ``<pdir>`` under ``dest`` replaces (or creates) ``final/<pdir>``;
    untouched partitions are never listed, never moved, never at risk.
    Backups live OUTSIDE the table root (``<final>__backup/<pdir>``) so
    a crash window can't pollute partition discovery with ``col=v__old``
    phantom partitions. One journal covers the whole batch; a kill at
    any point (including between partition swaps — ``_crash=
    'mid_swaps'`` simulates it) is rolled FORWARD by recover_table,
    because every tmp dir was complete before the journal existed."""
    import os
    import shutil

    backup_root = final + "__backup"
    shutil.rmtree(backup_root, ignore_errors=True)
    os.makedirs(backup_root, exist_ok=True)
    swaps = [
        {
            "final": os.path.join(final, p),
            "tmp": os.path.join(dest, p),
            "backup": os.path.join(backup_root, p),
        }
        for p in pdirs
    ]
    _write_journal(final, swaps, cleanup=[backup_root, dest])
    for i, sw in enumerate(swaps):
        if _crash == "mid_swaps" and i == len(swaps) // 2:
            raise _SimulatedCrash(_crash)
        _resolve_swap(sw)
    if _crash == "before_cleanup":
        raise _SimulatedCrash(_crash)
    os.remove(_journal_path(final))
    shutil.rmtree(backup_root, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table: joins/aggregations on the bucket
    key skip the shuffle entirely (Catalyst sees the bucketing and plans a
    shuffle-free sort-merge join).

    Overwrite is made safe across sessions: the default in-memory catalog
    dies with the session but the warehouse directory does not, so a fresh
    session's ``saveAsTable(mode="overwrite")`` hits LOCATION_ALREADY_EXISTS
    on a location its catalog has never heard of. Drop the table if
    registered, then clear any orphaned location under the warehouse dir."""
    spark = df.sparkSession
    if mode == "overwrite" and "." not in table:
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if wh:
            import re
            import shutil

            loc = re.sub("^/+", "/", wh[5:]) if wh.startswith("file:") else wh
            shutil.rmtree(f"{loc.rstrip('/')}/{table.lower()}", ignore_errors=True)
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table, format="parquet")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    recover_table(path)  # heal any interrupted swap before reading
    return spark.read.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = TARGET_FILE_MB,
    out_path: str | None = None,
) -> "DataFrame":
    """Small-file compaction — the maintenance pass every long-lived
    100 TB table needs: streaming ingest and per-partition writes leave
    thousands of KB-sized files whose per-file open/footer/task overhead
    eventually dominates scans. Rewrite the table into files sized near
    ``target_mb`` (computed from the CURRENT on-disk byte size, a pure
    metadata sum — no data scan before the single rewrite pass).

    In-place compaction writes to a temp sibling then swaps, so a
    failure mid-rewrite never leaves the table truncated. Returns the
    compacted frame."""
    import os

    recover_table(path)
    df = spark.read.parquet(path)
    files = df.inputFiles()
    total = 0
    for uri in files:
        p = uri[7:] if uri.startswith("file://") else uri
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    n_out = n_files(total, target_mb)
    swap = out_path is None
    dest = f"{path.rstrip('/')}" + "__compact_tmp" if swap else out_path
    df.repartition(n_out).write.mode("overwrite").parquet(dest)
    if swap:
        final = path.rstrip("/")
        _swap_in_place(final, dest, "__compact_old")
        _refresh(spark, final)
        dest = final
    return spark.read.parquet(dest)


def delete_keys(
    spark: SparkSession,
    path: str,
    deletes: "DataFrame",
    key: str | list[str],
    scope_to_partitions: bool = False,
    null_safe_keys: bool = False,
) -> "DataFrame":
    """Hard-delete every target row whose key appears in ``deletes``
    (``DELETE FROM t WHERE key IN (SELECT key FROM d)`` — the
    right-to-erasure pass every stored corpus eventually needs). One
    anti-join; the delete side broadcasts when small. The rewrite
    promotes through the journaled swap, so a kill anywhere leaves a
    readable table.

    NULL key semantics: by default matching follows SQL ``IN`` — a
    delete row with a NULL key component matches NOTHING (the target
    row survives, silently). When the contract is erasure rather than
    SQL parity, pass ``null_safe_keys=True``: keys compare with
    ``<=>`` so NULL components match NULL values, and the post-delete
    cross-check sees them too.

    ``scope_to_partitions=True`` (same contract as ``merge_upsert``:
    partition columns must be a subset of the key) rewrites ONLY the
    partitions named by the delete rows — erasing one user from a
    date-partitioned 100 TB table touches that user's partitions, not
    the table. Returns the table re-read.

    Caller contract: ``deletes`` must NOT be a lazy derivation of the
    target table itself — the post-swap erasure cross-check re-executes
    its plan after the old files are gone (FAILED_READ_FILE). Stage such
    a frame first (see ``IVFPQIndex.delete_ids`` for the pattern)."""
    from pyspark.sql import functions as F

    recover_table(path)
    keys = [key] if isinstance(key, str) else list(key)
    final = path.rstrip("/")
    part_cols = _partition_columns(final)
    target = spark.read.parquet(path)
    dkeys = deletes.select(*keys).distinct()

    def _key_join(left: "DataFrame", how: str) -> "DataFrame":
        """Anti/semi join of ``left`` against the delete keys, honoring
        the null-matching mode."""
        if not null_safe_keys:
            return left.join(dkeys, on=keys, how=how)
        dk = dkeys
        for c in keys:
            dk = dk.withColumnRenamed(c, f"__dk_{c}__")
        cond = F.lit(True)
        for c in keys:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__dk_{c}__"))
        return left.join(dk, on=cond, how=how)

    if scope_to_partitions:
        if not part_cols:
            raise ValueError("scope_to_partitions requires a hive-partitioned target")
        if not set(part_cols) <= set(keys):
            raise ValueError(
                f"scope_to_partitions requires partition columns {part_cols} "
                f"to be a subset of the delete key {keys}"
            )
        import shutil

        touched = dkeys.select(*part_cols).distinct().collect()
        pred = None
        for r in touched:
            one = F.lit(True)
            for c in part_cols:
                # null-safe: a NULL partition value must select its
                # partition's rows — plain == never matches NULL, which
                # would rewrite the __HIVE_DEFAULT_PARTITION__ dir to
                # EMPTY (over-deleting every surviving row in it)
                one = one & F.col(c).eqNullSafe(F.lit(r[c]))
            pred = one if pred is None else (pred | one)
        if pred is None:  # empty delete set: nothing to do
            return target
        remaining = _key_join(target.filter(pred), "left_anti")
        dest = final + "__delete_tmp"
        shutil.rmtree(dest, ignore_errors=True)
        remaining.write.mode("overwrite").partitionBy(*part_cols).parquet(dest)
        # a partition whose EVERY row was deleted produces no dir in
        # dest — swap in an empty dir so the old data goes away. Dir
        # names are reconstructed with Spark's own path escaping
        # (_escape_partition_value), so values containing '%', ':',
        # '#', '/', spaces-with-specials, or NULL resolve to the real
        # DIRECTORY. Note dir resolution is separate from row MATCHING:
        # NULL key components only match rows under null_safe_keys=True
        # (default follows SQL IN semantics — see docstring).
        import os

        written = set(_leaf_partition_dirs(dest, len(part_cols)))
        expect = set()
        for r in touched:
            rel = os.path.join(
                *[f"{c}={_escape_partition_value(r[c])}" for c in part_cols]
            )
            if os.path.isdir(os.path.join(final, rel)):
                expect.add(rel)
        for rel in expect - written:
            os.makedirs(os.path.join(dest, rel), exist_ok=True)
        _swap_partitions(final, dest, sorted(written | (expect - written)))
        _refresh(spark, final)
        # right-to-erasure cross-check: re-read ONLY the touched
        # partitions (partition pruning keeps this scoped) and assert
        # no deleted key survived — catches any residual divergence
        # between our reconstruction and Spark's writer (exotic types)
        # rather than silently keeping rows the caller asked to erase.
        reread = spark.read.parquet(final)
        survivors = (
            _key_join(reread.filter(pred), "left_semi").limit(1).count()
        )
        if survivors:
            raise RuntimeError(
                "delete_keys(scope_to_partitions=True): deleted keys "
                "survived the partition swap — partition-dir "
                "reconstruction diverged from Spark's writer for these "
                f"values (partition columns {part_cols}); re-run with "
                "scope_to_partitions=False to force a full rewrite"
            )
        return reread

    remaining = _key_join(target, "left_anti")
    dest = final + "__delete_tmp"
    w = remaining.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(dest)
    _swap_in_place(final, dest, "__delete_old")
    _refresh(spark, final)
    return spark.read.parquet(final)


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_mb: int = TARGET_FILE_MB,
    min_files: int = 4,
) -> "DataFrame":
    """Partition-scoped small-file compaction: rewrite ONLY the hive
    partitions whose file count exceeds both ``min_files`` and the
    byte-optimal count for ``target_mb`` files — the maintenance pass a
    streaming-ingested partitioned table needs, without touching the
    (vast majority of) healthy partitions. Untouched directories are
    never read, never rewritten, never at risk; the touched set
    promotes through the same journaled batch swap as the scoped MERGE
    (kill-anywhere recovery included).

    Candidate selection is a pure listdir/stat walk (no data jobs);
    each rewrite is one pruned read + coalesce + write per touched
    partition. Returns the table re-read."""
    import os
    import shutil

    recover_table(path)
    final = path.rstrip("/")
    part_cols = _partition_columns(final)
    if not part_cols:
        raise ValueError("compact_partitions requires a hive-partitioned table")
    touched = []
    for rel in _leaf_partition_dirs(final, len(part_cols)):
        d = os.path.join(final, rel)
        files = [
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        total = sum(os.path.getsize(f) for f in files)
        n_opt = n_files(total, target_mb)
        if len(files) > max(min_files, n_opt):
            touched.append((rel, n_opt))
    if not touched:
        return spark.read.parquet(final)
    dest = final + "__compact_tmp"
    shutil.rmtree(dest, ignore_errors=True)
    for rel, n_opt in touched:
        df = spark.read.parquet(os.path.join(final, rel))
        df.coalesce(n_opt).write.mode("overwrite").parquet(os.path.join(dest, rel))
    _swap_partitions(final, dest, [rel for rel, _ in touched])
    _refresh(spark, final)
    return spark.read.parquet(final)


def merge_upsert(
    spark: "SparkSession",
    path: str,
    updates: "DataFrame",
    key: str | list[str],
    scope_to_partitions: bool = False,
) -> "DataFrame":
    """Batch MERGE (SCD type 1) into a parquet table without a table
    format: matched keys take the update row, unmatched target rows
    survive, unmatched update rows insert — i.e.
    ``MERGE INTO t USING u ON key WHEN MATCHED THEN UPDATE *
    WHEN NOT MATCHED THEN INSERT *``, emulated exactly as a left-anti
    join (target minus updated keys) unioned with the updates.

    Contract guards: ``updates`` must be key-unique — like real
    MERGE INTO, multiple source matches per key raise (there is no
    ordering in a batch frame to pick a "latest" from). A hive
    partition layout on the target is detected from the directory
    names and REPLAYED on the rewrite, so partition pruning survives
    the merge.

    The rewrite goes through the shared journaled temp-sibling swap
    (``_swap_in_place``): an error while promoting rolls back to the
    original table, and a hard kill at any point leaves a commit
    journal that ``recover_table`` (run automatically on the next
    read/compact/merge) resolves. One shuffle (the anti-join on
    the key; the update side broadcasts when small). For
    ``scope_to_partitions=True`` is the 100 TB lever: when the hive
    partition columns are a SUBSET of the merge key (so a matched
    target row provably lives in the same partition as its update row),
    only the partitions present in ``updates`` are read, anti-joined,
    rewritten and atomically swapped — a 3-row update against a
    10k-partition table touches 1 directory, and partition pruning
    keeps the scan proportional to the update, not the table. Requires
    the subset condition (raises otherwise — with partition-mobile keys
    a matched row could hide in any partition and the whole-table path
    is the only correct one). Returns the merged frame re-read from
    disk.
    """
    from pyspark.sql import functions as F

    recover_table(path)
    keys = [key] if isinstance(key, str) else list(key)
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c__"))
        .filter(F.col("__c__") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"updates frame has multiple rows for key {dict(zip(keys, [dup[0][k] for k in keys]))}; "
            "MERGE requires a key-unique source"
        )
    part_cols = _partition_columns(path.rstrip("/"))
    final = path.rstrip("/")
    target = spark.read.parquet(path)

    if scope_to_partitions:
        if not part_cols:
            raise ValueError(
                "scope_to_partitions requires a hive-partitioned target"
            )
        if not set(part_cols) <= set(keys):
            raise ValueError(
                f"scope_to_partitions requires partition columns {part_cols} "
                f"to be a subset of the merge key {keys}: with partition-"
                "mobile keys a matched row can live in any partition"
            )
        import os

        # affected partitions, from the update side only — bounded by
        # the number of partitions the update touches
        touched = updates.select(*part_cols).distinct().collect()
        if not touched:  # empty update set: MERGE is a no-op
            return target
        pred = None
        for r in touched:
            one = F.lit(True)
            for c in part_cols:
                # null-safe: an update row with a NULL partition value
                # must pull the __HIVE_DEFAULT_PARTITION__ rows into the
                # rewrite — plain == misses them, and the swap would
                # then replace that dir with ONLY the update rows,
                # silently dropping every existing row in it
                one = one & F.col(c).eqNullSafe(F.lit(r[c]))
            pred = one if pred is None else (pred | one)
        # partition pruning: the disjunction of partition-column
        # equalities prunes the scan to the touched directories
        scoped = target.filter(pred)
        merged = scoped.join(
            updates.select(*keys), on=keys, how="left_anti"
        ).unionByName(updates)
        dest = final + "__merge_tmp"
        import shutil

        shutil.rmtree(dest, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy(*part_cols).parquet(dest)
        # the written partition dirs ARE the affected set (merged holds
        # only touched partitions) — take Spark's own directory names,
        # escaping included
        pdirs = _leaf_partition_dirs(dest, len(part_cols))
        _swap_partitions(final, dest, pdirs)
        _refresh(spark, final)
        return spark.read.parquet(final)

    merged = target.join(updates.select(*keys), on=keys, how="left_anti").unionByName(
        updates
    )
    dest = final + "__merge_tmp"
    w = merged.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(dest)
    _swap_in_place(final, dest, "__merge_old")
    _refresh(spark, final)
    return spark.read.parquet(final)
