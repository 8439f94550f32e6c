"""Versioned parquet tables with time travel — the manifest-per-commit
(Iceberg/Delta-style) layout a 100 TB training pipeline needs for
REPRODUCIBILITY: "train run X read corpus version 7" must stay
re-readable after later appends, deletes, and compactions.

The reference engine is a read-only viewer (R/lazy.frame.R:121-124);
versioning completes its users' workflow on the write side the same way
the journaled sink (sources/parquet.py) does for in-place mutation —
but where the journal buys CRASH-ATOMICITY for one table state, the
manifest log buys HISTORY: every committed state stays addressable.

Layout::

    table/
      data/00000001/part-*.parquet     -- immutable once referenced
      data/00000002/part-*.parquet
      _manifests/00000001.json         -- {version, action, files, ...}
      _manifests/00000002.json

Design rules, and why they hold at 100 TB:

- **Files are immutable and carried BY REFERENCE.** An append commit
  lists the parent's files plus the new data directory's; a restore
  commit lists an old version's files verbatim. Appending 1 GB to a
  100 TB table writes 1 GB + a manifest; restoring yesterday's state
  writes ONLY a manifest (zero data movement).
- **Delete is copy-on-write at FILE grain, pruned by the scan.** One
  filtered pass (parquet predicate pushdown prunes row groups for
  free) collects `input_file_name()`s that actually contain matches;
  only those files are rewritten without their matching rows, every
  other file carries over untouched. DELETE of one user's rows from a
  100 TB table costs a pushdown-pruned scan plus a rewrite of the few
  files they appear in. SQL DELETE semantics: rows where the predicate
  is NULL are KEPT.
- **Commits are atomic and ordered.** The data directory is fully
  written under a dot-prefixed temp name, renamed into place, and only
  THEN is the manifest published via hard-link-from-temp — creation of
  `_manifests/{n}.json` is the commit point, and `os.link` fails if a
  concurrent writer took the number first (single-winner). A crash
  before the link leaves an orphan temp dir that no manifest
  references — invisible to readers, reclaimed by `vacuum_versioned`.
- **Losers rebase optimistically** (Delta/Iceberg's concurrency
  model): a blind APPEND commutes with any winner, so it re-validates
  against the winner's committed state (schema, constraints, DV list)
  and re-attempts parent+1 automatically — concurrent ingest never
  coordinates and never loses a batch. Maintenance REWRITES
  (compact / cluster) rebase over winners whose chain is ADDITIVE
  (append/alter) by carrying the winners' files alongside the
  rewrite; a winner that removed or rewrote data invalidated their
  read-set, so they raise ``VersionConflict`` for a clean re-run.
  Read-set-dependent writers (merge / CDC apply) rebase only under
  the one proof they can still make — the winner's new files are
  key-DISJOINT from the source by commit-time bounds (Delta's
  ConcurrentAppendException waiver); delete never rebases. Anything
  unprovable surfaces.
- **Row counts ride the manifest for free**: summed from parquet
  footer metadata (no scan), so `history()` answers "how big was
  version k" as a pure metadata read — the same trick as
  rowid.parquet_footer_stats.

Readers address a version's exact file list (Spark parallelizes per
file/row-group regardless of how the list was produced), so time travel
costs nothing over a plain scan.

Filesystem contract: the DEFAULT commit point relies on POSIX
``link(2)`` (atomic create-if-absent) and ``rename(2)`` — correct on
local disks, NFS, and HDFS-style stores. Object stores without atomic
create-if-absent (e.g. plain S3) need the same thing Iceberg/Delta
need there: a catalog or lock service arbitrating the version-number
claim — install one via ``set_publish_arbiter`` (the single pluggable
point in the protocol; the manifest format is unchanged and every
other write is a uniquely-named immutable file). This mirrors the
journaled sink's assumptions (sources/parquet.py).
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lazy_frame_spark.pins import pin_scope
from lazy_frame_spark.plans.parallel import estimated_bytes
from lazy_frame_spark.rowid import _bisect_bucket_expr
from lazy_frame_spark.sources import filestats
from lazy_frame_spark.sources.parquet import TARGET_FILE_MB, n_files

__all__ = [
    "VersionConflict",
    "write_versioned",
    "append_versioned",
    "merge_versioned",
    "apply_cdc",
    "versioned_stream_cdc",
    "delete_versioned",
    "purge_dvs",
    "add_constraint",
    "drop_constraint",
    "evolve_schema",
    "table_constraints",
    "revalidate_constraints",
    "version_as_of",
    "restore_versioned",
    "compact_versioned",
    "cluster_versioned",
    "cluster_increment",
    "read_versioned",
    "skipping_summary",
    "metadata_aggregate",
    "metadata_count_where",
    "build_ndv",
    "metadata_ndv",
    "replicate_versioned",
    "relay_changes",
    "truncate_changes",
    "build_blooms",
    "history",
    "table_detail",
    "latest_version",
    "vacuum_versioned",
    "appended_since",
    "diff_versions",
    "table_changes",
    "versioned_stream_writer",
    "versioned_stream_merger",
    "last_stream_batch",
    "last_txn_version",
    "set_publish_arbiter",
    "default_publish_arbiter",
]


class VersionConflict(RuntimeError):
    """Another writer committed this version number first; re-read the
    latest manifest and retry the commit on the new parent."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _versions(path: str) -> list[int]:
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def latest_version(path: str) -> int | None:
    """Newest committed version number, or None for a non-table path."""
    vs = _versions(path)
    return vs[-1] if vs else None


#: above this many files a commit offloads its file list from the JSON
#: manifest into a columnar MANIFEST-LIST parquet (Iceberg's move): a
#: 10M-entry list is ~600 MB of JSON the driver would re-parse on every
#: read, vs a 1-2 s pyarrow columnar load — and the distributed prune
#: path can scan it as a DataFrame without the driver ever
#: materializing it. Module attribute: tests lower it to force the path.
_MANIFEST_PARQUET_THRESHOLD = 50_000

#: reconstituted manifest-list cache — manifests are immutable once
#: published, so (path, version) is a sound key; bounded small
_MANIFEST_LIST_CACHE: dict = {}
_MANIFEST_LIST_CACHE_MAX = 32


def _read_manifest_meta(path: str, version: int) -> dict:
    """The manifest WITHOUT reconstituting an offloaded file list —
    for metadata-only consumers (history, chain walks, stream/relay
    state, AS-OF resolution): on a 10M-file table each reconstitution
    is a parquet load, and a history walk touches every version.
    ``files`` may be empty here when ``files_parquet`` is set; use
    ``files_count`` for sizes and ``_read_manifest`` for the list."""
    mf = os.path.join(_manifest_dir(path), f"{version:08d}.json")
    with open(mf) as f:
        return json.load(f)


def _read_manifest(path: str, version: int) -> dict:
    doc = _read_manifest_meta(path, version)
    rel = doc.get("files_parquet")
    if rel and not doc.get("files"):
        key = (path, version)
        files = _MANIFEST_LIST_CACHE.get(key)
        if files is None:
            import pyarrow.parquet as pq

            files = pq.read_table(
                os.path.join(_manifest_dir(path), rel)
            )["file"].to_pylist()
            while len(_MANIFEST_LIST_CACHE) >= _MANIFEST_LIST_CACHE_MAX:
                _MANIFEST_LIST_CACHE.pop(
                    next(iter(_MANIFEST_LIST_CACHE)))
            _MANIFEST_LIST_CACHE[key] = files
        doc["files"] = list(files)
    return doc


def default_publish_arbiter(path: str, version: int, doc: dict) -> None:
    """Atomic single-winner commit: hard-link a fully written temp file
    to the manifest name. link(2) fails with EEXIST if a concurrent
    writer committed the same number — the loser must rebase."""
    d = _manifest_dir(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(d, f"{version:08d}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise VersionConflict(
            f"version {version} of {path} was committed concurrently"
        ) from None
    finally:
        os.remove(tmp)


#: the installed commit arbiter — the ONE pluggable point in the commit
#: protocol (everything else is plain writes of uniquely-named files)
_PUBLISH_ARBITER = default_publish_arbiter


def set_publish_arbiter(fn=None) -> None:
    """Install a custom commit arbiter for stores WITHOUT atomic
    create-if-absent (plain S3-class object stores) — the same thing
    Iceberg and Delta require there (a catalog, a DynamoDB conditional
    put, a lock service). Everything else in the format is crash-safe
    on any store: data dirs are uniquely named per attempt, manifests
    are immutable once published, and unpublished debris is vacuumed.

    Arbiter contract — ``fn(path, version, doc)`` must:

    - atomically create the manifest for ``version`` IFF no writer has
      claimed that number, and make it readable at
      ``<path>/_manifests/{version:08d}.json`` (readers list that dir);
    - raise ``VersionConflict`` when the number is already claimed —
      callers catch it, re-read the new latest version, and rebase;
    - never partially publish: either the claim wins and the manifest
      is fully visible, or nothing is.

    ``set_publish_arbiter(None)`` restores the default POSIX
    ``link(2)`` arbiter. The hook is process-global (one arbiter per
    catalog, like Delta's LogStore)."""
    global _PUBLISH_ARBITER
    _PUBLISH_ARBITER = fn if fn is not None else default_publish_arbiter


def _publish(path: str, version: int, doc: dict) -> None:
    _PUBLISH_ARBITER(path, version, doc)


#: bounded optimistic-concurrency retries: each loser re-reads the new
#: latest manifest and re-attempts parent+1; livelock would need this
#: many conflicting writers landing in the same instant, repeatedly
_MAX_COMMIT_RETRIES = 5


def _txn_applied(path: str, as_of: int | None, extra: dict | None,
                 txn: tuple | None = None) -> tuple[dict | None, bool]:
    """``(extra, applied)``: ``txn=(app_id, txn_version)`` folded into
    ``extra`` (Delta's transaction identifiers — the commit records the
    pair), and whether the pair ``extra`` carries is at or below the
    app's mark as of version ``as_of`` — an already-applied replay, or
    a racing twin whose commit won. Anchored on the exact parent the
    commit would extend, the check has no window: a same-app commit
    either sits in that chain already or lands at parent+1, which loses
    this attempt its race, and ``_commit_with_rebase`` re-checks on the
    winner's chain. The txn pair is the ONE exactly-once mark — stream
    sinks ride it as ``("stream:<id>", batch_id)``."""
    if txn is not None:
        extra = {**(extra or {}), "txn_app": txn[0],
                 "txn_version": int(txn[1])}
    if (as_of is None or not extra or extra.get("txn_app") is None
            or extra.get("txn_version") is None):
        return extra, False
    last = last_txn_version(path, extra["txn_app"], version=as_of)
    return extra, last is not None and last >= int(extra["txn_version"])


def _commit_with_rebase(path: str, parent: int | None, prev: dict | None,
                        attempt: tuple, rebase) -> int:
    """The one optimistic commit loop (snapshot, append, compact/cluster,
    merge/CDC and ``evolve_schema``): a commit either lands, rebases, or
    raises ``VersionConflict``, and is never lost or applied twice. The
    other writers commit with a bare ``_commit`` and raise
    ``VersionConflict`` on any lost race: every ``delete_versioned``
    strategy, ``purge_dvs``, the metadata alters (``add_constraint``,
    ``drop_constraint``, ``rename_column``, ``drop_column``),
    ``restore_versioned`` and ``clone_versioned``'s table creation.
    ``attempt`` is ``_commit``'s
    ``(action, files, schema_json, extra, dvs)`` built on ``parent``
    (manifest ``prev``; None for a table-creating attempt). On a lost
    race the loop re-reads the latest version: when the winner's chain
    already carries this commit's txn (a racing twin, a replayed job)
    it returns the winner's version — committing again would
    double-apply. Otherwise the verb's rule ``rebase(parent, prev,
    winner_version, winner)`` returns the next attempt on the winner,
    None when the winner already holds this commit's effect (its
    version is returned), or raises ``VersionConflict`` when the two do
    not commute. A lost attempt's data directory is referenced by no
    manifest and is reclaimed by ``vacuum_versioned``."""
    for _ in range(_MAX_COMMIT_RETRIES):
        action, files, schema_json, extra, dvs = attempt
        try:
            return _commit(path, action, files, schema_json, parent, extra,
                           dvs=dvs)
        except VersionConflict:
            pass  # outside the handler: a rule's error chains to nothing
        new_parent = latest_version(path)
        if _txn_applied(path, new_parent, extra)[1]:
            return new_parent
        winner = _read_manifest(path, new_parent)
        attempt = rebase(parent, prev, new_parent, winner)
        if attempt is None:
            return new_parent
        parent, prev = new_parent, winner
    raise VersionConflict(
        f"{attempt[0]} of {path}: exceeded {_MAX_COMMIT_RETRIES} rebase "
        "attempts under sustained concurrent writes"
    )


def _chain_is_additive(path: str, since: int, until: int) -> bool:
    """True when every commit in (since, until] only ADDED files or
    metadata (``append`` / ``alter``) — the winner set a rebasing
    loser can commute with. Anything that removed, rewrote or masked
    data (delete/overwrite/merge/restore/cluster/compact/purge)
    invalidates a concurrent writer's read-set."""
    for v in range(since + 1, until + 1):
        if _read_manifest_meta(path, v).get("action") not in ("append",
                                                              "alter"):
            return False
    return True


def _commit_rewrite_with_rebase(
    path: str, action: str, parent: int, prev: dict,
    replaced: list[str], new_files: list[str],
    extra: dict | None = None, dvs: list[str] | None = None,
) -> int:
    """Commit a maintenance REWRITE (compact / cluster) that replaced
    ``replaced`` ⊆ the read snapshot's files with ``new_files``,
    auto-rebasing over concurrent winners whose chain is ADDITIVE:
    OPTIMIZE must not lose the ingest that landed while it ran (and
    must not make ingest wait for it). The rebased file list is the
    winner's list minus ``replaced`` plus ``new_files`` — the winner's
    appended files ride along untouched. A non-additive winner
    (delete/merge/...) invalidated the rewrite's read-set: the loser
    raises ``VersionConflict`` and the caller re-runs on fresh state."""
    replaced_set = set(replaced)

    def attempt_on(man: dict) -> tuple:
        return (action, [f for f in man["files"] if f not in replaced_set]
                + new_files, man["schema"], extra, dvs)

    def rebase(since, _before, v, winner):
        if not _chain_is_additive(path, since, v):
            raise VersionConflict(
                f"{action} of {path} lost to a concurrent commit "
                "that rewrote or removed data — re-run on the new "
                "table state"
            )
        return attempt_on(winner)

    return _commit_with_rebase(path, parent, prev, attempt_on(prev), rebase)


def _commit_keyed_with_rebase(
    path: str, action: str, parent: int, prev: dict,
    files: list[str], extra: dict | None, src_where: list | None,
    spark: SparkSession | None = None,
    new_files: list[str] | None = None,
) -> int:
    """Commit a KEYED rewrite (merge / CDC apply) with the narrow
    commutation a read-set-dependent writer can still prove: a
    conflict is survivable only when the winner chain is ADDITIVE and
    the winner's new files PROVABLY contain no row matching the
    source's keys — decided from the winners' commit-time bounds
    sidecars against the source's key footprint (``src_where``), the
    same proof Delta demands before waiving its
    ConcurrentAppendException. Then the winner's files ride along and
    the commit re-attempts on the winner's schema (it may have
    evolved additively or widened; the rewrite's files read up/pad).
    A winner chain that ADDED a CHECK constraint (``alter`` is in the
    additive set) re-validates this commit's ``new_files`` against the
    added constraints before retrying — the commit's rows were
    validated against the PRE-rebase constraint set only, and skipping
    the re-check would be exactly the silent serializability hole this
    docstring promises never happens (``spark`` handed through by the
    callers for that read; without it a constraint change surfaces as
    ``VersionConflict`` instead). Anything unprovable surfaces as
    ``VersionConflict`` for a clean re-run."""
    def rebase(since, before, v, winner):
        nonlocal files
        if src_where is None or not _chain_is_additive(path, since, v):
            raise VersionConflict(
                f"{action} of {path} lost to a concurrent commit "
                "it cannot commute with — re-run on the new table "
                "state"
            )
        before_cons = before.get("constraints") or {}
        added_cons = {k: c for k, c in
                      (winner.get("constraints") or {}).items()
                      if before_cons.get(k) != c}
        if added_cons:
            if spark is None:
                raise VersionConflict(
                    f"{action} of {path}: a concurrent commit "
                    f"added CHECK constraint(s) "
                    f"{sorted(added_cons)} this commit was not "
                    "validated against — re-run on the new table "
                    "state"
                )
            if new_files:
                # winner's committed schema: pads columns the
                # rebased files lack as NULL (NULL passes CHECK)
                # and up-casts narrow pre-widening files
                batch = spark.read.schema(
                    _committed_schema(winner)).parquet(
                    *[os.path.join(path, rel) for rel in new_files])
                _validate_constraints(
                    batch, added_cons,
                    f"{action} (rebased over concurrent "
                    f"add_constraint)")
        before_set = set(before["files"])
        winner_new = [f for f in winner["files"] if f not in before_set]
        # src_where == [] is the EMPTY footprint (a zero-row batch):
        # it provably matches no row anywhere, so every additive
        # winner is disjoint by definition — distinct from None,
        # which means "footprint unknown" and already raised above
        not_disjoint = (
            [] if not src_where
            else filestats.prune_files(path, winner_new, src_where))
        if not_disjoint:
            raise VersionConflict(
                f"{action} of {path}: a concurrent append may "
                f"contain rows matching the source keys "
                f"({len(not_disjoint)} file(s) not provably "
                "disjoint by commit-time bounds) — re-run on the "
                "new table state"
            )
        files = files + winner_new
        return action, files, winner["schema"], extra, None

    return _commit_with_rebase(path, parent, prev,
                               (action, files, prev["schema"], extra, None),
                               rebase)


#: keyed-maintenance batches whose validation probe counted at most
#: this many rows get an explicit broadcast hint on their distinct-key
#: side (distinct keys ≤ batch rows, and key tuples are narrow), so
#: the discovery semi-join and the write's anti/semi joins never plan
#: an exchange of the TABLE side at all — instead of shuffling first
#: and hoping AQE's runtime rewrite converts the join. 2M key tuples
#: is tens of MB framed, far under the broadcast caps; bulk backfill
#: batches above the gate keep the planner's estimate-driven choice.
#: Unmeasured guess. A batch on ``_key_probe``'s local route has a key
#: side within the broadcast threshold by its gate, so this row cap
#: decides only on the Spark probe's route (float or collated keys, an
#: unknown or oversized estimate).
_KEYS_BCAST_MAX_ROWS = 2_000_000


def _touched_files(spark: SparkSession, path: str, prev: dict, match,
                   files: list[str] | None = None,
                   pin=None):
    """``(touched, hits)``: the distinct origin files of the VISIBLE
    rows ``match`` keeps (DV-applied: a tombstoned row can't mark its
    file touched) and those rows — pinned with the caller's ``pin``
    (a ``pin_scope``) only for a caller that re-reads them, else the
    cache build is pure overhead."""
    hits = match(_read_snapshot(spark, path, prev, files=files,
                                _with_position=True))
    if pin is not None:
        hits = pin(hits)
    return {r[0] for r in hits.select("__file__").distinct().collect()}, hits


def _rewrite_stats(touched, carried, new_files, **counters) -> dict:
    """The stats record of every file-grain rewrite commit (keyed or
    copy-on-write delete), plus the verb's own counters."""
    return {"files_rewritten": len(touched), "files_carried": len(carried),
            "files_written": len(new_files), **counters}


def _write_data_dir(df: DataFrame, path: str, version: int,
                    mapping: dict | None = None) -> list[str]:
    """Write df's rows as one immutable data directory, one file per
    non-empty partition of ``df`` (no exchange is added: a rewrite of
    touched files keeps the partitions its plan gives them); returns the new
    parquet files' table-relative paths. The directory appears under
    its final name only when complete (write to dot-temp, one rename),
    so readers/vacuum never see a partial directory. ``mapping`` is
    the table's logical→physical column mapping: batches arrive with
    LOGICAL names and every data file stores PHYSICAL names, so files
    written before and after a ``rename_column`` are interchangeable.

    The final name carries a per-ATTEMPT uuid suffix, not just the
    version number: two attempts at the same version (a crashed commit
    retried, or a concurrent loser) can then never collide at the
    rename — without it, a crash between this rename and the manifest
    publish left a final-named orphan that made every retry of that
    version fail os.replace with ENOTEMPTY, bricking the table. An
    orphan attempt dir is referenced by no manifest and is reclaimed
    by vacuum_versioned."""
    if mapping:
        df = _to_physical(df, mapping)
    rel_final = os.path.join(
        "data", f"{version:08d}-{uuid.uuid4().hex[:8]}"
    )
    tmp = os.path.join(path, "data", f".tmp-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(tmp)
    final = os.path.join(path, rel_final)
    os.replace(tmp, final)
    try:
        # data-skipping sidecar (filestats.py): per-file column bounds
        # from the new footers only — best-effort; readers keep every
        # file of a directory with no sidecar, so a failure here costs
        # pruning, never correctness
        filestats.write_dir_stats(final)
    except Exception:
        pass
    return sorted(
        os.path.join(rel_final, name)
        for name in os.listdir(final)
        if name.endswith(".parquet")
    )


def _footer_rows(path: str, rel_files: list[str]) -> int | None:
    """Total row count from commit metadata only — no Spark job.
    Sidecar-first: the ``_stats.json`` each data directory already
    carries records every file's footer row count, so the usual cost
    is ONE JSON read per directory instead of one parquet footer open
    per file (O(dirs), not O(files), on the driver — a 100k-file
    commit stops paying 100k footer opens twice per commit). Files a
    sidecar doesn't know (DV dirs, pre-stats directories) fall back to
    their own footers; any unreadable file degrades the whole count to
    None, exactly as before."""
    by_dir: dict[str, list[str]] = {}
    for rel in rel_files:
        d, base = os.path.split(rel)
        by_dir.setdefault(d, []).append(base)
    n = 0
    misses: list[str] = []
    for d, names in by_dir.items():
        stats = filestats.load_dir_stats(os.path.join(path, d)) or {}
        for base in names:
            rows = (stats.get(base) or {}).get("rows")
            if isinstance(rows, int):
                n += rows
            else:
                misses.append(os.path.join(d, base))
    if misses:
        try:
            import pyarrow.parquet as pq
        except Exception:
            return None
        for rel in misses:
            try:
                n += pq.ParquetFile(
                    os.path.join(path, rel)).metadata.num_rows
            except Exception:
                return None
    return n


def _commit(
    path: str,
    action: str,
    files: list[str],
    schema_json: str,
    parent: int | None,
    extra: dict | None = None,
    dvs: list[str] | None = None,
) -> int:
    """``dvs`` — the commit's deletion-vector file list (merge-on-read
    deletes, see ``delete_versioned(strategy="merge-on-read")``).
    ``None`` INHERITS the parent's LIVE DVs — those still masking a
    file of ``files`` (``_live_dvs``): this default is a correctness
    invariant, not a convenience — any commit path that forgot to
    carry the DVs (append, merge, compaction...) would silently
    RESURRECT merge-on-read-deleted rows. A DV whose target files this
    commit replaced masks nothing any more and is retired here; older
    manifests keep listing it, so time travel and vacuum stay exact.
    Only a commit that provably supersedes them passes an explicit list
    (a fresh snapshot, a purge, a full rewrite)."""
    version = (parent or 0) + 1
    if extra and extra.get("txn_app") is not None \
            and extra.get("txn_version") is not None:
        # Delta-parity monotonicity contract, enforced at the choke
        # point: per app, txn_version must strictly increase along the
        # commit chain. Every shipped caller checks _txn_applied first
        # and never trips this; the guard is what makes "walk
        # newest-first, stop at the app's first manifest" in
        # last_txn_version an INVARIANT rather than a convention — a
        # bypassing caller that commits an out-of-order txn would
        # otherwise silently regress the idempotence mark and let a
        # very late replay double-apply.
        last = last_txn_version(path, extra["txn_app"], version=parent)
        if last is not None and int(extra["txn_version"]) <= last:
            raise ValueError(
                f"commit to {path}: txn_version "
                f"{extra['txn_version']} for app "
                f"{extra['txn_app']!r} is not above the app's current "
                f"mark {last} — per-app transaction versions must "
                "strictly increase (an already-applied replay should "
                "no-op via the idempotence check, never re-commit)"
            )
    # meta read: inheritance needs dv_files/constraints/files_parquet
    # only — never the parent's (possibly offloaded) file LIST
    parent_man = _read_manifest_meta(path, parent) if parent else {}
    if dvs is None:
        dvs = _live_dvs(path, parent_man.get("dv_files"), files)
    # CHECK constraints are table state like DV lists: inherited by
    # every commit (a commit that dropped them would silently stop
    # enforcement) unless an alter commit rewrites them via extra
    constraints = parent_man.get("constraints")
    # the logical→physical column mapping is table state the same way
    # — EXCEPT for a fresh snapshot overwrite, whose files are written
    # under the new frame's own names (identity mapping); restore
    # passes the TARGET's mapping explicitly via extra
    col_mapping = (parent_man.get("column_mapping")
                   if action != "overwrite" else None)
    retired = (parent_man.get("retired_columns")
               if action != "overwrite" else None)
    doc = {
        "version": version,
        "action": action,
        "parent": parent,
        "files": sorted(files),
        "schema": schema_json,
        # physical footer rows of the referenced files; rows masked by
        # deletion vectors are still counted (the manifest is metadata-
        # only by design — subtracting would need a DV scan)
        "rows": _footer_rows(path, files),
        # wall-clock commit stamp (epoch seconds) — powers AS-OF
        # timestamp time travel (read_versioned(as_of=...)) and audit;
        # version NUMBERS stay the ordering authority (clock skew
        # between writers can't reorder history)
        "committed_at": time.time(),
    }
    if dvs:
        doc["dv_files"] = sorted(dvs)
    if constraints:
        doc["constraints"] = constraints
    if col_mapping:
        doc["column_mapping"] = col_mapping
    if retired:
        doc["retired_columns"] = retired
    if extra:
        doc.update(extra)
    if not doc.get("column_mapping"):
        doc.pop("column_mapping", None)  # identity: keep manifests lean
    if not doc.get("retired_columns"):
        doc.pop("retired_columns", None)
    if len(doc["files"]) > _MANIFEST_PARQUET_THRESHOLD:
        # offload the file list to a columnar manifest-list sidecar
        # BEFORE the manifest publish (the publish is the commit point
        # and references it). Per-attempt uuid in the name: a conflict
        # loser writing the same version number must never overwrite
        # the winner's published list — its orphan is vacuumed.
        # Each row also EMBEDS the file's stats record (copied from the
        # per-directory sidecars, carried forward from the parent's
        # list for files the commit didn't touch), so the distributed
        # prune reads ONE table instead of O(dirs) JSON sidecars and
        # the driver never materializes the list (Iceberg's
        # manifest-with-column-bounds move).
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = _manifest_dir(path)
        os.makedirs(d, exist_ok=True)
        rel = f"{version:08d}-files-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(
            pa.table({
                "file": doc["files"],
                "stats": _manifest_stats_column(
                    path, parent_man, doc["files"]),
            }),
            tmp,
        )
        os.replace(tmp, os.path.join(d, rel))
        doc["files_parquet"] = rel
        doc["files_count"] = len(doc["files"])
        doc["files"] = []
    _publish(path, version, doc)
    return version


def _manifest_stats_column(path: str, parent_man: dict,
                           files: list[str]) -> list:
    """Per-file stats (JSON strings, None when unknown) for an
    offloaded manifest list. Incremental in the steady state: files
    already in the PARENT's offloaded list reuse its embedded stats
    (one columnar read), only new directories pay a sidecar load —
    O(changed dirs) per commit, never O(files). Best-effort: a missing
    record keeps the file at prune time, costing pruning, never
    correctness."""
    seed: dict[str, str | None] = {}
    prel = parent_man.get("files_parquet") if parent_man else None
    if prel:
        try:
            import pyarrow.parquet as pq

            t = pq.read_table(os.path.join(_manifest_dir(path), prel))
            if "stats" in t.column_names:
                seed = dict(zip(t["file"].to_pylist(),
                                t["stats"].to_pylist()))
        except Exception:
            seed = {}
    out: list = []
    per_dir: dict[str, dict | None] = {}
    for rel in files:
        got = seed.get(rel)
        if got is not None:
            out.append(got)
            continue
        d, base = os.path.split(rel)
        if d not in per_dir:
            per_dir[d] = filestats.load_dir_stats(os.path.join(path, d))
        st = (per_dir[d] or {}).get(base)
        out.append(json.dumps(st) if st is not None else None)
    return out


def _check_constraints_resolve(
    spark, constraints: dict, schema: T.StructType, context: str,
) -> None:
    """CHECK constraints are inherited by every commit (``_commit``), so
    a commit that CHANGES the schema (overwrite / restore) must prove
    the inherited expressions still resolve — otherwise the table is
    bricked: every later ingest dies in ``_validate_constraints`` with
    an unresolved-column AnalysisException until drop_constraint. The
    probe is pure analysis over an empty frame (no job)."""
    if not constraints or spark is None:
        return
    empty = spark.createDataFrame([], schema)
    for name, expr in constraints.items():
        try:
            empty.filter(F.expr(expr))  # analysis is eager; no job runs
        except Exception:
            raise ValueError(
                f"{context}: inherited CHECK constraint {name!r} "
                f"({expr}) does not resolve against the new schema — "
                f"constraints are table state and survive every commit; "
                f"drop_constraint({name!r}) first, or keep the columns "
                "it references"
            ) from None


def write_versioned(df: DataFrame, path: str,
                    extra: dict | None = None,
                    txn: tuple[str, int] | None = None) -> int:
    """Commit df as a full snapshot (action ``overwrite``): version 1 on
    a fresh path, else a new version whose file list is ONLY the new
    data directory — prior versions stay readable, nothing is erased.
    Inherited CHECK constraints must still resolve against the new
    snapshot's schema (refused with a clear message otherwise).

    ``extra`` lands in the manifest — this is what lets a consumer
    stamp its state ON the snapshot commit itself (``relay_changes``'
    bootstrap, ``truncate_changes``' retention rewrite, the
    incremental views' init) so data + state are ONE atomic commit
    with no crash window between them. ``txn=(app_id, txn_version)``
    gives the snapshot the same per-app idempotence contract as
    ``append_versioned``: an already-applied replay — or a racing twin
    that lost the table-creation or overwrite race — returns the
    current version WITHOUT committing."""
    os.makedirs(path, exist_ok=True)
    parent = latest_version(path)
    extra, applied = _txn_applied(path, parent, extra, txn)
    if applied:
        return parent
    if parent is not None:
        cons = _read_manifest(path, parent).get("constraints") or {}
        _check_constraints_resolve(
            df.sparkSession, cons, df.schema, "write_versioned")
        _validate_constraints(df, cons, "write_versioned")
    files = _write_data_dir(df, path, (parent or 0) + 1)

    def never_commutes(*_):
        # a snapshot REPLACES table state, so unlike a blind append it
        # does not commute with an unknown winner — surface the race
        raise VersionConflict(
            f"overwrite of {path} lost to a concurrent commit — re-run "
            "on the new table state"
        )

    # a fresh snapshot references only its own files — no DVs apply
    return _commit_with_rebase(
        path, parent, None,
        ("overwrite", files, df.schema.json(), extra, []), never_commutes)


def _committed_schema(man_or_json) -> T.StructType:
    """The manifest's committed schema as a StructType — every
    maintenance read passes it explicitly so the scan NEVER resolves
    the table schema by sampling one footer: on a schema-evolved table
    (``append_versioned(merge_schema=True)``) a sampled footer from a
    pre-evolution file is missing the newer columns, and a rewrite
    based on it (delete/compact/cluster) would silently drop them."""
    j = man_or_json if isinstance(man_or_json, str) else man_or_json["schema"]
    return T.StructType.fromJson(json.loads(j))


def _col_mapping(man: dict) -> dict:
    """The manifest's logical→PHYSICAL column-name mapping (Delta's
    columnMapping 'name' mode): empty for every table that never ran
    ``rename_column``. Physical names are what parquet files and every
    per-file sidecar (stats/blooms/NDV) are keyed by — they are the
    column's stable identity; the logical name is presentation-layer
    manifest state, re-writable as a metadata-only ``alter`` commit.
    Reference parity: the frame facade's ``rename`` (op M2,
    R/lazy.frame.R:217-232) renames in-memory attributes; this is the
    same operation durable at the storage layer."""
    return man.get("column_mapping") or {}


def _phys_fields(man: dict) -> list:
    """The manifest's PHYSICAL field sequence ``[(slot, type), ...]``
    — the storage identity a rename never changes. Two versions with
    equal physical sequences differ at most by logical SPELLING, so
    row-level diffs between them are exact after a positional
    re-label; anything else (add/drop/widen) is real evolution."""
    m = _col_mapping(man)
    return [
        (m.get(f["name"], f["name"]),
         json.dumps(f["type"], sort_keys=True))
        for f in json.loads(man["schema"])["fields"]
    ]


def _slot_fields(man: dict) -> dict:
    """``{physical_slot: (logical_name, type_json)}`` for a manifest's
    live columns — the rename-invariant identity ``_phys_fields``
    sequences, keyed for evolution reconciliation."""
    m = _col_mapping(man)
    return {
        m.get(f["name"], f["name"]): (f["name"], f["type"])
        for f in json.loads(man["schema"])["fields"]
    }


def _additive_evolution(ma: dict, mb: dict) -> bool:
    """True when version b's schema is reachable from version a's by
    ADDITIVE evolution composed with renames: every physical slot live
    in a is still live in b with the same type or a lossless widening
    of it (``_widened_type`` — b carries the wider type), and b may
    hold extra slots (added columns). Drops, narrowings, and type
    rewrites are NOT additive — diffs across those must be reconciled
    explicitly. Slot identity makes this exact across any number of
    renames on either side."""
    sa, sb = _slot_fields(ma), _slot_fields(mb)
    for slot, (_, ta) in sa.items():
        if slot not in sb:
            return False
        tb = sb[slot][1]
        if ta != tb and _widened_type(ta, tb) != tb:
            return False
    return True


def _evolve_project(df: DataFrame, man_from: dict, man_to: dict) -> DataFrame:
    """Project a DataFrame holding ``man_from``'s logical content onto
    ``man_to``'s schema, by PHYSICAL SLOT identity: columns are
    re-labeled across renames, widened columns cast up (lossless by
    the ``_additive_evolution`` contract), and columns added after
    ``man_from`` NULL-filled — exactly what ``man_from``-epoch rows
    look like when read under ``man_to``'s committed schema (Delta
    CDF's rule for change feeds across add-column commits). A pure
    single Project over the input plan; call only after
    ``_additive_evolution(man_from, man_to)`` holds."""
    sf = _slot_fields(man_from)
    map_to = _col_mapping(man_to)
    to_schema = _committed_schema(man_to)
    cols = []
    for f in to_schema.fields:
        slot = map_to.get(f.name, f.name)
        if slot in sf:
            cols.append(F.col(sf[slot][0]).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    passthrough = [c for c in df.columns
                   if c not in {g[0] for g in sf.values()}]
    return df.select(*cols, *[F.col(c) for c in passthrough])


def _phys_name(mapping: dict, col: str) -> str:
    return mapping.get(col, col)


def _phys_where(mapping: dict, where):
    """Translate a prune conjunction's LOGICAL column names to the
    physical names the stats/bloom sidecars are keyed by."""
    if not mapping or where is None:
        return where
    return [(mapping.get(c, c), op, v) for c, op, v in where]


def _phys_schema(schema: T.StructType, mapping: dict) -> T.StructType:
    if not mapping:
        return schema
    return T.StructType([
        T.StructField(mapping.get(f.name, f.name), f.dataType,
                      f.nullable, f.metadata)
        for f in schema.fields
    ])


def _to_physical(df: DataFrame, mapping: dict) -> DataFrame:
    """Rename a LOGICAL-schema batch to physical names for writing —
    every data file always stores physical names, so old files keep
    reading across any number of renames."""
    if not mapping:
        return df
    return df.select(*[
        F.col(c).alias(mapping.get(c, c)) for c in df.columns
    ])


def _file_key(p):
    """A data file's identity as deletion vectors record it: ``data/``
    plus whatever follows the LAST ``/data/`` of the path. One rule for
    both spellings — a Spark ``Column`` (the parquet reader's
    ``_metadata.file_path`` URI, on the DV write and apply sides) and a
    ``str`` (a manifest's table-relative path, when DV target sets are
    matched in Python) — so the two can never disagree, whatever
    the table root or its percent-encoding looks like (data dirs are
    hex-named: ``/data/`` cannot recur below the root)."""
    if isinstance(p, str):
        return "data/" + ("/" + p).rsplit("/data/", 1)[-1]
    return F.concat(F.lit("data/"), F.substring_index(p, "/data/", -1))


def _rel_file_expr() -> F.Column:
    return _file_key(F.col("_metadata.file_path"))


#: the columns of every DV file, passed to the apply-side read so it
#: never runs a schema-inference job
_DV_SCHEMA = "__file__ string, __pos__ bigint"


@functools.lru_cache(maxsize=4096)
def _dv_targets_at(abs_path: str) -> frozenset:
    # DV files are immutable and uniquely named, so the path is a sound
    # key; a failed read raises and so is never cached
    import pyarrow.parquet as pq

    col = pq.read_table(abs_path, columns=["__file__"],
                        read_dictionary=["__file__"]).column(0)
    return frozenset(v for chunk in col.chunks
                     for v in chunk.dictionary.to_pylist())


def _dv_targets(path: str, rel: str) -> frozenset | None:
    """The file keys (``_file_key``) of the data files whose rows DV
    file ``rel`` masks — its dictionary-encoded ``__file__`` column,
    read once per process with pyarrow. ``None`` when unreadable: the
    caller must then treat the DV as masking every file."""
    try:
        return _dv_targets_at(os.path.join(path, rel))
    except Exception:
        return None


def _live_dvs(path: str, dvs, files) -> list[str]:
    """The DV files of ``dvs`` that mask a row of ``files`` (or whose
    target set is unreadable). A DV whose targets all left ``files`` —
    rewritten by a merge, CDC apply, CoW delete or compaction — masks
    nothing there: reads skip it and ``_commit`` retires it."""
    if not dvs:
        return []
    keys = {_file_key(f) for f in files}
    return [rel for rel in dvs
            if (t := _dv_targets(path, rel)) is None
            or not t.isdisjoint(keys)]


def _dv_masked(path: str, dvs, files) -> set[str]:
    """The files of ``files`` that some DV of ``dvs`` masks — all of
    them when a target set is unreadable. Collecting the DVs' distinct
    ``__file__`` values answers the same question with a Spark job."""
    targets = [_dv_targets(path, rel) for rel in dvs or ()]
    if any(t is None for t in targets):
        return set(files)
    masked = frozenset().union(*targets)
    return {f for f in files if _file_key(f) in masked}


def _read_snapshot(
    spark: SparkSession,
    path: str,
    man: dict,
    files: list[str] | None = None,
    where: list | None = None,
    _with_position: bool = False,
) -> DataFrame:
    """THE one way any code — user reads and maintenance rewrites
    alike — materializes a version's logical content: committed-schema
    scan of the manifest's files (optionally a subset / a
    skipping-pruned subset), minus the rows its deletion vectors mask
    (one anti-join on (file, row_index); the DV side is the deleted
    rows only, so AQE broadcasts it in practice). Only the DVs whose
    target sets meet the scanned files join (``_live_dvs``): a scan no
    DV touches is the plain committed-schema scan. Bypassing this and
    scanning raw files is how merge-on-read systems resurrect deleted
    rows — don't."""
    schema = _committed_schema(man)
    mapping = _col_mapping(man)
    # sidecars, file footers, and the residual filter all see PHYSICAL
    # names; the caller's conjunction arrives logical
    where = _phys_where(mapping, where)
    flist = list(man["files"]) if files is None else list(files)
    if where is not None:
        if files is None and not flist and man.get("files_parquet"):
            # OFFLOADED manifest handed through as a meta doc: prune
            # straight from the columnar list with its embedded stats —
            # the driver materializes only the (small) kept list, never
            # the full one
            flist = filestats.prune_manifest_spark(
                spark, path,
                os.path.join(_manifest_dir(path), man["files_parquet"]),
                where)
        else:
            # spark handed through: a >100k-file manifest prunes as a
            # distributed job instead of a driver loop (filestats)
            flist = filestats.prune_files(path, flist, where,
                                          spark=spark)
    if not flist:
        df = spark.createDataFrame([], schema)
        if _with_position:
            df = df.withColumn("__file__", F.lit(None).cast("string")) \
                   .withColumn("__pos__", F.lit(None).cast("bigint"))
        return df
    df = spark.read.schema(_phys_schema(schema, mapping)).parquet(
        *[os.path.join(path, rel) for rel in flist]
    )
    dv_files = _live_dvs(path, man.get("dv_files"), flist)
    if dv_files or _with_position:
        df = (
            df.withColumn("__file__", _rel_file_expr())
            .withColumn("__pos__", F.col("_metadata.row_index"))
        )
    if dv_files:
        dv = spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(path, rel) for rel in dv_files])
        df = df.join(dv, on=["__file__", "__pos__"], how="left_anti")
        if not _with_position:
            df = df.drop("__file__", "__pos__")
    if where is not None:
        df = df.filter(filestats.spark_filter(where))
    if mapping:
        # present the LOGICAL names — a pure Project over the scan, so
        # pushdown/pruning flow through it untouched
        phys_to_log = [(mapping.get(f.name, f.name), f.name)
                       for f in schema.fields]
        keep = (["__file__", "__pos__"]
                if _with_position and "__file__" in df.columns else [])
        df = df.select(*[F.col(p).alias(l) for p, l in phys_to_log],
                       *keep)
    return df


def _write_dv_dir(dv_rows: DataFrame, path: str, version: int) -> list[str]:
    """Persist one commit's deletion-vector rows
    ``(__file__ string, __pos__ long)`` as an immutable parquet
    directory under data/ (dv- prefixed), same dot-temp + rename
    protocol as data dirs — a crash leaves an orphan dir no manifest
    references."""
    rel_final = os.path.join(
        "data", f"{version:08d}-dv-{uuid.uuid4().hex[:8]}"
    )
    tmp = os.path.join(path, "data", f".tmp-{uuid.uuid4().hex}")
    dv_rows.select("__file__", "__pos__").write.mode("overwrite").parquet(tmp)
    final = os.path.join(path, rel_final)
    os.replace(tmp, final)
    return sorted(
        os.path.join(rel_final, name)
        for name in os.listdir(final)
        if name.endswith(".parquet")
    )


#: lossless widening lattice (schema-JSON type names): every promotion
#: here is one Spark 4's parquet readers perform natively on scan
#: (SPARK-40876), so NARROW files under a WIDE committed schema read
#: correctly with zero rewrite — Delta's type-widening feature
_WIDEN_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widened_type(a, b):
    """The wider of two schema-JSON primitive types when (a, b) is a
    lossless widening pair, else None. Only string-named primitives
    participate (complex types never widen)."""
    if not (isinstance(a, str) and isinstance(b, str)):
        return None
    if a == b:
        return a
    if a in _WIDEN_ORDER and b in _WIDEN_ORDER:
        return a if _WIDEN_ORDER[a] >= _WIDEN_ORDER[b] else b
    if {a, b} == {"float", "double"}:
        return "double"
    return None


def _merge_schemas(committed_json: str, batch_json: str) -> str:
    """Delta-style schema merge for
    ``append_versioned(merge_schema=True)``: batch-only columns are
    APPENDED to the committed schema as nullable (older files read
    them as NULL); committed columns the batch lacks become nullable
    too (the new files read them as NULL); an overlapping column may
    WIDEN losslessly (byte→short→int→long, float→double — the
    committed type becomes the wider one, and every file on either
    side keeps reading correctly because the scan always carries the
    committed schema and Spark's parquet readers upcast narrow
    physical types natively). Anything else — narrowing the TABLE is
    never needed (a narrow batch under a wide schema is just accepted,
    see ``_check_append_schema``), string↔numeric, drops, renames —
    is new-snapshot territory (``write_versioned``)."""
    cj = json.loads(committed_json)
    bj = json.loads(batch_json)
    by_name = {f["name"]: f for f in cj["fields"]}
    batch_by_name = {f["name"]: f for f in bj["fields"]}
    merged = []
    for f in cj["fields"]:
        g = dict(f)
        bf = batch_by_name.get(f["name"])
        if bf is None:
            g["nullable"] = True
        elif (json.dumps(f["type"], sort_keys=True)
              != json.dumps(bf["type"], sort_keys=True)):
            w = _widened_type(f["type"], bf["type"])
            if w is None:
                raise ValueError(
                    f"merge_schema: column {f['name']!r} changes type "
                    f"{f['type']!r} -> {bf['type']!r}, which is not a "
                    "lossless widening; incompatible type changes need "
                    "a new snapshot (write_versioned)"
                )
            g["type"] = w
        merged.append(g)
    for f in bj["fields"]:
        if f["name"] not in by_name:
            g = dict(f)
            g["nullable"] = True
            merged.append(g)
    return json.dumps({"type": "struct", "fields": merged})


def _pad_to_schema(df: DataFrame, schema_json: str) -> DataFrame:
    """Project ``df`` onto the committed schema for VALIDATION: columns
    the batch lacks become typed NULL literals (exactly what a reader
    of the new files will see), so CHECK expressions over committed
    columns resolve. The padded frame is never written — the data dir
    keeps the raw batch; ``read_versioned`` reconciles."""
    sch = _committed_schema(schema_json)
    have = set(df.columns)
    out = df
    for f in sch.fields:
        if f.name not in have:
            out = out.withColumn(
                f.name, F.lit(None).cast(f.dataType))
    return out


def _check_append_schema(df: DataFrame, schema_json: str) -> None:
    """Refuse a batch whose (name, dataType) set diverges from the
    committed schema: parquet append never validates, and a mismatched
    file list makes later reads resolve the table schema from whichever
    footer Spark samples — missing columns silently read as NULL (the
    same hazard IVFPQIndex.add refuses). Nullability may differ, and a
    batch column NARROWER than the committed type is accepted (its
    files read up to the committed type on scan — the widening
    lattice); a WIDER batch column must evolve the table explicitly
    via ``merge_schema=True``."""
    committed = {
        f["name"]: f["type"]
        for f in json.loads(schema_json)["fields"]
    }
    batch = {
        f["name"]: f["type"]
        for f in json.loads(df.schema.json())["fields"]
    }

    def compatible(name) -> bool:
        ct, bt = committed.get(name), batch.get(name)
        if name not in committed or name not in batch:
            return False
        if json.dumps(ct, sort_keys=True) == json.dumps(bt, sort_keys=True):
            return True
        # narrow batch under wide committed type: reads up natively
        return _widened_type(ct, bt) == ct
    names = set(committed) | set(batch)
    bad = sorted(n for n in names if not compatible(n))
    if bad:
        detail = [
            (n, committed.get(n, "<absent>"), batch.get(n, "<absent>"))
            for n in bad
        ]
        raise ValueError(
            "append_versioned: batch schema diverges from the committed "
            f"table schema — (column, committed, batch): {detail}; "
            "align the batch, widen via merge_schema=True, or commit a "
            "new snapshot with write_versioned"
        )


def _occupied_slots(prev: dict) -> set[str]:
    """Every physical column name this table has EVER used under the
    current chain: live columns' slots plus retired (dropped/renamed-
    away) slots recorded in the manifest. A new logical column may not
    write into any of them — old files still hold that storage, and a
    scan would resurrect stale values as the new column's data."""
    mapping = _col_mapping(prev)
    live = {f["name"] for f in json.loads(prev["schema"])["fields"]}
    return ({mapping.get(n, n) for n in live}
            | set(prev.get("retired_columns") or []))


def _check_rebase_mapping(path: str, prev: dict, schema_json: str,
                          assigned: dict, written_map: dict) -> None:
    """Slot-integrity gate for an append REBASING onto a concurrent
    winner (ADVICE r14): the batch's data dir is already on disk under
    the physical slots of the ORIGINAL parent (its own column names
    when it lost the table-creation race), and the winner may have
    moved the ground — a rename/drop winner makes a
    batch column (now "new" to ``_merge_schemas``) default to a slot
    that is the winner's live storage (two logical columns reading one
    physical slot) or a retired slot (resurrecting dropped data); a
    merge_schema winner that added the same logical column under its
    own fresh slot would have its mapping entry clobbered by the
    loser's carried ``assigned`` (the winner's data reads as NULL).
    All of these are silent-wrong-answer states, so each raises
    ``VersionConflict`` — the caller re-runs against the new state
    (the orphan data dir is vacuumable). Checks, in order:

    - **clobber**: ``assigned`` would override an entry the winner
      committed for the same logical column with a different slot;
    - **written-slot drift**: a batch column would no longer resolve
      to the exact physical slot its files were written under;
    - **aliasing**: two live logical columns of the merged schema
      would share one physical slot;
    - **retirement**: a live logical column would resolve to a slot
      the winner retired;
    - **fresh-slot collision**: a freshly assigned uuid slot is now
      occupied on the winner's chain (vanishingly rare by
      construction, kept as a backstop)."""
    prev_map = _col_mapping(prev)
    effective = {**prev_map, **assigned}
    fields = [f["name"] for f in json.loads(schema_json)["fields"]]
    phys = {name: effective.get(name, name) for name in fields}
    retired = set(prev.get("retired_columns") or [])
    clobber = sorted(
        k for k, v in assigned.items()
        if k in prev_map and prev_map[k] != v)
    drift = sorted(
        c for c, slot in written_map.items()
        if phys.get(c, effective.get(c, c)) != slot)
    by_slot: dict = {}
    for name, slot in phys.items():
        by_slot.setdefault(slot, []).append(name)
    aliased = sorted(
        tuple(v) for v in by_slot.values() if len(v) > 1)
    resurrect = sorted(
        name for name, slot in phys.items() if slot in retired)
    collide = sorted(set(assigned.values()) & _occupied_slots(prev))
    if clobber or drift or aliased or resurrect or collide:
        detail = {k: v for k, v in [
            ("mapping_clobber", clobber), ("written_slot_drift", drift),
            ("slot_aliasing", aliased), ("retired_slot", resurrect),
            ("fresh_slot_collision", collide)] if v}
        raise VersionConflict(
            f"append to {path}: a concurrent commit changed the "
            f"column-mapping ground this batch's already-written files "
            f"stand on ({detail}) — re-run the append against the new "
            "table state (the orphan data dir is vacuumable)"
        ) from None


def _assign_physical_slots(prev: dict, schema_json: str) -> dict:
    """Physical slots for columns NEW in ``schema_json`` vs the
    committed schema (additive evolution composing with column
    mapping): a fresh column normally writes under its own name, but
    when that name is an occupied slot — a renamed column's storage,
    or a DROPPED column's old data — it gets a fresh unique physical
    slot instead (Delta's field-id move, spelled with a name suffix).
    Old files lack the fresh slot and read the column as NULL, which
    is exactly the re-add-after-drop semantics: the recycled NAME is a
    new column, never a window onto the dropped one's stale values.
    Returns only the {logical: physical} ADDITIONS (empty when every
    new name is free)."""
    occupied = _occupied_slots(prev)
    old_names = {f["name"] for f in json.loads(prev["schema"])["fields"]}
    assigned: dict = {}
    for f in json.loads(schema_json)["fields"]:
        name = f["name"]
        if name in old_names:
            continue
        if name in occupied:
            slot = f"{name}__s{uuid.uuid4().hex[:6]}"
            while slot in occupied:
                slot = f"{name}__s{uuid.uuid4().hex[:6]}"
            assigned[name] = slot
            occupied.add(slot)
        else:
            occupied.add(name)
    return assigned


def append_versioned(df: DataFrame, path: str,
                     extra: dict | None = None,
                     merge_schema: bool = False,
                     txn: tuple[str, int] | None = None) -> int:
    """Commit df's rows on top of the latest version (action
    ``append``): writes one new data directory and carries every parent
    file by reference — O(batch) I/O regardless of table size.
    ``extra`` lands in the manifest (e.g. a stream batch id). The
    batch's (name, type) schema must match the committed schema —
    see ``_check_append_schema`` — unless ``merge_schema=True``, which
    accepts ADDITIVE evolution: new batch columns join the committed
    schema as nullable, and files on either side of the evolution read
    their missing columns as NULL (``read_versioned`` scans with the
    committed schema, never a sampled footer, so this is total — see
    ``_merge_schemas`` for the exact contract). A corpus that grows a
    ``quality_score`` or ``lang`` column mid-crawl evolves in place
    instead of rewriting 100 TB.

    ``txn=(app_id, txn_version)`` — Delta's transaction identifiers:
    the commit records the pair, and the append becomes IDEMPOTENT per
    app — if the table already carries ``txn_version >=`` this one for
    ``app_id`` (a replayed job, or a concurrent twin that won the
    race), the call returns the current version WITHOUT committing.
    The check runs before any write and again inside the
    optimistic-rebase loop, where the racing-twin case actually
    surfaces: the auto-rebase that makes blind appends coordination-
    free would otherwise happily commit the same logical work twice.
    Delta-parity contract: per app, ``txn_version`` is strictly
    MONOTONE along the commit chain — a replay at or below the current
    mark no-ops here, and ``_commit`` itself refuses an out-of-order
    txn so the mark can never regress (which is what keeps the
    newest-first O(1) walk in ``last_txn_version`` exact)."""
    parent = latest_version(path)
    extra, applied = _txn_applied(path, parent, extra, txn)
    if applied:
        # checked against the exact chain the commit would extend:
        # already-applied replays and racing twins return without
        # writing anything
        return parent

    def schema_on(man: dict) -> str:
        if merge_schema:
            return _merge_schemas(man["schema"], df.schema.json())
        _check_append_schema(df, man["schema"])
        return man["schema"]

    def extra_with(mapping: dict) -> dict | None:
        return ({**(extra or {}), "column_mapping": mapping}
                if assigned else extra)

    assigned: dict = {}
    if parent is None:
        # table creation: the batch writes under its own names, and a
        # lost creation race is an ordinary lost race — the rule below
        # lands these rows ON TOP of the winner's, reusing the data dir
        os.makedirs(path, exist_ok=True)
        new_files = _write_data_dir(df, path, 1)
        written_map = {c: c for c in df.columns}
        prev, first = None, ("overwrite", new_files, df.schema.json(),
                             extra, None)
    else:
        prev = _read_manifest(path, parent)
        schema_json = schema_on(prev)
        if merge_schema:
            # new columns get physical slots (fresh ones when the name
            # is occupied by a renamed/dropped column's storage) — fixed
            # HERE, before the write, and carried through any rebase
            assigned = _assign_physical_slots(prev, schema_json)
        mapping = {**_col_mapping(prev), **assigned}
        # validate against the batch AS IT WILL BE READ: a merge_schema
        # batch may legitimately omit a committed column (it reads as
        # NULL, which passes SQL CHECK) — pad it with typed NULLs so
        # F.expr resolves instead of dying on an unresolved column
        _validate_constraints(_pad_to_schema(df, schema_json),
                              prev.get("constraints") or {},
                              "append_versioned")
        new_files = _write_data_dir(df, path, parent + 1, mapping=mapping)
        # the exact physical slot each batch column's files were written
        # under — the ground truth every rebase must re-prove still holds
        written_map = {c: mapping.get(c, c) for c in df.columns}
        first = ("append", list(prev["files"]) + new_files, schema_json,
                 extra_with(mapping), None)

    def rebase(_since, _before, _v, winner):
        # a blind append commutes with ANY winner — its rows don't
        # depend on what it read — so the loser re-validates against
        # the winner's committed state (schema may have evolved,
        # constraints may have been added, the winner's DV list rides
        # in via _commit's inheritance). A rename/drop/merge_schema
        # winner may have moved the slot ground under the
        # already-written data dir: the whole mapping is re-proved.
        schema_json = schema_on(winner)
        _check_rebase_mapping(path, winner, schema_json, assigned,
                              written_map)
        _validate_constraints(_pad_to_schema(df, schema_json),
                              winner.get("constraints") or {},
                              "append_versioned(rebase)")
        return ("append", list(winner["files"]) + new_files, schema_json,
                extra_with({**_col_mapping(winner), **assigned}), None)

    return _commit_with_rebase(path, parent, prev, first, rebase)


_TXN_HW_FILE = "_txn_hw.json"


def last_txn_version(path: str, app: str,
                     version: int | None = None) -> int | None:
    """Delta-style transaction-identifier state (``txnAppId`` /
    ``txnVersion``): the newest ``txn_version`` committed by writer
    ``app`` as of ``version`` (default: latest), walked newest-first
    through commit parents — O(1) in the steady state where the latest
    commit is the app's own. None when the app never committed.

    The ``version`` anchor is what makes the idempotence check
    (``_txn_applied``) race-free: checked against the exact parent
    the commit will attempt on, any same-app commit either already
    sits in that chain (check catches it) or lands concurrently at
    parent+1 (the attempt then raises VersionConflict and the rebase
    loop re-checks on the new chain) — there is no window.

    A vacuum that dropped every manifest carrying the app's txn would
    silently reset the mark (a very late replay would then re-apply),
    so ``vacuum_versioned`` preserves each app's max in a
    ``_txn_hw.json`` sidecar, folded in here. Stream sinks' batch ids
    are txn pairs too, so this one sidecar keeps their marks as well."""
    best = None
    sidecar = os.path.join(path, _TXN_HW_FILE)
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            best = json.load(f).get(app)
    v = latest_version(path) if version is None else version
    while v is not None:
        try:
            man = _read_manifest_meta(path, v)
        except FileNotFoundError:
            break  # vacuumed tail: the sidecar carries its marks
        if man.get("txn_app") == app:
            t = man.get("txn_version")
            return t if best is None else max(t, best)
        v = man.get("parent")
    return best


def last_stream_batch(path: str, stream_id: str = "default") -> int | None:
    """Largest batch id committed for ``stream_id`` (the exactly-once
    mark), or None for a table that stream never wrote: the stream's
    txn pair ``("stream:<stream_id>", batch_id)``, read through
    ``last_txn_version`` (O(1) per micro-batch in the steady state,
    and kept across vacuum by its ``_txn_hw.json`` fold)."""
    return last_txn_version(path, f"stream:{stream_id}")


def versioned_stream_writer(path: str, stream_id: str = "default"):
    """foreachBatch sink committing each micro-batch as a versioned
    APPEND — exactly-once on top of at-least-once batch delivery: the
    commit carries the txn pair ``("stream:<stream_id>", batch_id)``,
    and a replayed batch (restart from an INTACT checkpoint re-delivers
    the last epoch) is SKIPPED by ``append_versioned``'s txn check,
    before any write, when its id is <= the stream's mark. A racing
    twin sharing the stream_id loses the commit race and returns; a
    crash between data-dir write and manifest publish leaves an orphan
    attempt dir and the replay re-commits cleanly.

    Checkpoint-LOSS contract (the Delta txn-appId shape): batch ids are
    only monotone per checkpoint. If the checkpoint is lost and the
    query restarts with a fresh one, Spark renumbers from 0 — under the
    SAME stream_id those early batches would wrongly skip (data loss,
    worse than duplicates). Start the replacement query with a NEW
    stream_id: everything re-ingests (at-least-once across the loss),
    and downstream dedups on content keys if needed. Every micro-batch
    stays individually time-travelable::

        q = (df.writeStream.foreachBatch(versioned_stream_writer(tbl))
               .option("checkpointLocation", ckpt).start())
    """
    return _stream_sink(
        path, stream_id, lambda batch_df, _batch_id, extra, txn:
        append_versioned(batch_df, path, extra=extra, txn=txn))


def _stream_sink(path: str, stream_id: str, commit):
    """foreachBatch shell of every versioned sink: ``commit(batch_df,
    batch_id, extra, txn)`` with the id riding the commit itself — as
    ``stream_id``/``stream_batch_id`` in the manifest (for ``history``)
    and as the txn pair ``("stream:<stream_id>", batch_id)``, the one
    exactly-once mark. The commit's own txn check skips a replayed
    batch before any write or scan (``append_versioned`` before its
    data-dir write, ``merge_versioned``/``apply_cdc`` in
    ``_keyed_parent`` before any job), and under a race the loser's
    commit finds the winner's pair and returns."""
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        commit(batch_df, batch_id,
               {"stream_batch_id": int(batch_id), "stream_id": stream_id},
               (f"stream:{stream_id}", int(batch_id)))

    return _write


def versioned_stream_merger(path: str, on: str | list[str],
                            stream_id: str = "default"):
    """foreachBatch sink committing each micro-batch as a keyed MERGE
    (``merge_versioned``) instead of a blind append — the streaming
    UPSERT: a CDC feed where later events supersede earlier rows by
    key lands as replace-or-insert, one copy-on-write commit per
    micro-batch. Exactly-once via the same (stream_id, batch_id) txn
    mark as ``versioned_stream_writer`` — and the merge
    itself is idempotent by key on top of that, so even the
    window between a published commit and a crashed checkpoint
    advance (where the batch REPLAYS and the id check alone decides)
    converges to the same table state. Duplicate keys WITHIN one
    micro-batch are refused by merge_versioned — aggregate to
    latest-per-key in the stream (e.g. a window/max_by) before the
    sink. Same single-writer-per-(table, stream_id) and
    checkpoint-loss contract as the append writer; with MERGE the
    checkpoint-loss story is actually benign for pure upsert feeds —
    re-ingesting old batches re-asserts rows already current."""
    keys = [on] if isinstance(on, str) else list(on)

    def _commit(batch_df: DataFrame, batch_id: int, extra, txn) -> None:
        if latest_version(path) is None:
            # first batch bootstraps the table (merge needs a parent) —
            # but it must honor the same keyed-upsert contract: a
            # duplicate key in the bootstrap batch would persist two
            # rows under a sink documented as replace-or-insert
            dup = (
                batch_df.dropna(subset=keys)
                .groupBy(*keys).agg(F.count(F.lit(1)).alias("__n__"))
                .filter(F.col("__n__") > 1).limit(1).collect()
            )
            if dup:
                raise ValueError(
                    f"versioned_stream_merger: batch {batch_id} has "
                    f"duplicate keys on {keys} — aggregate to "
                    "latest-per-key before the sink"
                )
            append_versioned(batch_df, path, extra=extra, txn=txn)
            return
        merge_versioned(batch_df.sparkSession, path, batch_df, keys,
                        extra=extra, txn=txn)

    return _stream_sink(path, stream_id, _commit)


def delete_versioned(
    spark: SparkSession, path: str, predicate: str,
    strategy: str = "rewrite",
) -> tuple[int, dict]:
    """DELETE WHERE ``predicate`` (a Spark SQL boolean expression) as a
    commit. NULL-predicate rows are KEPT (SQL DELETE semantics).
    Returns ``(version, stats)``.

    ``strategy="rewrite"`` (default) is copy-on-write at FILE grain:
    one pushdown-pruned scan finds the exact files containing matches,
    only those are rewritten without their matching rows, every other
    file carries by reference.

    ``strategy="merge-on-read"`` writes a DELETION VECTOR instead —
    the matching rows' (file, row_index) tombstones as one small
    parquet directory — and rewrites NOTHING: cost is O(matched rows),
    not O(touched files). Erasing a user's 1 000 rows from a 100 TB
    table under the rewrite strategy rewrites every 128 MB file any of
    them sits in; the DV commit writes kilobytes. A read applies the
    DVs that mask a file it scans via one (file, row_index) anti-join
    (``_read_snapshot`` — the DV side is only the deleted rows,
    broadcast in practice), and LIVE DVs ride every subsequent commit
    by inheritance so no maintenance path can resurrect rows. Rewrites
    absorb tombstones: any commit that replaces a DV'd file (merge,
    CDC apply, CoW delete, compaction, clustering) writes DV-applied
    data and retires the DVs left masking nothing, and ``purge_dvs``
    materializes all of them explicitly. Trade-off is the classic MoR
    one — reads of DV'd files pay the anti-join until a purge; pick
    per delete, mixing strategies on one table is fine."""
    if strategy not in ("rewrite", "merge-on-read"):
        raise ValueError(
            f"strategy must be 'rewrite' or 'merge-on-read', got {strategy!r}"
        )
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    files = list(prev["files"])
    version = parent + 1
    if not files:
        v = _commit(path, "delete", [], prev["schema"], parent,
                    {"predicate": predicate})
        return v, _rewrite_stats((), (), (), rows_deleted=0)

    pred = F.expr(predicate)

    if strategy == "merge-on-read":
        vis = _read_snapshot(spark, path, prev, _with_position=True)
        dv_new = vis.filter(pred).select("__file__", "__pos__")
        # ONE predicate scan: write the tombstones first and take the
        # count from the written files' parquet footers (no job) — the
        # old count-then-write shape scanned the table twice per MoR
        # delete. An empty result leaves a tiny orphan dir that the
        # no-op commit never references (vacuum reclaims it, same as
        # any crashed attempt).
        dv_files = _write_dv_dir(dv_new.coalesce(1), path, version)
        n_del = _footer_rows(path, dv_files) or 0
        if n_del == 0:
            v = _commit(path, "delete", files, prev["schema"], parent,
                        {"predicate": predicate, "strategy": strategy})
            return v, {"files_rewritten": 0, "files_carried": len(files),
                       "rows_deleted": 0, "dv_files_written": 0}
        v = _commit(
            path, "delete", files, prev["schema"], parent,
            {"predicate": predicate, "strategy": strategy},
            dvs=list(prev.get("dv_files", [])) + dv_files,
        )
        return v, {"files_rewritten": 0, "files_carried": len(files),
                   "rows_deleted": n_del,
                   "dv_files_written": len(dv_files)}

    # rewrite: exact file-grain pruning — the files holding visible
    # matching rows are the only files needing one
    touched, _ = _touched_files(spark, path, prev, lambda s: s.filter(pred))
    if not touched:
        v = _commit(path, "delete", files, prev["schema"], parent,
                    {"predicate": predicate})
        return v, _rewrite_stats((), files, (), rows_deleted=0)

    carried = [f for f in files if f not in touched]
    survivors = _read_snapshot(
        spark, path, prev, files=sorted(touched)
    ).filter(~F.coalesce(pred, F.lit(False)))
    new_files = _write_data_dir(survivors, path, version,
                                mapping=_col_mapping(prev))
    before = _footer_rows(path, sorted(touched))
    after = _footer_rows(path, new_files)
    v = _commit(
        path, "delete", carried + new_files, prev["schema"], parent,
        {"predicate": predicate},
    )
    # rows_deleted: physical rows removed from the rewritten files —
    # includes any previously tombstoned rows those files carried, since
    # the rewrite materializes their deletion vectors as a side effect
    return v, _rewrite_stats(
        touched, carried, new_files,
        rows_deleted=(before - after)
        if before is not None and after is not None else None)


def compact_versioned(
    spark: SparkSession,
    path: str,
    target_mb: int = TARGET_FILE_MB,
    small_mb: int = 8,
    where: list | None = None,
) -> tuple[int, dict]:
    """Small-file compaction as a COMMIT (action ``compact``): coalesce
    data files smaller than ``small_mb`` into ~``target_mb`` files in
    one new data directory; files already at a healthy size carry over
    by reference. Logically a no-op — same rows, same schema — so
    readers of any version see identical data, and time travel to
    pre-compaction versions still works (their manifests keep the old
    files, which vacuum respects). The 100 TB point: streaming/append
    ingestion accretes KB-sized files whose per-file open/footer/task
    overhead dominates scans; compaction is periodic maintenance, and
    doing it as a manifest commit makes it crash-safe and auditable for
    free.

    ``where`` (a ``prune_files`` conjunction, e.g. the current ingest
    partition ``[("day", "=", "2026-08-16")]``) SCOPES the candidate
    set: only small files whose stats sidecars say they can hold
    matching rows are rewritten — Delta's ``OPTIMIZE WHERE``. The
    rewrite itself still copies those files' rows COMPLETELY (the
    conjunction selects files, never rows — a compaction must stay a
    logical no-op), so scoping is purely a maintenance-cost lever: a
    hot-partition OPTIMIZE on a 100 TB table touches that partition's
    small files, not every small file ever written. Returns
    ``(version, stats)``."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    files = list(prev["files"])
    in_scope = set(
        filestats.prune_files(path, files,
                              _phys_where(_col_mapping(prev), where),
                              spark=spark)
        if where is not None else files)
    small, healthy = [], []
    for rel in files:
        if rel not in in_scope:
            healthy.append(rel)
            continue
        try:
            sz = os.path.getsize(os.path.join(path, rel))
        except OSError:
            sz = 0
        (small if sz < small_mb * 1024 * 1024 else healthy).append(rel)
    if len(small) < 2:
        # nothing to gain: zero or one small file coalesces to itself
        return parent, {"files_compacted": 0, "files_carried": len(files)}
    version = parent + 1
    # DV-applied read: compaction MATERIALIZES the compacted files'
    # tombstones for free, and the commit retires every DV left
    # masking none of the new version's files (_commit's inheritance)
    df = _read_snapshot(spark, path, prev, files=small)
    total = sum(os.path.getsize(os.path.join(path, rel)) for rel in small)
    n_out = n_files(total, target_mb)
    new_files = _write_data_dir(df.coalesce(n_out), path, version,
                                mapping=_col_mapping(prev))
    v = _commit_rewrite_with_rebase(path, "compact", parent, prev,
                                    replaced=small, new_files=new_files)
    return v, {"files_compacted": len(small),
               "files_carried": len(healthy),
               "files_written": len(new_files)}


def _numeric_view(df: DataFrame, c: str):
    """An order-preserving numeric rendering of a cluster column, or
    None for strings (which bucket by sampled cut-point comparison
    instead — no numeric total order exists that a double can carry).
    Temporal columns map through epoch numbers: TIMESTAMP casts to
    double directly; TIMESTAMP_NTZ goes through unix_micros under the
    engine's UTC session (tune_session pins UTC, so the wall-time →
    instant mapping is monotonic — no DST folds); DATE through
    unix_date. Without this, ``cluster_versioned(cols=["date_col"])``
    — the single most common corpus layout — failed the cast."""
    t = df.schema[c].dataType.simpleString()
    col = F.col(c)
    if t == "string":
        return None
    if t == "timestamp_ntz":
        return F.unix_micros(col.cast("timestamp")).cast("double")
    if t == "date":
        return F.unix_date(col).cast("double")
    if t == "boolean":
        return col.cast("int").cast("double")
    return col.cast("double")


def _string_cuts(df: DataFrame, c: str, nq: int,
                 sample_rows: int = 20_000) -> list[str]:
    """Equi-depth cut points for a STRING cluster column from a
    bounded deterministic sample: Spark string comparison is binary
    UTF-8 order, so ``Σ (col >= cut)`` is an order-preserving bucket
    id — the same skew-robust shape as the numeric quantile path,
    with sampled sorted values standing in for percentile_approx
    (which is numeric-only). Driver cost is capped at ``sample_rows``
    strings regardless of table size."""
    n = df.filter(F.col(c).isNotNull()).count()
    if n == 0:
        return []
    frac = min(1.0, sample_rows / max(n, 1))
    vals = sorted(
        r[0]
        for r in df.select(c).filter(F.col(c).isNotNull())
        .sample(False, frac, seed=42).collect()
    )
    if not vals:
        return []
    cuts = sorted({vals[int(len(vals) * i / nq)]
                   for i in range(1, nq)})
    return cuts


def _minmax_surrogates(
        df: DataFrame, cols: list[str], bits: int) -> tuple[dict, list]:
    """Legacy linear scaling of each column into [0, 2^bits) from its
    min/max — ONE aggregate, a 1-row driver scalar. Correct but
    skew-blind: one outlier stretches the domain so the dense mass
    collapses into a handful of buckets and the z-interval tightening
    silently degrades (the quantile path is the default for exactly
    this reason). Returns ``({}, surrogates)`` — same shape as the
    quantile builder; linear scaling has no staged columns."""
    span_max = (1 << bits) - 1
    aggs = []
    for c in cols:
        num = _numeric_view(df, c)
        if num is None:
            raise ValueError(
                f"cluster column {c!r} is a string — linear min/max "
                "scaling has no numeric view of it; use "
                "scaling='quantile' (the default), which buckets "
                "strings by sampled cut points"
            )
        aggs += [F.min(num).alias(f"__lo_{c}__"),
                 F.max(num).alias(f"__hi_{c}__")]
    bounds = df.agg(*aggs).collect()[0]
    surrogates = []
    for c in cols:
        lo = bounds[f"__lo_{c}__"]
        hi = bounds[f"__hi_{c}__"]
        num = _numeric_view(df, c)
        if lo is None or hi is None or hi <= lo:
            surrogates.append(F.lit(0).cast("bigint"))
        else:
            scaled = F.floor(
                (num - F.lit(float(lo)))
                * F.lit(float(span_max) / (hi - lo))
            ).cast("bigint")
            surrogates.append(
                F.coalesce(
                    F.least(F.greatest(scaled, F.lit(0)),
                            F.lit(span_max)),
                    F.lit(0),
                )
            )
    return {}, surrogates


def _quantile_surrogates(
        df: DataFrame, cols: list[str], bits: int) -> tuple[dict, list]:
    """Sampled-quantile bucketing (the Delta OPTIMIZE approach): each
    column maps to its equi-DEPTH bucket id, so buckets hold near-equal
    row counts regardless of value skew — an outlier gets its own top
    bucket instead of stretching everyone else's into bucket 0. One
    ``percentile_approx`` aggregate covers every column (1-row driver
    scalar, same cost class as the min/max pass); the per-row mapping
    is ``Σ (v >= b_i)`` over the sorted boundaries, evaluated as an
    O(log n) binary-search expression (``_bisect_bucket_expr`` — same
    bucket id for every input, 8 compares/row instead of 255). 256
    buckets per column bound the boundary count — resolution far above
    any real file count, and duplicate quantiles on heavy values
    dedupe away (ties share a bucket, which is the only honest
    answer).

    Returns ``(staging, surrogates)``: the numeric bucket expressions
    are built as ONE parsed SQL string over a STAGED numeric column
    (``staging`` maps name → numeric view) instead of hundreds of
    separate Column operations — the py4j round trips of per-boundary
    ``F.lit``/``>=``/``cast``/``+`` chatter dominated plan construction
    (measured ~2-3 s per cluster call at 255 cuts; one ``F.expr`` parse
    is milliseconds), and referencing the staged ATTRIBUTE also stops
    the cast-of-column subtree being copied into every comparison.
    Bucket ids — and therefore the layout — are unchanged."""
    nq = min(1 << bits, 256)
    probs = F.lit([i / nq for i in range(1, nq)])  # ONE array literal
    numeric = {c: _numeric_view(df, c) for c in cols}
    aggs = [
        F.percentile_approx(numeric[c], probs, 10_000).alias(f"__q_{c}__")
        for c in cols
        if numeric[c] is not None
    ]
    qrow = df.agg(*aggs).collect()[0] if aggs else None
    staging: dict = {}
    surrogates = []
    for i, c in enumerate(cols):
        if numeric[c] is None:
            # string column: sampled equi-depth cuts, compared in
            # Spark's binary UTF-8 string order (order-preserving).
            # Stays on the Column path — arbitrary string values do
            # not belong inside a parsed SQL string.
            scuts = _string_cuts(df, c, nq)
            if not scuts:
                surrogates.append(F.lit(0).cast("bigint"))
            else:
                bucket = sum(
                    ((F.col(c) >= F.lit(b)).cast("int") for b in scuts),
                    F.lit(0),
                )
                surrogates.append(
                    F.coalesce(bucket.cast("bigint"), F.lit(0)))
            continue
        cuts = sorted({float(x) for x in (qrow[f"__q_{c}__"] or [])
                       if x is not None})
        if not cuts:
            surrogates.append(F.lit(0).cast("bigint"))
        elif all(math.isfinite(b) for b in cuts):
            name = f"__zq{i}__"
            staging[name] = numeric[c]
            surrogates.append(
                F.coalesce(_bisect_bucket_expr(name, cuts)
                           .cast("bigint"), F.lit(0)))
        else:
            # non-finite boundary (NaN/inf in the data): keep the
            # Column-built sum — ±inf/NaN have no SQL literal spelling
            bucket = sum(
                ((numeric[c] >= F.lit(b)).cast("int") for b in cuts),
                F.lit(0),
            )
            surrogates.append(F.coalesce(bucket.cast("bigint"), F.lit(0)))
    return staging, surrogates


def _relayout(
    df: DataFrame,
    cols: list[str],
    bits: int,
    scaling: str,
    num_partitions: int | None,
) -> DataFrame:
    """Shared Z-order re-layout core for ``cluster_versioned`` and
    ``cluster_increment``: build per-column surrogates, stage them as
    NAMED columns, interleave, range-exchange. The staging matters —
    z_value references its input several times (the O(log bits)
    dilation stages), so passing a wide expression (the quantile
    path's flat comparison sum) inline duplicates it inside one tree
    and bloats the generated code; as attributes the tree stays flat
    and codegen shares the compute."""
    from lazy_frame_spark.operators.layout import zorder_layout

    if scaling not in ("quantile", "minmax"):
        raise ValueError(f"scaling must be 'quantile' or 'minmax', got {scaling!r}")
    surrogate_fn = (
        _quantile_surrogates if scaling == "quantile" else _minmax_surrogates
    )
    staging, surrogates = surrogate_fn(df, cols, bits)
    names = [f"__zs{i}__" for i in range(len(surrogates))]
    staged = df.withColumns(staging) if staging else df
    staged = staged.withColumns(dict(zip(names, surrogates)))
    return zorder_layout(staged, names, bits=bits,
                         num_partitions=num_partitions).drop(
                             *names, *staging.keys())


def cluster_versioned(
    spark: SparkSession,
    path: str,
    cols: list[str],
    num_partitions: int | None = None,
    bits: int = 16,
    scaling: str = "quantile",
) -> tuple[int, dict]:
    """Re-layout the CURRENT version Z-ordered on ``cols`` as a commit
    (action ``cluster``) — logically a no-op (same rows, same schema),
    physically the data-skipping win: each rewritten file covers a
    compact z-interval, so its parquet min/max stats are tight in EVERY
    clustered dimension and predicate pushdown prunes files/row-groups
    on any of them. Like compaction, doing it as a manifest commit
    makes the maintenance crash-safe, auditable, and time-travel-
    preserving (pre-cluster versions keep their old files until
    vacuumed). At 100 TB, cluster INCREMENTALLY: restrict to the
    recent unclustered tail via ``appended_since`` + append the
    re-laid-out increment, rather than rewriting the corpus. Returns
    ``(version, stats)``.

    z_value's caller contract (layout.py) wants non-negative ints that
    fit in ``bits`` — raw table columns (arbitrary magnitude, sign,
    dates) violate it silently. ``scaling`` picks the surrogate:
    ``"quantile"`` (default) buckets each column by sampled equi-depth
    quantiles so skewed columns still bucket EVENLY — on a column
    where 1% outliers stretch the domain 10^6×, linear scaling parks
    99% of rows in one z-cell and the tightening never happens
    (measured: tests/test_sources_sinks.py, skewed fixture);
    ``"minmax"`` keeps the legacy linear scale (marginally cheaper
    aggregate, fine for uniform domains)."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    if not prev["files"]:
        return parent, {"files_in": 0, "files_out": 0}
    df = _read_snapshot(spark, path, prev)  # DV-applied full rewrite
    out = _relayout(df, cols, bits, scaling, num_partitions)
    version = parent + 1
    new_files = _write_data_dir(out, path, version,
                                mapping=_col_mapping(prev))
    # every file was rewritten with tombstones applied — DVs are all
    # materialized, the new commit carries none (winner appends rebased
    # in by _commit_rewrite_with_rebase carry no DVs either: only
    # additive chains commute)
    v = _commit_rewrite_with_rebase(
        path, "cluster", parent, prev,
        replaced=list(prev["files"]), new_files=new_files,
        extra={"cluster_cols": list(cols), "cluster_scaling": scaling},
        dvs=[])
    return v, {"files_in": len(prev["files"]),
               "files_out": len(new_files)}


def cluster_increment(
    spark: SparkSession,
    path: str,
    cols: list[str],
    since: int | None = None,
    num_partitions: int | None = None,
    bits: int = 16,
    scaling: str = "quantile",
) -> tuple[int, dict]:
    """Incremental re-clustering — the 100 TB maintenance loop the
    ``cluster_versioned`` docstring prescribes: appends after the last
    cluster commit land in ingest order, so periodically re-layout ONLY
    that unclustered tail and carry every already-clustered file BY
    REFERENCE (zero data movement for the corpus body). ``since``
    defaults to the newest ``cluster`` commit; the chain after it must
    be append-only (same exactness condition as ``appended_since`` — a
    delete/restore in between moves old rows, so the file diff would
    re-cluster rows it shouldn't), otherwise ValueError directs the
    caller to a full ``cluster_versioned``.

    The commit is logically a no-op (action ``cluster``, extras record
    the tail base), so downstream ``appended_since`` consumers should
    checkpoint at cluster commits like any other non-append action.
    Tail quantile boundaries are computed on the tail itself — each
    increment is internally tight; cross-increment file overlap is the
    accepted trade (Delta's OPTIMIZE makes the same one) and a periodic
    full re-cluster resets it. Returns ``(version, stats)`` with
    ``files_carried`` / ``files_tail_in`` / ``files_out``."""
    if scaling not in ("quantile", "minmax"):
        raise ValueError(f"scaling must be 'quantile' or 'minmax', got {scaling!r}")
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    if since is None:
        since = next(
            (v for v in reversed(_versions(path))
             if _read_manifest_meta(path, v)["action"] == "cluster"),
            None,
        )
        if since is None:
            raise ValueError(
                "no prior cluster commit to increment from — run "
                "cluster_versioned(...) once, then cluster_increment "
                "maintains the tail"
            )
    prev = _read_manifest(path, parent)
    base = _read_manifest(path, since)
    for mid in range(since + 1, parent + 1):
        # metadata-only walk (no offloaded-list reconstitution), and
        # the same additive set appended_since accepts: an alter
        # carries its parent's files by reference, so the tail diff
        # stays exact across it
        action = _read_manifest_meta(path, mid)["action"]
        if action not in ("append", "alter"):
            raise ValueError(
                f"version {mid} is a '{action}' commit — the tail file "
                "diff is only exact over additive (append/alter) "
                "chains; run a full cluster_versioned instead"
            )
    base_set = set(base["files"])
    carried = [f for f in prev["files"] if f in base_set]
    tail = sorted(set(prev["files"]) - base_set)
    if not tail:
        return parent, {"files_carried": len(carried),
                        "files_tail_in": 0, "files_out": 0}
    df = _read_snapshot(spark, path, prev, files=tail)
    out = _relayout(df, cols, bits, scaling, num_partitions)
    version = parent + 1
    new_files = _write_data_dir(out, path, version,
                                mapping=_col_mapping(prev))
    v = _commit_rewrite_with_rebase(
        path, "cluster", parent, prev,
        replaced=tail, new_files=new_files,
        extra={"cluster_cols": list(cols), "cluster_scaling": scaling,
               "cluster_since": since})
    return v, {"files_carried": len(carried),
               "files_tail_in": len(tail),
               "files_out": len(new_files)}


def restore_versioned(path: str, version: int) -> int:
    """Roll the table back to ``version`` as a NEW commit referencing
    that version's exact file list — zero data movement, and the
    states being rolled past remain in the history (audit trail)."""
    target = _read_manifest(path, version)  # FileNotFoundError if absent
    parent = latest_version(path)
    cons = (_read_manifest(path, parent).get("constraints") or {}
            if parent else {})
    # constraints added AFTER the restore target may reference columns
    # the target's schema lacks — refuse rather than brick every later
    # ingest (the analysis probe needs a session; headless callers with
    # none active keep today's permissive behavior)
    sess = SparkSession.getActiveSession()
    _check_constraints_resolve(
        sess, cons, _committed_schema(target), "restore_versioned")
    # the target may predate add_constraint's validate-at-add scan —
    # re-vet it BEFORE committing, sidecar bounds first (on a clustered
    # table a range constraint resolves as a pure metadata read; only
    # bounds-suspect files are scanned). Headless callers with no
    # active session keep the historical unvalidated restore.
    if cons and sess is not None:
        revalidate_constraints(sess, path, version=version,
                               constraints=cons)
    return _commit(
        path, "restore", list(target["files"]), target["schema"], parent,
        # the TARGET's column mapping rides along (explicitly, even
        # when empty — the restored schema's spellings must resolve
        # against the restored files, not the parent's later renames)
        {"restored_from": version,
         "column_mapping": _col_mapping(target),
         "retired_columns": target.get("retired_columns") or []},
        # the state being restored
        dvs=_live_dvs(path, target.get("dv_files"), target["files"]),
    )


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None,
    where: list | None = None,
    as_of=None,
) -> DataFrame:
    """The table as of ``version`` (default: latest). Addresses the
    manifest's exact file list; an empty version materializes as an
    empty frame with the committed schema. The scan always carries the
    COMMITTED schema explicitly, so the result never depends on which
    footer Spark happens to sample (and files from older commits that
    predate an evolved schema read their missing columns as NULL).

    ``where`` — an optional conjunction ``[(col, op, value), ...]``
    (ops ``= != < <= > >= in between isnull isnotnull``; see
    ``filestats``) — enables **manifest-level data skipping**: files
    whose commit-time column bounds prove no row can match are dropped
    from the scan DRIVER-SIDE, before listing/footer I/O or task
    scheduling, then the exact same predicate is applied as a row
    filter. On a Z-ordered table (``cluster_versioned``) a selective
    range predicate reduces a million-file scan to the handful of
    files whose intervals overlap — Spark's own footer pruning can't
    do that without opening the million footers. Semantics are
    identical to ``read_versioned(...).filter(...)``; pruning is
    conservative (unknown keeps the file). Disjunctions: union two
    pruned reads.

    ``as_of`` — a wall-clock timestamp (epoch seconds or ISO-8601
    string, naive = UTC) — resolves to the newest version committed at
    or before that instant (``version_as_of``); mutually exclusive
    with ``version``."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_as_of(path, as_of)
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    if where is not None:
        # a pruned read of an OFFLOADED manifest never reconstitutes
        # the full file list on the driver: the meta doc carries
        # schema/DVs/the manifest-table reference, and _read_snapshot
        # prunes from the columnar list directly
        meta = _read_manifest_meta(path, v)
        if meta.get("files_parquet") and not meta.get("files"):
            return _read_snapshot(spark, path, meta, where=where)
    man = _read_manifest(path, v)
    return _read_snapshot(spark, path, man, where=where)


def table_constraints(path: str) -> dict:
    """The table's CHECK constraints ``{name: sql_expr}`` as of the
    latest version (empty dict when none)."""
    v = latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    return dict(_read_manifest(path, v).get("constraints") or {})


def _validate_constraints(df: DataFrame, constraints: dict,
                          context: str) -> None:
    """SQL CHECK semantics: a row violates only when the expression is
    FALSE — NULL (unknown) passes, like every SQL engine. One combined
    filter finds the first violating row for the error message, so the
    enforcement cost is one short-circuit scan of the BATCH (existing
    data was validated by its own commit)."""
    if not constraints:
        return
    bad_cond = None
    for name, expr in constraints.items():
        c = ~F.coalesce(F.expr(expr), F.lit(True))
        bad_cond = c if bad_cond is None else (bad_cond | c)
    bad = df.filter(bad_cond).limit(1).collect()
    if bad:
        row = bad[0].asDict()
        for name, expr in constraints.items():
            # re-evaluate per constraint on the one offending row to
            # name the violated check in the error
            one = df.sparkSession.createDataFrame([bad[0]], df.schema)
            if one.filter(~F.coalesce(F.expr(expr), F.lit(True))).count():
                raise ValueError(
                    f"{context}: CHECK constraint {name!r} ({expr}) "
                    f"violated by row {row}"
                )
        raise ValueError(f"{context}: CHECK constraint violated: {row}")


def add_constraint(spark: SparkSession, path: str, name: str,
                   expr: str, validate: bool = True) -> int:
    """Attach CHECK constraint ``name`` (a Spark SQL boolean
    expression) to the table as an ``alter`` commit — every subsequent
    ingesting commit (append / merge / apply_cdc / snapshot overwrite
    / the streaming sinks) validates its BATCH against it and refuses
    the commit on the first violating row; a data-quality contract the
    TABLE enforces instead of each pipeline remembering to
    (operators/quality.py gates batches in flight; this gates the
    storage boundary). ``validate=True`` first checks the EXISTING
    data (one scan, DV-applied) so a constraint can't be born already
    broken. NULL passes (SQL CHECK three-valued semantics) — combine
    with ``col IS NOT NULL`` for NOT NULL."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    cons = dict(prev.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists "
                         f"({cons[name]}); drop it first")
    if validate:
        _validate_constraints(_read_snapshot(spark, path, prev),
                              {name: expr}, f"add_constraint({name!r})")
    cons[name] = expr
    return _commit(path, "alter", list(prev["files"]), prev["schema"],
                   parent, {"constraints": cons})


_CMP_RE = re.compile(
    r"^\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\s*"
    r"(>=|<=|!=|<>|==|=|<|>)\s*(.+?)\s*$"
)
#: violation rows satisfy NOT(expr) under two-valued comparison
#: semantics (NULL passes CHECK and never matches a comparison —
#: exactly prune_files' model), so each conjunct negates structurally
_NEG_OP = {">": "<=", ">=": "<", "<": ">=", "<=": ">",
           "=": "!=", "==": "!=", "!=": "=", "<>": "="}


def _parse_cmp_literal(s: str):
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in ("'", '"'):
        body = s[1:-1]
        if s[0] in body:  # embedded quotes: punt, stay conservative
            return None
        return body
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return None


def _constraint_suspect_files(path: str, files: list[str],
                              expr: str,
                              mapping: dict | None = None,
                              ) -> list[str] | None:
    """Files that MIGHT hold a row violating CHECK ``expr``, decided
    from commit-time sidecar bounds alone — or None when the
    expression isn't stats-decidable (treat every file as suspect).
    Handles the workhorse constraint shape: a top-level AND of
    ``col <cmp> literal`` comparisons. NOT(c1 AND c2) = ¬c1 OR ¬c2,
    so the suspect set is the UNION of files surviving each negated
    conjunct's pruning — a file pruned under every ¬ci provably
    contains no violating row."""
    if re.search(r"[()]|\bor\b|\bnot\b|\bin\b|\bbetween\b|\bis\b",
                 expr, re.IGNORECASE):
        return None
    conjuncts = re.split(r"\band\b", expr, flags=re.IGNORECASE)
    negated: list[tuple] = []
    for c in conjuncts:
        m = _CMP_RE.match(c)
        if not m:
            return None
        col, op, lit_s = m.groups()
        lit = _parse_cmp_literal(lit_s)
        if lit is None:
            return None
        negated.append((col, _NEG_OP[op], lit))
    suspect: set[str] = set()
    for neg in negated:
        # constraint SQL names LOGICAL columns; sidecars key physical
        suspect.update(filestats.prune_files(
            path, files, _phys_where(mapping or {}, [neg])))
    return [f for f in files if f in suspect]


def revalidate_constraints(
    spark: SparkSession | None, path: str,
    version: int | None = None,
    constraints: dict | None = None,
) -> dict:
    """Re-validate CHECK constraints against a snapshot with sidecar
    bounds doing the heavy lifting: a file whose per-column min/max
    PROVE it cannot hold a violating row is skipped; only the suspect
    remainder is scanned (DV-applied through ``_read_snapshot``, so
    merge-on-read-deleted rows can't fail a check they no longer
    belong to). On a Z-ordered 100 TB table a range constraint like
    ``price > 0`` resolves as a pure metadata read — O(commits)
    sidecar loads, zero parquet I/O — which is what makes re-checking
    after a ``restore_versioned`` or schema evolution routine instead
    of a full-table job.

    ``constraints`` defaults to the snapshot's own; pass the CURRENT
    table constraints to vet a restore target. Raises ValueError on a
    real violation; returns per-constraint
    ``{"total_files", "proved_clean_files", "scanned_files"}``."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    cons = (dict(man.get("constraints") or {})
            if constraints is None else dict(constraints))
    files = list(man["files"])
    report: dict = {"version": v, "constraints": {}}
    for name, expr in cons.items():
        suspects = _constraint_suspect_files(path, files, expr,
                                             mapping=_col_mapping(man))
        if suspects is None:
            suspects = files
        report["constraints"][name] = {
            "total_files": len(files),
            "proved_clean_files": len(files) - len(suspects),
            "scanned_files": len(suspects),
        }
        if suspects:
            if spark is None:
                raise ValueError(
                    f"revalidate_constraints: {len(suspects)} files "
                    f"need a scan for {name!r} but no SparkSession was "
                    "provided"
                )
            _validate_constraints(
                _read_snapshot(spark, path, man, files=suspects),
                {name: expr}, "revalidate_constraints")
    return report


def rename_column(spark: SparkSession | None, path: str,
                  existing: str, new: str) -> int:
    """RENAME COLUMN as a METADATA-ONLY ``alter`` commit — Delta/
    Iceberg column mapping ('name' mode): the manifest's schema gets
    the new LOGICAL name while the column's PHYSICAL name (what every
    data file and per-file sidecar is keyed by) stays what it always
    was, so zero bytes of a 100 TB table move and old files keep
    reading. Time travel is exact per spelling: versions at or before
    the rename present the old name, versions after present the new
    one, values identical. Running streams fail LOUDLY at the rename
    commit (their schema is fixed at query start — Delta's rule);
    restart them with the new schema. Non-additive by design where it
    must be: a CHECK constraint referencing the column refuses the
    rename (drop it first — silently breaking enforcement or
    rewriting user SQL are both worse), and the rename composes with
    additive evolution + type widening (new columns after a rename
    get fresh physical slots; a physical-name collision with a
    retired spelling is refused at append time).

    Reference parity: op M2 ``names<-`` (R/lazy.frame.R:217-232) —
    the reference renames the in-memory frame attributes; this is the
    same operation made durable at the storage layer."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    sch = json.loads(prev["schema"])
    names = [f["name"] for f in sch["fields"]]
    if existing not in names:
        raise ValueError(
            f"rename_column: no column {existing!r} in {names}")
    if new == existing:
        raise ValueError("rename_column: old and new names are equal")
    if new in names:
        raise ValueError(
            f"rename_column: column {new!r} already exists")
    new_fields = [
        {**f, "name": new} if f["name"] == existing else f
        for f in sch["fields"]
    ]
    new_schema = json.dumps({**sch, "fields": new_fields})
    cons = prev.get("constraints") or {}
    if cons:
        sess = spark or SparkSession.getActiveSession()
        if sess is None:
            raise ValueError(
                "rename_column: table has CHECK constraints "
                f"({sorted(cons)}) — a session is required to prove "
                "none references the renamed column"
            )
        try:
            _check_constraints_resolve(
                sess, cons,
                T.StructType.fromJson(json.loads(new_schema)),
                "rename_column")
        except ValueError:
            raise ValueError(
                f"rename_column: a CHECK constraint references "
                f"{existing!r} — constraints are enforced by SQL text "
                f"and would silently stop resolving; drop_constraint "
                "first, then re-add it against the new name"
            ) from None
    mapping = dict(_col_mapping(prev))
    phys = mapping.pop(existing, existing)
    if phys != new:
        mapping[new] = phys
    # (phys == new means the column went BACK to its physical name —
    # the identity entry is dropped and the manifest stays lean)
    return _commit(
        path, "alter", list(prev["files"]), new_schema, parent,
        {"column_mapping": mapping,
         "renamed": {"from": existing, "to": new}})


def drop_column(spark: SparkSession | None, path: str,
                name: str) -> int:
    """DROP COLUMN as a METADATA-ONLY ``alter`` commit — the column
    mapping's second verb: the logical schema loses the field, zero
    bytes move, and the column's PHYSICAL slot is recorded in the
    manifest's ``retired_columns`` so no later column can ever write
    into (or read out of) its stale storage. Time travel still
    presents the column at versions before the drop. Re-ADDING the
    same name later (``append_versioned(merge_schema=True)``) is safe
    by construction: ``_assign_physical_slots`` gives the recycled
    name a FRESH physical slot, so old files read the new column as
    NULL instead of resurrecting the dropped one's values — Delta's
    field-id semantics. Running streams fail loudly at the drop
    commit (schema fixed at start), same contract as
    ``rename_column``. A CHECK constraint referencing the column
    refuses the drop (drop_constraint first)."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    sch = json.loads(prev["schema"])
    names = [f["name"] for f in sch["fields"]]
    if name not in names:
        raise ValueError(f"drop_column: no column {name!r} in {names}")
    if len(names) == 1:
        raise ValueError(
            "drop_column: cannot drop the table's only column")
    new_fields = [f for f in sch["fields"] if f["name"] != name]
    new_schema = json.dumps({**sch, "fields": new_fields})
    cons = prev.get("constraints") or {}
    if cons:
        sess = spark or SparkSession.getActiveSession()
        if sess is None:
            raise ValueError(
                "drop_column: table has CHECK constraints "
                f"({sorted(cons)}) — a session is required to prove "
                "none references the dropped column"
            )
        try:
            _check_constraints_resolve(
                sess, cons,
                T.StructType.fromJson(json.loads(new_schema)),
                "drop_column")
        except ValueError:
            raise ValueError(
                f"drop_column: a CHECK constraint references {name!r} "
                "— drop_constraint first"
            ) from None
    mapping = dict(_col_mapping(prev))
    phys = mapping.pop(name, name)
    retired = sorted(set(prev.get("retired_columns") or []) | {phys})
    return _commit(
        path, "alter", list(prev["files"]), new_schema, parent,
        {"column_mapping": mapping, "retired_columns": retired,
         "dropped": {"name": name, "physical": phys}})


def evolve_schema(path: str, schema) -> int:
    """ADD COLUMNS / widen types as a METADATA-ONLY ``alter`` commit —
    Delta's ``ALTER TABLE ADD COLUMNS`` twin to the write-time
    ``append_versioned(merge_schema=True)``: the committed schema
    becomes ``_merge_schemas(committed, schema)`` (batch-only columns
    appended as nullable, overlapping columns widened losslessly —
    anything else raises, same contract), with zero data I/O. Every
    existing file reads the new columns as typed NULL; new columns
    whose names are occupied physical slots (a renamed column's
    storage, a dropped column's retirement) get fresh slots via
    ``_assign_physical_slots``, so a recycled name can never window
    onto stale bytes. Idempotent: evolving to a schema the table
    already covers returns the current version without committing.
    This is also how change-feed/replica tables FOLLOW an upstream
    add-column (``_follow_evolution``) — the feed's schema evolves in
    lockstep, metadata-only, before the evolved ops append.

    ``schema`` may be a StructType, a DDL string (``"q long, lang
    string"``), a schema-JSON string, or a DataFrame (its schema is
    taken). Returns the table version."""
    if isinstance(schema, DataFrame):
        schema_json = schema.schema.json()
    elif isinstance(schema, T.StructType):
        schema_json = schema.json()
    else:
        try:
            json.loads(str(schema))
            schema_json = str(schema)
        except ValueError:
            # DDL form — the same surface spark.createDataFrame takes
            schema_json = T.StructType.fromDDL(str(schema)).json()
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")

    def attempt_on(man: dict) -> tuple | None:
        merged = _merge_schemas(man["schema"], schema_json)
        if json.loads(merged) == json.loads(man["schema"]):
            return None  # nothing to evolve — idempotent no-op
        assigned = _assign_physical_slots(man, merged)
        old = {g["name"]: g["type"]
               for g in json.loads(man["schema"])["fields"]}
        fields = json.loads(merged)["fields"]
        extra = {"evolved": {
            "added": [f["name"] for f in fields if f["name"] not in old],
            "widened": sorted(f["name"] for f in fields
                              if f["name"] in old
                              and old[f["name"]] != f["type"])}}
        if assigned or _col_mapping(man):
            extra["column_mapping"] = {**_col_mapping(man), **assigned}
        return "alter", list(man["files"]), merged, extra, None

    prev = _read_manifest(path, parent)
    first = attempt_on(prev)
    if first is None:
        return parent
    # metadata-only: a lost race re-merges against the winner (slots
    # re-assigned fresh — nothing was written under the old assignment),
    # and a winner that already covers the schema is the answer
    return _commit_with_rebase(path, parent, prev, first,
                               lambda _p, _b, _v, winner: attempt_on(winner))


def drop_constraint(path: str, name: str) -> int:
    """Remove CHECK constraint ``name`` as an ``alter`` commit."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    cons = dict(prev.get("constraints") or {})
    if name not in cons:
        raise ValueError(f"no constraint {name!r} on {path}")
    del cons[name]
    return _commit(path, "alter", list(prev["files"]), prev["schema"],
                   parent, {"constraints": cons})


def version_as_of(path: str, ts) -> int:
    """The newest version committed at or before ``ts`` (epoch seconds
    or an ISO-8601 string, naive = UTC). Version numbers remain the
    ordering authority — the scan walks versions in order and returns
    the last one whose ``committed_at`` stamp is <= ts; manifests from
    before stamps existed count as eligible (they are by construction
    older than any stamped commit)."""
    if isinstance(ts, str):
        import datetime as _dt

        dt = _dt.datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        ts = dt.timestamp()
    best = None
    for v in _versions(path):
        man = _read_manifest_meta(path, v)
        if man.get("committed_at", 0.0) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {path} existed at or before {ts}"
        )
    return best


def _keyed_parent(path: str, extra: dict | None, txn: tuple | None):
    """``(parent, manifest, extra)`` with ``txn`` folded into ``extra``;
    the manifest is None when ``txn`` is already applied (a replay, or
    a racing twin that lost the commit): skip before any scan."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    extra, applied = _txn_applied(path, parent, extra, txn)
    return parent, None if applied else _read_manifest(path, parent), extra


#: key types whose equality and ordering Spark decides on the raw value,
#: so a driver-side probe groups and bounds them exactly as Spark does
#: (float/double group by Spark's NaN and -0.0 normalization, and a
#: non-default collation by its collator: both keep the Spark probe)
_BITWISE_KEY_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                      T.DecimalType, T.DateType, T.TimestampType,
                      T.TimestampNTZType, T.BooleanType)


def _local_probe_fits(key_cols: DataFrame) -> bool:
    """True when every key type is bitwise and Catalyst's size estimate
    of the key projection (no job) is within
    ``spark.sql.autoBroadcastJoinThreshold``: the batches whose key side
    Spark would broadcast anyway."""
    if not all(isinstance(f.dataType, _BITWISE_KEY_TYPES)
               or (type(f.dataType) is T.StringType
                   and f.dataType.isUTF8BinaryCollation())
               for f in key_cols.schema.fields):
        return False
    nbytes = estimated_bytes(key_cols)
    limit = (key_cols.sparkSession._jsparkSession.sessionState().conf()
             .autoBroadcastJoinThreshold())
    return nbytes is not None and nbytes <= limit


def _arrow_py(value, dt: T.DataType):
    """A pyarrow scalar as the Python value ``collect`` gives for ``dt``
    (datetimes naive, as Spark's ``fromInternal`` makes them)."""
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return dt.fromInternal(value.value) if value.is_valid else None
    return value.as_py()


def _key_probe(batch: DataFrame, pin, keys: list[str], unique: bool,
               op_col: str | None = None) -> tuple[dict, DataFrame]:
    """The keyed verbs' ONE validation job over the pinned ``batch``:
    ``(probe, key side)``. ``probe`` carries ``__rows__``, ``__dup__``
    (max multiplicity over fully-non-NULL keys — NULL keys never match,
    SQL semantics, so they are never duplicates), the key bounds
    (``filestats.key_bounds_aggs`` names) and, for a CDC batch
    (``op_col`` plus its normalized ``__op__``), ``__bad__`` (an unknown
    op) and ``__ups__`` (an upsert row). A failed check's offender rides
    along: ``__dup_key__`` (when ``unique``) and ``__bad_op__``. The key
    side holds the batch's distinct keys, the build side of the
    rewrite's joins.

    A batch that passes ``_local_probe_fits`` collects its key columns
    with one ``toArrow`` job and is probed on the driver. Its key side is
    a local relation, which broadcasts with no job. Any other batch rolls
    up a pinned per-key frame in Spark (group-by, pin and global
    aggregate: five AQE jobs) whose keys are the key side; naming an
    offender costs that route one job more."""
    key_cols = batch.select(*keys)
    fields = key_cols.schema.fields
    if _local_probe_fits(key_cols):
        import pyarrow.compute as pc

        tbl = batch.select(*dict.fromkeys(
            [*keys, *(("__op__", op_col) if op_col else ())])).toArrow()
        probe = {"__rows__": tbl.num_rows}
        for f in fields:
            lo_hi = pc.min_max(tbl[f.name])
            probe[f"__lo_{f.name}__"] = _arrow_py(lo_hi["min"], f.dataType)
            probe[f"__hi_{f.name}__"] = _arrow_py(lo_hi["max"], f.dataType)
        # positional names: no key can collide with the count column
        pos = [f"k{i}" for i in range(len(keys))]
        full = functools.reduce(pc.and_, [pc.is_valid(tbl[k]) for k in keys])
        per_key = (tbl.select(keys).rename_columns(pos).filter(full)
                   .group_by(pos).aggregate([([], "count_all")]))
        probe["__dup__"] = pc.max(per_key["count_all"]).as_py()
        dups = per_key.filter(pc.greater(per_key["count_all"], 1))
        probe["__dup_key__"] = tuple(
            _arrow_py(dups[p][0], f.dataType) for p, f in zip(pos, fields)
        ) if unique and dups.num_rows else None
        if op_col:
            bad = pc.is_null(tbl["__op__"])
            probe["__bad__"] = pc.any(bad).as_py()
            probe["__bad_op__"] = (tbl[op_col].filter(bad)[0].as_py()
                                   if probe["__bad__"] else None)
            probe["__ups__"] = pc.any(
                pc.equal(tbl["__op__"], "upsert")).as_py()
        return probe, batch.sparkSession.createDataFrame(
            per_key.select(pos).rename_columns(keys),
            schema=key_cols.schema)

    op_aggs = [
        F.max(F.col("__op__").isNull().cast("int")).alias("__bad__"),
        F.max((F.col("__op__") == "upsert").cast("int")).alias("__ups__"),
    ] if op_col else []
    per_key = pin(batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n__"), *op_aggs))
    keys_nonnull = functools.reduce(
        lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    probe = per_key.agg(
        *[F.max(c).alias(c) for c in ("__bad__", "__ups__") if op_col],
        F.max(F.when(keys_nonnull, F.col("__n__"))).alias("__dup__"),
        F.sum("__n__").alias("__rows__"),
        *filestats.key_bounds_aggs(keys)).collect()[0].asDict()
    probe["__dup_key__"] = None
    if unique and (probe["__dup__"] or 0) > 1:
        row = (per_key.dropna(subset=keys).filter(F.col("__n__") > 1)
               .limit(1).collect()[0])
        probe["__dup_key__"] = tuple(row[k] for k in keys)
    if op_col:
        probe["__bad_op__"] = (
            batch.filter(F.col("__op__").isNull()).limit(1).collect()[0][op_col]
            if probe["__bad__"] else None)
    return probe, per_key.select(*keys)


def _keyed_rewrite(
    spark: SparkSession, pin, path: str,
    parent: int, prev: dict, keys: list[str], src_keys: DataFrame,
    probe: dict, landing: DataFrame | None, mode: str, extra: dict | None,
    matched_only: bool = False,
) -> tuple[int, dict]:
    """The one commit path behind ``merge_versioned`` and ``apply_cdc``
    after their own validation: bounds pre-cut → discovery semi-join →
    touched-file anti-join rewrite → keyed rebasing commit.
    ``src_keys`` and ``probe`` come from ``_key_probe``: the batch's
    distinct keys, the key side of every join (computed once, not
    re-aggregated for ``distinct()`` — §2.4), and its validation
    record. ``landing`` is the rows written beside the survivors (None:
    survivors only), cut to matched keys when ``matched_only``; ``pin``
    the caller's ``pin_scope``, which also holds the matched-only
    discovery hits."""
    n_rows = int(probe["__rows__"] or 0)
    files = list(prev["files"])
    extra = {"merge_on": keys, "merge_mode": mode, **(extra or {})}
    # probe_jobs (validation collects on the happy path) is pinned by
    # tests: the one-aggregate probe contract is an assert, not prose
    if n_rows == 0:
        # EMPTY batch (a relay over a logical no-op chain, an idle
        # micro-batch): commit metadata-only — extra/txn still ride it,
        # so relay state and idempotence advance as a data commit's
        # would — instead of a discovery scan plus an empty data-dir
        # write. The [] footprint tells the rebase an additive winner
        # always commutes.
        v = _commit_keyed_with_rebase(path, "merge", parent, prev, files,
                                      extra, [], spark=spark)
        return v, _rewrite_stats((), files, (), files_scan_skipped=0,
                                 rows_applied=0, probe_jobs=1)

    def key_side(df: DataFrame) -> DataFrame:
        # probe-proven small batch: broadcast the key side outright (see
        # _KEYS_BCAST_MAX_ROWS) instead of waiting for an AQE conversion
        return F.broadcast(df) if n_rows <= _KEYS_BCAST_MAX_ROWS else df

    src_keys = key_side(src_keys)
    # data-skipping pre-cut for the discovery scan: a file whose
    # commit-time key bounds don't intersect the batch's key bounds
    # provably contains no match — skip it before the scan. On the
    # production CDC shape (updates touch recent keys, the table is
    # clustered or naturally ordered by them) the cold body never even
    # enters the key-column scan. Conservative like all skipping:
    # missing sidecars keep the file. The same footprint is the
    # commit-time disjointness proof for rebasing over concurrent
    # appends (_commit_keyed_with_rebase).
    where_hint = _phys_where(_col_mapping(prev),
                             filestats.key_bounds_from_row(probe, keys))
    # spark handed through: a >100k-file manifest pre-cuts as a
    # distributed job instead of a driver loop (measured 0.8 s per 100k
    # files driver-side — DRIVER_FILES_AUDIT.json)
    scan_files = (filestats.prune_files(path, files, where_hint, spark=spark)
                  if files and where_hint else files)
    touched: set[str] = set()
    if scan_files:
        touched, hits = _touched_files(
            spark, path, prev,
            lambda snap: snap.select(F.col("__file__"), *keys)
            .join(src_keys, on=keys, how="leftsemi"),
            files=scan_files, pin=pin if matched_only else None)
    carried = [f for f in files if f not in touched]

    parts = []
    if touched:
        parts.append(
            _read_snapshot(spark, path, prev, files=sorted(touched))
            .join(src_keys, on=keys, how="left_anti"))
    if matched_only:
        # only matched batch rows replace — their keys are exactly the
        # pinned discovery result's keys (matched keys ⊆ batch keys);
        # nothing matched, nothing lands
        landing = (landing.join(key_side(hits.select(*keys).distinct()),
                                on=keys, how="leftsemi")
                   if touched else None)
    if landing is not None:
        # constraints gate what actually LANDS, not the whole batch — a
        # matched-only merge may legitimately carry unmatched rows that
        # never commit
        _validate_constraints(
            landing, prev.get("constraints") or {},
            "apply_cdc" if mode == "cdc" else "merge_versioned")
        # the survivors keep their scan partitions; only the landing
        # rows are packed, by Catalyst's size of them: the pinned
        # batch's cached bytes once the probe has run (in-memory bytes
        # overstate parquet's, so files land under the target), so a
        # small batch lands as one file, not one per batch partition
        landing = landing.select(
            *[f.name for f in _committed_schema(prev).fields])
        nbytes = estimated_bytes(landing)
        parts.append(landing if nbytes is None
                     else landing.coalesce(n_files(nbytes)))
    new_files: list[str] = []
    if parts:
        new_data = functools.reduce(lambda a, b: a.unionByName(b), parts)
        new_files = _write_data_dir(new_data, path, parent + 1,
                                    mapping=_col_mapping(prev))
    # no new_files (nothing landed) leaves nothing for a concurrently
    # added constraint to gate
    v = _commit_keyed_with_rebase(path, "merge", parent, prev,
                                  carried + new_files, extra, where_hint,
                                  spark=spark, new_files=new_files)
    return v, _rewrite_stats(
        touched, carried, new_files,
        files_scan_skipped=len(files) - len(scan_files),
        rows_applied=n_rows, probe_jobs=1)


def merge_versioned(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str | list[str],
    when_matched: str = "update",
    insert_unmatched: bool = True,
    extra: dict | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> tuple[int, dict]:
    """Key-based MERGE (upsert) as one copy-on-write commit — the
    missing verb between ``append_versioned`` (blind add) and
    ``delete_versioned`` (predicate erase): reconcile the table with a
    batch keyed on ``on``. Whole-row semantics, like Delta's
    ``UPDATE SET * / INSERT *``:

    - ``when_matched="update"``: target rows whose key appears in
      ``source`` are REPLACED by the source row; ``insert_unmatched``
      adds source rows whose key is absent. The idempotent ingest
      primitive — re-running the same batch converges.
    - ``when_matched="delete"``: target rows whose key appears in
      ``source`` are REMOVED; nothing is inserted (``source`` may
      carry only the key columns). Erasure-by-key from a CDC/GDPR
      feed, where ``delete_versioned`` wants a predicate.

    Scale shape (the whole point): ONE key-column scan of the target
    — projection-pruned to ``on`` + ``input_file_name()``, and
    pre-cut by data skipping (files whose commit-time key bounds don't
    intersect the source's key bounds never enter the scan:
    ``files_scan_skipped`` in the returned stats) — semi-joined
    with the source keys finds the exact files containing matches;
    only those are rewritten (matched rows dropped via a null-safe-free
    equi anti-join, SQL semantics: NULL keys never match), every other
    file carries by reference, and the replacement/insert rows land in
    the same single new data directory. Merging a 1 GB batch into a
    100 TB table costs the key-column scan + a rewrite of the touched
    files — identical cost class to ``delete_versioned``.

    ``update`` mode requires source keys UNIQUE (two source rows with
    one key make the replacement ambiguous — checked, one aggregate
    over the source) and the source schema to match the committed
    schema exactly. ``merge_schema=True`` is Delta's
    ``MERGE ... withSchemaEvolution``: the table additively evolves to
    cover the source FIRST (one metadata-only ``evolve_schema`` alter
    — idempotent, so a crash between it and the merge commit is
    harmless and the retry converges), then the merge lands under the
    evolved schema; existing rows read the new columns as NULL. The
    source must still carry every committed column (whole-row
    REPLACE semantics — a narrower source would silently NULL the
    columns it lacks, so it stays refused).
    ``txn=(app_id, txn_version)`` makes the merge IDEMPOTENT per app
    exactly like ``append_versioned``'s transaction identifiers — an
    already-applied replay (or a racing twin that lost the commit) is
    skipped before any scan, and the keyed rebase loop re-checks on
    every conflict. Returns ``(version, stats)``."""
    keys = [on] if isinstance(on, str) else list(on)
    if when_matched not in ("update", "delete"):
        raise ValueError(
            f"when_matched must be 'update' or 'delete', got {when_matched!r}"
        )
    update = when_matched == "update"
    if merge_schema and update:
        # withSchemaEvolution: additive evolution rides a separate
        # metadata-only alter BEFORE the merge — idempotent, so the
        # two-commit shape has no bad crash window (delete mode's
        # keys-only source never evolves anything)
        evolve_schema(path, source.schema.json())
    parent, prev, extra = _keyed_parent(path, extra, txn)
    if prev is None:
        return parent, {"skipped_txn": True}
    names = {f.name for f in _committed_schema(prev).fields}
    for c in keys:
        if c not in names:
            raise ValueError(f"merge key {c!r} not in table schema")
    with pin_scope() as pin:
        # pin the batch for the merge's duration (Delta materializes its
        # MERGE source too): the plan upstream of `source` — often a CDC
        # diff or a filtered table read — otherwise re-evaluates for the
        # validation probe, the distinct-key build, and the write.
        # O(batch). The probe's job builds the pin.
        source = pin(source)
        # delete mode allows duplicate keys and lands nothing: it writes
        # the touched files' survivors only. A batch without a key
        # column fails in the probe with Spark's own AnalysisException.
        probe, src_keys = _key_probe(source, pin, keys, unique=update)
        if update:
            _check_append_schema(source, prev["schema"])
        if probe["__dup_key__"]:
            raise ValueError(
                f"merge_versioned: source has duplicate keys on {keys} "
                f"(e.g. {probe['__dup_key__']}); the "
                "replacement row would be ambiguous — dedupe the batch"
            )
        return _keyed_rewrite(
            spark, pin, path, parent, prev, keys, src_keys, probe,
            source if update else None, when_matched, extra,
            matched_only=update and not insert_unmatched)


def apply_cdc(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    on: str | list[str],
    op_col: str = "op",
    extra: dict | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> tuple[int, dict]:
    """Apply a CDC batch — rows tagged ``insert`` / ``update`` /
    ``delete`` (or ``I``/``U``/``D``) in ``op_col`` — as ONE atomic
    copy-on-write commit. ``merge_versioned`` twice (delete pass, then
    upsert pass) leaves a committed intermediate state where the
    deletes landed but the upserts didn't — a reader between the two
    commits sees a table that never existed upstream; this single
    commit is the all-or-nothing CDC consumer.

    Semantics: delete rows remove their key — a DELETE-ONLY batch may
    carry just the key columns (a mixed batch must carry the full
    committed schema, NULL-padding the delete rows' non-key columns,
    since upserts need every column); insert/update rows REPLACE their
    key's row or insert it (identical
    whole-row semantics — the tag split exists for delete, and ops are
    validated so a typo'd tag fails loudly instead of silently
    upserting a delete). A key may appear ONCE in the batch (checked):
    \"apply the latest state per key\" is the upstream compactor's job.
    Same scale shape as merge: bounds-pre-cut discovery key scan,
    touched-file rewrite, everything else carried by reference.
    ``txn=(app_id, txn_version)`` — idempotence per app, exactly as in
    ``merge_versioned``/``append_versioned``. ``merge_schema=True``
    evolves the table additively to cover the batch (minus the op
    column) before applying — the CDC twin of Delta's MERGE
    withSchemaEvolution, same idempotent two-commit shape as
    ``merge_versioned``."""
    keys = [on] if isinstance(on, str) else list(on)
    if merge_schema:
        data_fields = [f for f in batch.schema.fields
                       if f.name != op_col]
        evolve_schema(path, T.StructType(data_fields).json())
    parent, prev, extra = _keyed_parent(path, extra, txn)
    if prev is None:
        return parent, {"skipped_txn": True}

    op_norm = F.lower(F.col(op_col).cast("string"))
    with pin_scope() as pin:
        # the batch is re-read by the probe AND by the write (anti-join
        # + upsert projection) — pin it so the plan upstream of the tag
        # (often a relay diff or a stream source) computes ONCE. O(batch)
        tagged = pin(batch.withColumn(
            "__op__",
            F.when(op_norm.isin("insert", "i", "update", "u"), "upsert")
            .when(op_norm.isin("delete", "d"), "delete"),
        ))
        # ONE validation job instead of three probes + a bounds
        # aggregate: it also carries (a) any unknown op and (b) any
        # upsert row (the delete-only-shape gate)
        probe, src_keys = _key_probe(tagged, pin, keys, unique=True,
                                     op_col=op_col)
        if probe["__bad__"]:
            raise ValueError(
                f"apply_cdc: unknown op {probe['__bad_op__']!r} in "
                f"{op_col!r} — expected insert/update/delete (or I/U/D)"
            )
        if probe["__dup_key__"]:
            raise ValueError(
                f"apply_cdc: key {probe['__dup_key__']} appears "
                "more than once in the batch — compact to latest-per-key "
                "upstream (the batch's internal order is not a contract "
                "this engine can see)"
            )
        upserts = (tagged.filter(F.col("__op__") == "upsert")
                   .drop("__op__", op_col))
        batch_cols = set(upserts.columns)
        committed_cols = {f.name for f in _committed_schema(prev).fields}
        if batch_cols == set(keys) and batch_cols != committed_cols:
            # delete-only convenience shape: the batch carries just the key
            # columns. Sound only if no row actually upserts — an upsert
            # without the non-key columns would write NULL-padded rows.
            if probe["__ups__"]:
                raise ValueError(
                    "apply_cdc: batch carries only the key columns but "
                    "contains insert/update rows — upserts need the full "
                    "table schema"
                )
            upserts = None
        else:
            _check_append_schema(upserts, prev["schema"])
        return _keyed_rewrite(spark, pin, path, parent, prev, keys,
                              src_keys, probe, upserts, "cdc", extra)


def versioned_stream_cdc(path: str, on: str | list[str],
                         op_col: str = "op",
                         stream_id: str = "default"):
    """foreachBatch sink applying each micro-batch as ONE atomic CDC
    commit (``apply_cdc``) — the streaming change-data consumer.
    Exactly-once via the (stream_id, batch_id) txn mark, which rides
    the CDC commit itself. The table must exist (CDC is
    change capture — bootstrap the initial snapshot with
    ``write_versioned`` or the append writer first)."""
    keys = [on] if isinstance(on, str) else list(on)
    return _stream_sink(
        path, stream_id, lambda batch_df, _batch_id, extra, txn:
        apply_cdc(batch_df.sparkSession, path, batch_df, keys,
                  op_col=op_col, extra=extra, txn=txn))


def purge_dvs(spark: SparkSession, path: str) -> tuple[int, dict]:
    """Materialize every outstanding deletion vector: rewrite exactly
    the files that carry tombstones (DV-applied read), carry everything
    else by reference, commit with an empty DV list. The maintenance
    counterpart to ``delete_versioned(strategy="merge-on-read")`` —
    run it when the read-time anti-join starts costing more than one
    rewrite of the affected files (the classic MoR compaction
    trade-off). Compaction and full re-clustering absorb tombstones as
    a side effect; this does ONLY that, touching the minimum file set.
    Returns ``(version, stats)``."""
    parent = latest_version(path)
    if parent is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    prev = _read_manifest(path, parent)
    dv_files = prev.get("dv_files") or []
    files = list(prev["files"])
    if not dv_files:
        return parent, {"files_rewritten": 0, "files_carried": len(files),
                        "dv_files_purged": 0}
    affected = _dv_masked(path, dv_files, files)
    carried = [f for f in files if f not in affected]
    if not affected:
        # every DV entry references a file no longer in the list
        v = _commit(path, "purge", files, prev["schema"], parent, dvs=[])
        return v, {"files_rewritten": 0, "files_carried": len(files),
                   "dv_files_purged": len(dv_files)}
    version = parent + 1
    rewritten = _read_snapshot(spark, path, prev, files=sorted(affected))
    new_files = _write_data_dir(rewritten, path, version,
                                mapping=_col_mapping(prev))
    v = _commit(path, "purge", carried + new_files, prev["schema"],
                parent, dvs=[])
    return v, {"files_rewritten": len(affected),
               "files_carried": len(carried),
               "dv_files_purged": len(dv_files)}


def build_blooms(
    spark: SparkSession, path: str, cols: list[str],
    version: int | None = None,
    n_bits: int = filestats.BLOOM_BITS, k: int = filestats.BLOOM_K,
) -> dict:
    """Equip the table's data directories with per-FILE bloom filters
    on ``cols`` (point-lookup data skipping — see
    ``filestats.write_dir_blooms``). IDEMPOTENT and INCREMENTAL: a
    directory whose sidecar already covers every requested column (at
    the same geometry) is skipped, so the production loop is "ingest →
    build_blooms" and each call scans ONLY the new batch's directories
    — one projection-pruned column scan per new dir. Blooms are
    advisory sidecars, not manifest state: no new version is
    committed, concurrent readers simply start pruning better once the
    sidecar lands (atomic rename). Complements min/max skipping:
    Z-order serves range predicates on the cluster keys; the bloom
    serves ``=``/``in`` on a high-cardinality key the layout can't
    (find-my-document-by-id on a date-clustered corpus). Returns
    ``{"dirs_built": …, "dirs_skipped": …}``."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    mapping = _col_mapping(man)
    names = {f.name for f in _committed_schema(man).fields}
    for c in cols:
        if c not in names:
            raise ValueError(f"bloom column {c!r} not in table schema")
    # sidecars key by the PHYSICAL name (they are built by scanning
    # the files themselves), so a rename never invalidates them
    schema_types = {
        _phys_name(mapping, f.name): f.dataType.simpleString()
        for f in _committed_schema(man).fields
    }
    cols = [_phys_name(mapping, c) for c in cols]
    dirs = sorted({os.path.dirname(rel) for rel in man["files"]})
    built = skipped = 0
    for d in dirs:
        dir_abs = os.path.join(path, d)
        doc = filestats.load_dir_blooms(dir_abs)
        # a covering sidecar must also carry per-column TYPES — probes
        # are type-gated (implicit-cast safety), so a pre-types sidecar
        # never prunes and is worth one rebuild scan
        if (doc is not None and doc.get("n_bits") == n_bits
                and doc.get("k") == k
                and all(c in doc.get("cols", {}) for c in cols)
                and all(c in doc.get("types", {}) for c in cols)):
            skipped += 1
            continue
        # build ONLY the missing columns; carry every existing
        # same-geometry column over — including requested ones already
        # built (carrying by `not in want`, NOT `not in cols`: the
        # latter dropped an already-built requested column from the
        # rewritten sidecar, losing its filter and un-converging the
        # idempotence loop). Typeless carried columns keep their bits
        # but only regain pruning once rebuilt with a type.
        want = list(cols)
        carry: dict = {}
        carry_types: dict = {}
        if (doc is not None and doc.get("n_bits") == n_bits
                and doc.get("k") == k):
            have_types = doc.get("types", {})
            want = [c for c in cols
                    if c not in doc["cols"] or c not in have_types]
            carry = {c: bv for c, bv in doc["cols"].items()
                     if c not in want}
            carry_types = {c: t for c, t in have_types.items()
                           if c not in want}
        filestats.write_dir_blooms(
            spark, dir_abs, want, n_bits=n_bits, k=k,
            extra_cols=carry, extra_types=carry_types,
            schema_types=schema_types)
        built += 1
    return {"dirs_built": built, "dirs_skipped": skipped}


def build_ndv(
    spark: SparkSession, path: str, cols: list[str],
    p: int = None, version: int | None = None,
) -> dict:
    """Build per-file NDV (HyperLogLog register) sidecars for ``cols``
    across the version's data directories — the zero-scan
    COUNT(DISTINCT) statistic (Iceberg's puffin ndv, Delta's ANALYZE).
    Like ``build_blooms`` this is advisory sidecar metadata, not
    manifest state: idempotent per directory (a covering sidecar is
    skipped; new columns merge into an existing one), written once per
    immutable directory so an append-only table only ever sketches its
    NEW directories. Register unions are elementwise max — lossless —
    so ``metadata_ndv`` answers table-level COUNT(DISTINCT) from the
    sidecars alone, at any file subset, with no Spark job. Returns
    ``{"dirs_built", "dirs_skipped"}``."""
    if p is None:
        p = filestats.NDV_P
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    mapping = _col_mapping(man)
    names = {f.name for f in _committed_schema(man).fields}
    for c in cols:
        if c not in names:
            raise ValueError(f"ndv column {c!r} not in table schema")
    schema_types = {
        _phys_name(mapping, f.name): f.dataType.simpleString()
        for f in _committed_schema(man).fields
    }
    cols = [_phys_name(mapping, c) for c in cols]
    dirs = sorted({os.path.dirname(rel) for rel in man["files"]})
    built = skipped = 0
    for d in dirs:
        dir_abs = os.path.join(path, d)
        doc = filestats.load_dir_ndv(dir_abs)
        if (doc is not None and doc.get("p") == p
                and all(c in doc.get("cols", {}) for c in cols)):
            skipped += 1
            continue
        want = list(cols)
        carry: dict = {}
        if doc is not None and doc.get("p") == p:
            want = [c for c in cols if c not in doc["cols"]]
            carry = {c: regs for c, regs in doc["cols"].items()
                     if c not in want}
        filestats.write_dir_ndv(
            spark, dir_abs, want, p=p, extra_cols=carry,
            schema_types=schema_types)
        built += 1
    return {"dirs_built": built, "dirs_skipped": skipped}


def metadata_ndv(
    path: str, cols: list[str], version: int | None = None,
) -> dict:
    """COUNT(DISTINCT col) estimated from commit metadata alone — the
    NDV extension of ``metadata_aggregate``: per-file HLL registers
    (``build_ndv``) merge by elementwise max across exactly the
    version's referenced files, so the answer respects time travel and
    carried-by-reference compactions, with zero Spark jobs and zero
    data scans (no session parameter, by construction). Provability
    rules match the column-stats ones: every referenced file must have
    a same-precision register array for the column (None otherwise),
    and any live deletion vector refuses the estimate (HLL cannot
    subtract a masked row — run ``purge_dvs`` first). Standard error is
    1.04/sqrt(2^p) ≈ 1.6% at the default precision; the small range
    uses linear counting and is tighter. Returns ``{col: float|None}``.
    """
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    out: dict = {c: None for c in cols}
    files = list(man["files"])
    if _live_dvs(path, man.get("dv_files"), files):
        return out  # masked rows can't be subtracted from a sketch
    per_dir: dict[str, dict | None] = {}
    mapping = _col_mapping(man)
    import base64

    for c in cols:
        c_phys = _phys_name(mapping, c)
        merged: bytearray | None = None
        provable = True
        for rel in files:
            d, base = os.path.split(rel)
            if d not in per_dir:
                per_dir[d] = filestats.load_dir_ndv(
                    os.path.join(path, d))
            doc = per_dir[d]
            b64 = (doc or {}).get("cols", {}).get(c_phys, {}).get(base)
            if b64 is None:
                provable = False
                break
            regs = base64.b64decode(b64)
            if merged is None:
                merged = bytearray(regs)
            elif len(regs) != len(merged):
                provable = False  # mixed precisions don't union
                break
            else:
                for i, r in enumerate(regs):
                    if r > merged[i]:
                        merged[i] = r
        if provable:
            out[c] = (0.0 if merged is None
                      else filestats.ndv_estimate(merged))
    return out


def skipping_summary(path: str, where: list,
                     version: int | None = None) -> dict:
    """Observability for the data-skipping decision: how many of the
    version's files survive ``where`` on commit-time stats alone.
    Pure driver-side metadata (one sidecar read per data directory) —
    run it before a big job to see whether the layout serves the
    predicate, or in tests to pin pruning effectiveness."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    kept = filestats.prune_files(
        path, list(man["files"]), _phys_where(_col_mapping(man), where))
    return {
        "version": v,
        "total_files": len(man["files"]),
        "kept_files": len(kept),
        "pruned_files": len(man["files"]) - len(kept),
        "kept": kept,
    }


def metadata_aggregate(
    path: str, cols: list[str] | None = None,
    version: int | None = None,
) -> dict:
    """COUNT(*)/MIN/MAX/COUNT(col) answered from COMMIT METADATA alone —
    manifest row counts, stats sidecars, and (for merge-on-read tables)
    the deletion-vector files' own footers. Zero Spark jobs, zero data
    scans: the function doesn't even take a session. This is Iceberg's
    metadata-only query / Delta's ``COUNT(*)`` optimization — on a
    100 TB table, ``SELECT COUNT(*)`` is a sidecar walk, not a
    million-task scan.

    Exactness rules (anything not PROVABLE is ``None``, never a guess):

    - ``count``: manifest footer-row total minus DV-masked rows. DV
      directories are small by design (O(deleted rows)), so their
      footers are read without a Spark job. A DV whose target set
      misses every file of the version (``_live_dvs``) is skipped
      unread; a live DV's rows whose target file left the manifest
      mask nothing and are excluded by a content read of the (small)
      DV files.
    - per-column ``min``/``max``: fold of the per-file sidecar bounds —
      exact only when EVERY referenced file has usable bounds (or is
      provably all-NULL) for the column AND no live DV touches the
      version (a masked row could be the extremum; parquet stats
      ignore NULLs, matching SQL MIN/MAX).
    - per-column ``non_null``: rows minus the null-count fold, same
      provability rules.

    Returns ``{"version", "count", "cols": {c: {"min","max","non_null"}}}``.
    """
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    files = list(man["files"])
    out: dict = {"version": v, "count": None,
                 "cols": {c: {"min": None, "max": None,
                              "non_null": None} for c in (cols or [])}}
    total = man.get("rows")
    if total is None:
        total = _footer_rows(path, files)
    dv_files = _live_dvs(path, man.get("dv_files"), files)
    dv_masked = 0
    if dv_files and total is not None:
        try:
            import pyarrow.parquet as pq

            # distinct (file, pos): today's writers never tombstone
            # one row twice, but this function's exactness contract
            # must not rest on an invariant enforced elsewhere — a
            # replayed commit double-masking a row would otherwise
            # silently undercount
            seen: set = set()
            for rel in dv_files:
                t = pq.read_table(os.path.join(path, rel),
                                  columns=["__file__", "__pos__"])
                seen.update(zip(t["__file__"].to_pylist(),
                                t["__pos__"].to_pylist()))
            file_keys = {_file_key(f) for f in files}
            dv_masked = sum(1 for f, _pos in seen if f in file_keys)
        except Exception:
            total = None  # unreadable DV: count not provable
    if total is not None:
        out["count"] = total - dv_masked
    if not cols:
        return out
    # per-column bounds fold (no live DV only — a masked row could be
    # the extremum, so any live DV makes column stats unprovable)
    if dv_files:
        return out
    per_dir: dict[str, dict | None] = {}
    mapping = _col_mapping(man)
    for c in cols:
        c_phys = _phys_name(mapping, c)
        lo = hi = None
        non_null = 0
        provable = True
        for rel in files:
            d, base = os.path.split(rel)
            if d not in per_dir:
                per_dir[d] = filestats.load_dir_stats(
                    os.path.join(path, d))
            stats = per_dir[d]
            st = stats.get(base) if stats else None
            if st is None:
                provable = False
                break
            rows = st.get("rows", 0)
            if rows == 0:
                continue  # empty file: no stats, nothing to prove
            rec = st.get("cols", {}).get(c_phys)
            if rec is None:
                # column missing from this file's stats: could be a
                # pre-evolution file (all-NULL — safe) or unusable
                # statistics (not safe) — indistinguishable here, so
                # not provable
                provable = False
                break
            nulls = rec.get("nulls")
            if nulls is not None and nulls >= rows:
                continue  # all-NULL file: no extremum, 0 non-nulls
            if "lo" not in rec or nulls is None:
                provable = False
                break
            flo, fhi = filestats._decode(rec["lo"]), filestats._decode(rec["hi"])
            lo = flo if lo is None else min(lo, flo)
            hi = fhi if hi is None else max(hi, fhi)
            non_null += rows - nulls
        if provable:
            out["cols"][c] = {"min": lo, "max": hi,
                              "non_null": non_null}
    return out


def metadata_count_where(
    path: str, where: list, version: int | None = None,
) -> dict:
    """COUNT(*) BOUNDS under a conjunction, from commit metadata alone
    (the ``where`` extension of ``metadata_aggregate``): files whose
    bounds prove NO row matches contribute 0, files whose bounds prove
    EVERY row matches contribute their whole footer count
    (``filestats._file_all_match`` — the dual proof), and only the
    boundary files in between are uncertain. Returns ``{"count_min",
    "count_max", "exact"}`` — exact (min == max) whenever the
    predicate aligns with the clustering, e.g. a date-range COUNT on a
    date-clustered corpus resolves as a pure sidecar walk.

    Deletion vectors subtract PER KEPT FILE, from a content read of
    the (small, O(deleted rows)) DV files deduplicated on
    ``(file, pos)``: a kept file's matching rows are a subset of its
    LOGICAL rows, so ``rows - tombstones`` bounds it above — and
    equals it exactly when the file is all-match. Tombstones whose
    target file was pruned out (or compacted away) mask nothing this
    count can see and never loosen the bounds — a DV whose target set
    misses every kept file is not even read — so a DV-bearing table
    whose tombstones all sit in excluded files still resolves exact.
    A kept file with no usable sidecar makes ``count_max`` None (its
    size is unknown); unreadable DV files make both bounds trivial."""
    filestats._check_where(where)
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    man = _read_manifest(path, v)
    files = list(man["files"])
    where = _phys_where(_col_mapping(man), where)
    kept = set(filestats.prune_files(path, files, where))
    dv_per_file: dict[str, int] = {}
    dv_files = _live_dvs(path, man.get("dv_files"), kept)
    if dv_files:
        try:
            import pyarrow.parquet as pq

            seen: set = set()
            for rel in dv_files:
                t = pq.read_table(os.path.join(path, rel),
                                  columns=["__file__", "__pos__"])
                seen.update(zip(t["__file__"].to_pylist(),
                                t["__pos__"].to_pylist()))
            for f, _pos in seen:
                dv_per_file[f] = dv_per_file.get(f, 0) + 1
        except Exception:
            # unreadable DV sidecars: masked-row placement unknown —
            # no sound bound in either direction
            return {"count_min": 0, "count_max": None, "exact": False}
    per_dir: dict[str, dict | None] = {}
    cmin = 0
    cmax: int | None = 0
    for rel in files:
        if rel not in kept:
            continue
        d, base = os.path.split(rel)
        if d not in per_dir:
            per_dir[d] = filestats.load_dir_stats(os.path.join(path, d))
        stats = per_dir[d]
        st = stats.get(base) if stats else None
        if st is None or "rows" not in st:
            cmax = None  # unknown file size: no upper bound
            continue
        logical = max(0, st["rows"] - dv_per_file.get(_file_key(rel), 0))
        if cmax is not None:
            cmax += logical
        if filestats._file_all_match(st, where):
            cmin += logical
    exact = cmax is not None and cmin == cmax
    return {"count_min": cmin, "count_max": cmax, "exact": exact}


def appended_since(
    spark: SparkSession, path: str, since: int,
    version: int | None = None,
) -> DataFrame:
    """Rows committed AFTER version ``since`` (exclusive) up to
    ``version`` (inclusive, default latest) — the incremental-consume
    primitive: a downstream job records the version it last processed
    and reads ONLY what arrived since, as a pure manifest-level file
    diff (no scan of old data, no anti-join). Exact precisely when
    every intervening commit only ADDED files or metadata (``append``
    / ``alter`` — the same additive set ``_chain_is_additive`` and the
    stream reader accept: an ``add_constraint`` between appends keeps
    the file diff exact); any other action
    (delete/overwrite/restore/compact) moves or removes OLD rows, so
    file-set difference would mis-report them as new — those chains
    raise ValueError and the caller reconciles against the snapshot
    instead (e.g. ``dedup.dedup_against`` on content keys). At 100 TB
    this is the difference between an O(increment) nightly job and an
    O(corpus) one."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    if since > v:
        raise ValueError(f"since={since} is newer than version {v}")
    base = _read_manifest(path, since)  # FileNotFoundError if vacuumed
    cur = _read_manifest(path, v)
    for mid in range(since + 1, v + 1):
        # action-only walk: _read_manifest_meta never reconstitutes an
        # offloaded manifest LIST — on a 10M-file table each needless
        # reconstitution is a parquet load, and this loop touches
        # every intervening version
        action = _read_manifest_meta(path, mid)["action"]
        if action not in ("append", "alter"):
            raise ValueError(
                f"version {mid} is a '{action}' commit — the file diff "
                "is only exact over additive (append/alter) chains; "
                "reconcile against the snapshot instead"
            )
    new_files = sorted(set(cur["files"]) - set(base["files"]))
    if not new_files:
        schema = T.StructType.fromJson(json.loads(cur["schema"]))
        return spark.createDataFrame([], schema)
    schema = _committed_schema(cur)
    mapping = _col_mapping(cur)
    df = spark.read.schema(_phys_schema(schema, mapping)).parquet(
        *[os.path.join(path, rel) for rel in new_files]
    )
    if mapping:
        # a rename in the (additive) chain: increments present the
        # LATEST logical names, exactly like a snapshot read at `v`
        df = df.select(*[
            F.col(mapping.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ])
    return df


def _relay_state(path: str, stream_id: str) -> int | None:
    """Newest ``relay_src_version`` committed to ``path`` for this
    relay stream — walked newest-first like ``last_txn_version``,
    O(1) in the steady state (the latest commit is the relay's
    own)."""
    v = latest_version(path)
    while v is not None:
        try:
            man = _read_manifest_meta(path, v)
        except FileNotFoundError:
            # vacuumed tail: no relay commit survives in the retained
            # window — callers go through _relay_state_recovered, which
            # falls back to the txn high-water sidecar (and REFUSES to
            # re-bootstrap an existing feed if that is lost too)
            return None
        if man.get("relay_stream") == stream_id:
            return man.get("relay_src_version")
        v = man.get("parent")
    return None


def _relay_state_recovered(path: str, stream_id: str) -> int | None:
    """Relay state with the vacuum fallback: when no retained manifest
    carries the relay mark, the txn high-water sidecar still does —
    every relay commit (bootstrap included) rides txn
    ``(cdf:<stream_id>, src_version)``, and ``vacuum_versioned`` folds
    each app's max into ``_txn_hw.json`` before dropping manifests. So
    a fully-vacuumed feed tail degrades to CONTINUING from the
    preserved mark instead of forcing a bootstrap decision."""
    state = _relay_state(path, stream_id)
    if state is None:
        state = last_txn_version(path, f"cdf:{stream_id}")
    return state


def _ops_from_diff(d: DataFrame, keys: list[str],
                   preimages: bool = False) -> DataFrame:
    """Compact a ``diff_versions`` result to per-key I/U/D ops: a key
    appearing on both sides is an Update carrying the NEW row, an
    insert-only key an Insert, a delete-only key a Delete carrying the
    OLD row (the retraction preimage). Requires ``keys`` to be unique
    per side — the contract both consumers (``replicate_versioned``'s
    apply_cdc and the change feed) already demand; a violating diff
    raises at evaluation (in-plan guard) instead of silently collapsing
    to one op per key. ``preimages=True`` additionally emits each
    updated key's OLD row as ``U_pre`` (Delta CDF's update_preimage) —
    apply-style consumers don't need it, but audit/diff-style ones read
    what the update replaced.

    Shape: ONE hash aggregate on the key — each group holds at most
    one insert and one delete row (the uniqueness contract), so a
    single ``groupBy(keys)`` pairs the sides where the old
    formulation's I/U left-join + D anti-join shuffled the persisted
    diff three times (measured 12 exchanges in the relay ops plan; 6
    after). NULL-keyed rows ride a map-only side branch tagged by
    their own side (NULL keys never equi-join, so the old shape
    always emitted them as I/D, never paired into a U — the group-by,
    which treats NULLs as equal, must not pair them either)."""
    cols = [c for c in d.columns if c != "change_type"]
    out_cols = list(keys) + [c for c in cols if c not in keys]
    is_ins = F.col("change_type") == "insert"
    keys_nonnull = F.col(keys[0]).isNotNull()
    for k in keys[1:]:
        keys_nonnull = keys_nonnull & F.col(k).isNotNull()
    row = F.struct(*[F.col(c) for c in cols])
    agged = d.filter(keys_nonnull).groupBy(*keys).agg(
        F.max(F.when(is_ins, row)).alias("__new__"),
        F.max(F.when(~is_ins, row)).alias("__old__"),
        F.sum(is_ins.cast("int")).alias("__ni__"),
        F.sum((~is_ins).cast("int")).alias("__nd__"),
    )
    # uniqueness guard folded INTO the consumed op expression (a
    # separate probe job would cost a pass; an unconsumed column would
    # be pruned): >1 insert or >1 delete for one key means the relay
    # key is not unique per source version — the max() pick would
    # silently drop rows, so fail loudly instead
    op = F.when(
        (F.col("__ni__") > 1) | (F.col("__nd__") > 1),
        F.raise_error(F.concat(
            F.lit("relay op compaction: key ("),
            F.concat_ws(", ", *[F.col(k).cast("string") for k in keys]),
            F.lit(") appears more than once per diff side — the relay "
                  "key must be unique per source version"),
        )),
    ).otherwise(
        F.when(F.col("__ni__").eqNullSafe(0), "D")
        .when(F.col("__nd__").eqNullSafe(0), "I")
        .otherwise("U")
    )
    picked = F.coalesce(F.col("__new__"), F.col("__old__"))
    ops = agged.select(
        *[picked[c].alias(c) for c in out_cols], op.alias("op"))
    nulls = d.filter(~keys_nonnull).select(
        *out_cols,
        F.when(is_ins, "I").otherwise("D").alias("op"))
    ops = ops.unionByName(nulls)
    if preimages:
        ops = ops.unionByName(
            agged.filter(F.col("__new__").isNotNull()
                         & F.col("__old__").isNotNull())
            .select(*[F.col("__old__")[c].alias(c) for c in out_cols],
                    F.lit("U_pre").alias("op")))
    return ops


def _follow_evolution(spark, path: str, want_fields: list,
                      reserved: tuple = ()) -> int:
    """Align ``path``'s data columns to the upstream's
    ``want_fields`` (``[(name, type_json), ...]`` in upstream order) —
    how a relay feed / replica FOLLOWS upstream rename_column AND
    additive evolution so its schema keeps matching the ops it
    ingests. All metadata-only: renames follow positionally on the
    common prefix (original positions are stable — renames re-spell
    in place and evolution only APPENDS, ``_merge_schemas``), via
    rename_column alter commits with a two-phase pass through temp
    names so arbitrary permutations (a<->b swaps) are safe; added
    columns and lossless widenings then land as ONE ``evolve_schema``
    alter (idempotent no-op when nothing evolved). Tailing streams
    over the feed fail loudly at rename alters with the standard
    restart guidance — the spelling they were emitting is gone,
    exactly the rename contract; an add-column alter streams through
    (the new column starts flowing after a consumer restart). A
    SHRINKING upstream (drop) is not followable — the diff already
    refuses it; this raises the re-bootstrap guidance as a backstop.
    Returns the number of columns renamed."""
    v = latest_version(path)
    man = _read_manifest_meta(path, v)
    cur = [f["name"] for f in json.loads(man["schema"])["fields"]
           if f["name"] not in reserved]
    want = [n for n, _ in want_fields]
    if len(cur) > len(want):
        raise ValueError(
            f"relay: upstream schema changed shape ({len(cur)} vs "
            f"{len(want)} data columns) — a column was dropped, not "
            "renamed/added; re-bootstrap to a fresh path"
        )
    pairs = [(a, b) for a, b in zip(cur, want) if a != b]
    cons = man.get("constraints") or {}
    if pairs and cons:
        # prove the WHOLE follow will succeed BEFORE the first commit:
        # a constraint referencing a changed column would otherwise
        # refuse mid-permutation and strand the feed under temp names
        # (an interrupted follow self-heals on retry, but a constraint
        # refusal would persist across every retry)
        ren = dict(pairs)
        sch = json.loads(man["schema"])
        final = json.dumps({**sch, "fields": [
            {**f, "name": ren.get(f["name"], f["name"])}
            for f in sch["fields"]
        ]})
        try:
            _check_constraints_resolve(
                spark, cons, T.StructType.fromJson(json.loads(final)),
                "relay rename follow")
        except ValueError:
            raise ValueError(
                f"relay: a CHECK constraint on {path} references a "
                f"column the upstream renamed ({sorted(cons)}) — "
                "drop_constraint and re-add it against the new "
                "spelling, then re-run the relay"
            ) from None
    tmps = []
    for i, (a, b) in enumerate(pairs):
        tmp = f"__relay_tmp_{i}__"
        rename_column(spark, path, a, tmp)
        tmps.append((tmp, b))
    for tmp, b in tmps:
        rename_column(spark, path, tmp, b)
    # additive follow: upstream added columns / widened types land as
    # one metadata-only evolve commit (idempotent — no commit when the
    # feed already covers the upstream schema)
    evolve_schema(path, json.dumps({
        "type": "struct",
        "fields": [{"name": n, "type": t, "nullable": True,
                    "metadata": {}} for n, t in want_fields],
    }))
    return len(pairs)


def _relay_start(spark: SparkSession, src_path: str, dst_path: str,
                 stream_id: str, kind: str, reserved: tuple = (),
                 bootstrap=lambda snap, src_v: snap):
    """Shared head of ``relay_changes`` / ``replicate_versioned``:
    ``(src_v, state, src_fields, done)``, ``done`` being the verb's
    return value when it bootstraps or has nothing to relay."""
    src_v = latest_version(src_path)
    if src_v is None:
        raise FileNotFoundError(f"no versioned table at {src_path}")
    src_man = _read_manifest_meta(src_path, src_v)
    src_fields = [(f["name"], f["type"])
                  for f in json.loads(src_man["schema"])["fields"]]
    for name, _ in src_fields:
        if name in reserved:
            raise ValueError(
                f"source column {name!r} collides with a change-"
                "feed column; rename it before relaying"
            )
    state = _relay_state_recovered(dst_path, stream_id)
    if state is None:
        if latest_version(dst_path) is not None:
            # NO recoverable relay state (retained manifests and txn
            # sidecar both lost it) is not a bootstrap situation:
            # overwriting would silently destroy committed state (a
            # feed's retained history, which truncate_changes' consumer
            # protocol depends on). Bootstrap only writes fresh paths.
            raise ValueError(
                f"{dst_path} already holds data but carries no relay "
                f"state for stream {stream_id!r} — refusing to "
                f"re-bootstrap over an existing {kind} (its committed "
                f"state would be destroyed); relay to a fresh path, or "
                f"restore the {kind}'s commit chain"
            )
        snap = read_versioned(spark, src_path, version=src_v)
        # data + relay state + txn identifier ride ONE commit: a crash
        # can never leave a bootstrapped copy without its resume
        # position (the old two-commit shape re-bootstrapped on that
        # crash, destroying the feed under checkpointed consumers), and
        # a racing twin's write_versioned no-ops on the txn
        v = write_versioned(
            bootstrap(snap, src_v), dst_path,
            extra={"relay_stream": stream_id,
                   "relay_src_version": src_v},
            txn=(f"cdf:{stream_id}", src_v))
        return src_v, state, src_fields, (
            v, {"bootstrap": True, "src_version": src_v})
    if state == src_v:
        return src_v, state, src_fields, (latest_version(dst_path), {
            "bootstrap": False, "src_version": src_v, "ops": 0})
    return src_v, state, src_fields, None


def relay_changes(
    spark: SparkSession,
    src_path: str,
    feed_path: str,
    on: str | list[str],
    stream_id: str = "cdf_feed",
    include_preimages: bool = False,
) -> tuple[int, dict]:
    """Materialize the source table's row-level changes since the last
    relay as an APPEND to a change-feed table — the streaming CDF
    closure. The stream source (``versioned_stream_read``) rightly
    refuses destructive source commits: a stream cannot retract rows
    it already delivered. This relay is the legal answer — changes
    become DATA instead of history: each call folds
    ``diff_versions(src, last_relayed, latest)`` (O(changed files),
    exact over ANY chain — deletes, merge-on-read GDPR erasure,
    restores, compactions) into per-key I/U/D op rows, appended to
    ``feed_path`` with the new row for I/U, the deleted row (the
    retraction preimage) for D, and the source version in
    ``_src_version``. The feed is append-only BY CONSTRUCTION, so
    ``versioned_stream_read(spark, feed_path)`` is a true Structured
    Streaming retraction-bearing change feed: a DV delete mid-chain on
    the SOURCE arrives as appended D rows downstream instead of
    killing the consumer, and the stream source's destructive gate
    never fires. The first call bootstraps the feed with the full
    snapshot as I ops (Delta's CDF-from-version-0 contract); the
    relayed source version rides the SAME commit
    (``relay_src_version``), so the loop is crash-consistent and
    exactly-once — a replayed relay sees recorded state == source
    head and no-ops. Requires ``on`` unique per source version (the
    op compaction is keyed; pass the key's CURRENT spelling). The
    relay survives source RENAMES and ADDITIVE EVOLUTION: the diff
    re-labels across renames and NULL-fills pre-evolution epochs
    under the newest schema, and the feed follows with its own
    metadata-only alter commits (``_follow_evolution`` — rename
    commits plus one evolve_schema for added/widened columns), so
    ops and feed schema stay aligned — tailing feed streams fail at
    rename alters with the standard restart guidance (an add-column
    alter streams through; the column starts flowing after a
    consumer restart), new consumers just see the newest schema.
    ``include_preimages=True`` additionally
    appends each updated key's OLD row tagged ``U_pre`` (Delta CDF's
    update_preimage) for audit/diff consumers. Returns
    ``(feed_version, stats)``."""
    keys = [on] if isinstance(on, str) else list(on)
    reserved = ("op", "_src_version")
    src_v, state, src_fields, done = _relay_start(
        spark, src_path, feed_path, stream_id, "feed", reserved,
        lambda snap, src_v: snap.withColumn("op", F.lit("I"))
        .withColumn("_src_version", F.lit(src_v)))
    if done is not None:
        return done
    # diff validates the chain is at most renames + ADDITIVE evolution
    # away and presents src_v's schema (old epochs NULL-fill the newer
    # columns); the feed then FOLLOWS — renames and add-column/widen
    # alike, all metadata-only alters — so its schema matches the ops
    # it is about to ingest. The diff is PINNED from the follow to the
    # append's end (a refused follow releases it too): the I/U/D
    # compaction references it from several join branches, so even the
    # single write action would otherwise scan every changed file 4×
    # (the delta is O(changed rows) — caching it is bounded by the
    # change set, never the table).
    with pin_scope() as pin:
        d = pin(diff_versions(spark, src_path, state, src_v,
                              cluster_by=keys))
        _follow_evolution(spark, feed_path, src_fields, reserved=reserved)
        ops = (_ops_from_diff(d, keys, preimages=include_preimages)
               .withColumn("_src_version", F.lit(src_v))
               .select(*[name for name, _ in src_fields], *reserved))
        # txn identifiers make the relay append idempotent under RACES,
        # not just replays: two relays of the same stream started
        # together both compute the same ops, but the loser's
        # auto-rebased append aborts when it finds the winner already
        # carried this (stream, src_version) — the feed never holds an
        # op twice
        v = append_versioned(
            ops, feed_path,
            extra={"relay_stream": stream_id,
                   "relay_src_version": src_v},
            txn=(f"cdf:{stream_id}", src_v))
    # op count from commit metadata (manifest rows are cumulative
    # footer totals; the append's own contribution is the difference)
    man_v = _read_manifest_meta(feed_path, v)
    man_p = _read_manifest_meta(feed_path, man_v["parent"])
    n_ops = (man_v["rows"] - man_p["rows"]
             if man_v.get("rows") is not None
             and man_p.get("rows") is not None else None)
    return v, {"bootstrap": False, "src_version": src_v,
               "ops": n_ops}


def replicate_versioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    on: str | list[str],
    stream_id: str = "cdf_relay",
) -> tuple[int, dict]:
    """One-call INCREMENTAL table replication: fold the source table's
    row-level changes since the last relay into ``dst_path`` as ONE
    atomic CDC commit — the change-data-feed consumer loop, closed.
    First call bootstraps dst as a full snapshot; every later call
    computes ``diff_versions(src, last_relayed, latest)`` — O(changed
    files), never O(corpus) — compacts the diff to per-key I/U/D ops
    (a key that both deleted and inserted is an Update carrying the
    new row) and applies it through ``apply_cdc``. The relayed source
    version rides the SAME commit (``relay_src_version`` in the
    manifest), so the loop is crash-consistent and exactly-once: a
    replay sees the recorded state equals the source head and no-ops.

    Requires ``on`` to be a unique key of the source (the diff
    compaction and CDC apply are keyed; apply_cdc's duplicate check
    enforces it). Unlike the streaming source
    (``versioned_stream_read``), the relay survives DESTRUCTIVE
    source commits — deletes, merges, restores, GDPR erasure all
    replicate, because the diff is exact over any chain. At 100 TB
    this is cross-region mirroring / downstream-copy maintenance at
    the cost of the changed files only. Returns ``(dst_version,
    stats)``."""
    keys = [on] if isinstance(on, str) else list(on)
    src_v, state, src_fields, done = _relay_start(
        spark, src_path, dst_path, stream_id, "replica")
    if done is not None:
        return done
    # MATERIALIZE the delta once (Delta materializes its MERGE source
    # for the same reason): the ops plan references the diff several
    # times (the I/U/D compaction joins), and apply_cdc's validation /
    # discovery / write actions would otherwise each recompute the
    # whole changed-file diff — measured 16 parquet scans and 16
    # exchanges PER ACTION on the bench relay before this. The delta
    # is O(changed rows) by construction, so caching it is bounded by
    # the change set, never the table. The ops frame itself is NOT
    # separately counted or pinned here: apply_cdc pins the tagged
    # batch and its validation probe already counts the rows
    # (``rows_applied``), so the old ``ops.count()`` was a whole extra
    # job per relay re-aggregating what the probe measures anyway, and
    # an empty ops set (logical no-op chain, e.g. a compaction) takes
    # apply_cdc's metadata-only fast path — relay state and txn ride
    # that commit exactly as they rode the old empty append.
    with pin_scope() as pin:
        d = pin(diff_versions(spark, src_path, state, src_v,
                              cluster_by=keys))
        _follow_evolution(spark, dst_path, src_fields)
        v, st = apply_cdc(
            spark, dst_path, _ops_from_diff(d, keys), keys,
            extra={"relay_stream": stream_id,
                   "relay_src_version": src_v},
            txn=(f"cdf:{stream_id}", src_v))
    st.update({"bootstrap": False, "src_version": src_v,
               "ops": st.get("rows_applied", 0)})
    return v, st


def truncate_changes(
    spark: SparkSession,
    feed_path: str,
    keep_from_src_version: int,
    stream_id: str = "cdf_feed",
) -> tuple[int, dict]:
    """Retention for a ``relay_changes`` feed — the feed is an
    append-only table and would otherwise grow forever. Drops every op
    row with ``_src_version < keep_from_src_version`` as ONE snapshot
    overwrite commit, re-stamping the relay state on the new chain so
    the producer continues seamlessly (its next call still diffs from
    the last relayed source version).

    Consumer protocol (Delta's CDF-retention shape, stated here
    because the truncation is DESTRUCTIVE by design):

    - **Tailing streams** (``versioned_stream_read`` over the feed)
      see the overwrite and fail with the re-seed error — correct, the
      history they were replaying is gone. Restart them with
      ``starting_version`` at the feed's new head.
    - **New consumers** can no longer reconstruct from the feed alone:
      bootstrap from the SOURCE table at the returned
      ``base_src_version`` — the newest DROPPED op's source version,
      i.e. exactly the state the first retained relay batch diffed
      from (``read_versioned(src, version=base)``; keep that source
      version vacuum-retained, or snapshot-export it) — and replay the
      retained ops on top. The retained suffix composes exactly
      because each relay batch is a complete diff from its
      predecessor's recorded source version.

    Requires the cutoff to be at or below the feed's relayed state
    (you cannot retain ops the relay hasn't produced). Returns
    ``(feed_version, stats)``."""
    state = _relay_state_recovered(feed_path, stream_id)
    if state is None:
        raise ValueError(
            f"{feed_path} carries no relay state for stream "
            f"{stream_id!r} — not a relay_changes feed, or the state "
            "was vacuumed"
        )
    if keep_from_src_version > state:
        raise ValueError(
            f"keep_from_src_version={keep_from_src_version} is newer "
            f"than the relayed source version {state}"
        )
    feed = read_versioned(spark, feed_path)
    # ONE probe job (the feed's row count + the newest dropped op's
    # source version together) instead of a count job plus a separate
    # max aggregate; the retained count then comes from the snapshot
    # commit's own manifest footer total — feeds are append-only by
    # construction (never DV-masked), so physical rows == visible rows
    # — making the write the only other scan. 4 feed passes → 2.
    probe = feed.agg(
        F.count(F.lit(1)).alias("__n__"),
        F.max(F.when(
            F.col("_src_version") < F.lit(keep_from_src_version),
            F.col("_src_version"))).alias("__base__"),
    ).collect()[0]
    before, base = int(probe["__n__"]), probe["__base__"]
    kept = feed.filter(
        F.col("_src_version") >= F.lit(keep_from_src_version))
    # retained rows + re-stamped relay state ride ONE snapshot commit
    # — "rides the SAME commit" holds for every relay path, so a crash
    # mid-truncate can never leave the feed without its state
    v = write_versioned(
        kept, feed_path,
        extra={"relay_stream": stream_id, "relay_src_version": state,
               "truncated_below": int(keep_from_src_version)})
    after = _read_manifest_meta(feed_path, v).get("rows")
    if after is None:  # footer count unavailable: pay the scan
        after = kept.count()
    return v, {"ops_dropped": before - after, "ops_retained": after,
               "relay_src_version": state,
               "base_src_version": base}


def diff_versions(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    change_col: str = "change_type",
    cluster_by: list | None = None,
) -> DataFrame:
    """Row-level diff between two versions — the general CDC read
    (``appended_since`` is the cheap special case for append-only
    chains; this one is exact across ANY chain: deletes, restores,
    overwrites, compactions, re-clusterings). Returns every row of
    ``v_to`` not in ``v_from`` tagged ``insert`` and every row of
    ``v_from`` not in ``v_to`` tagged ``delete``, with multiset
    semantics (a row duplicated 3× then 1× yields 2 deletes).

    Scale shape — file-grain pruning: manifests carry files BY
    REFERENCE across commits, so files present in BOTH versions
    contribute identical rows to both sides and cancel from the
    multiset difference EXACTLY; they are never read. Cost is
    O(files that differ), not O(corpus) — after a file-grain
    copy-on-write delete, only the touched files and their rewrites
    are scanned; after a compaction (logical no-op) the compacted
    files are read on both sides and the diff is empty. The
    subtraction itself is ``exceptAll`` — a hash aggregation on the
    changed subset. Schemas may differ between the versions by COLUMN
    RENAMES and ADDITIVE evolution (added columns, lossless type
    widening — ``_additive_evolution``): the diff presents ``v_to``'s
    schema and spelling, with the old side re-labeled by physical-slot
    identity, widened columns cast up, and post-``v_from`` columns
    NULL-filled — exactly how ``v_from``-epoch rows read under the
    newer committed schema, so an add-column alter alone contributes
    an EMPTY diff (Delta CDF's rule). Destructive evolution (drop /
    narrowing / type rewrite) raises — reconcile explicitly.

    Deletion vectors (merge-on-read deletes) change what a shared file
    CONTRIBUTES without changing its identity, so blanket file
    cancellation would be unsound there. The diff stays file-pruned by
    cancelling only shared files whose DV row-sets are IDENTICAL in
    both versions (by DV-file identity — DV files are immutable and
    carried by reference, so equal lists mean equal tombstones); a
    shared file whose tombstones differ is read on both sides with its
    own version's DVs applied, which reduces exactly to the
    tombstone-delta rows."""
    ma = _read_manifest(path, v_from)
    mb = _read_manifest(path, v_to)
    reconcile = False
    if json.loads(ma["schema"]) != json.loads(mb["schema"]):
        if _additive_evolution(ma, mb):
            # renames / added columns / lossless widening between the
            # versions: the old side is reconciled onto v_to's schema
            # by physical-slot identity (re-label + cast + NULL-fill)
            # and the diff PRESENTS v_to's schema and spelling
            reconcile = True
        else:
            raise ValueError(
                f"versions {v_from} and {v_to} have different schemas "
                "beyond renames/additive evolution (a drop, narrowing, "
                "or type rewrite) — diff_versions requires an additive "
                "chain; reconcile the evolution explicitly"
            )
    schema_a = _committed_schema(ma)
    schema = _committed_schema(mb)  # the diff presents v_to's names
    clash = {f.name for f in schema.fields} \
        | {f.name for f in schema_a.fields}
    if change_col in clash:
        raise ValueError(
            f"change column {change_col!r} collides with a table column"
        )
    fa, fb = set(ma["files"]), set(mb["files"])
    dva, dvb = set(ma.get("dv_files") or []), set(mb.get("dv_files") or [])
    if dva == dvb:
        shared_cancel = fa & fb
    else:
        # a shared file's contribution differs between the versions
        # ONLY if a DV file present in exactly one of them references
        # it (DV files are immutable and carried by reference, so the
        # common DV files tombstone identically on both sides). The
        # DELTA DV files' target sets name exactly which shared files
        # lose cancellation; everything else stays O(files that
        # differ), not O(corpus).
        shared = fa & fb
        shared_cancel = shared - _dv_masked(path, dva ^ dvb, shared)
    a_side = fa - shared_cancel
    b_side = fb - shared_cancel

    def read_side(man, rels, sch):
        rels = sorted(rels)
        if not rels:
            return spark.createDataFrame([], sch)
        return _read_snapshot(spark, path, man, files=rels)

    old = read_side(ma, a_side, schema_a)
    new = read_side(mb, b_side, schema)
    if reconcile:
        # slot-identity reconciliation is exact: same physical bytes,
        # v_to's labels/types, post-v_from columns as typed NULL —
        # identical to reading the old files under v_to's schema
        old = _evolve_project(old, ma, mb)
    # ONE-PASS multiset difference: tag each side ±1, aggregate the
    # signed count per distinct row, and replicate |Δ| rows tagged by
    # the sign. Exactly `new.exceptAll(old) ∪ old.exceptAll(new)` (the
    # same union-count-replicate pipeline Spark's RewriteExceptAll
    # lowers exceptAll to, and the same NULL-equality grouping) — but
    # both directions share ONE shuffle and each side is SCANNED ONCE,
    # where the two exceptAll branches cost two shuffles and read every
    # changed file twice. At 100 TB the diff's cost is the changed-file
    # scan; this halves it.
    cols = [f.name for f in schema.fields]
    both = (new.withColumn("__w__", F.lit(1))
            .unionByName(old.withColumn("__w__", F.lit(-1))))
    if cluster_by and all(k in cols for k in cluster_by):
        # share ONE exchange with the caller's downstream per-key
        # aggregation (the relay's I/U/D op compaction): hash
        # partitioning on the key SUBSET satisfies the all-columns
        # clustered distribution this groupBy needs, and the persisted
        # diff then feeds groupBy(keys) with no second shuffle. Skew-
        # safe by the relay contract (keys unique per side → ≤2 rows
        # per key). Row content is untouched — layout only.
        both = both.repartition(*[F.col(k) for k in cluster_by])
    delta = (both.groupBy(*cols)
             .agg(F.sum("__w__").alias("__d__"))
             .filter(F.col("__d__") != 0))
    return (delta
            .withColumn(change_col,
                        F.when(F.col("__d__") > 0, F.lit("insert"))
                        .otherwise(F.lit("delete")))
            .withColumn("__r__",
                        F.explode(F.sequence(F.lit(1).cast("long"),
                                             F.abs(F.col("__d__")))))
            .drop("__d__", "__r__"))


def table_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int | None = None,
    change_col: str = "change_type",
    version_col: str = "_commit_version",
) -> DataFrame:
    """Per-COMMIT row-level change feed between two versions — Delta's
    ``table_changes``: every commit in ``(v_from, v_to]`` contributes
    its own ``diff_versions(v-1, v)`` rows stamped with the commit
    number, so consumers see the ORDER in which changes landed (a key
    updated twice appears twice, once per commit), where the plain
    ``diff_versions`` returns only the NET difference. Cost is the sum
    of per-commit changed files — metadata-only commits contribute
    nothing and are skipped entirely from commit metadata; the 100 TB
    body is never rescanned. Exact over any chain (deletes, MoR
    erasure, restores; compactions contribute empty diffs). The range
    may cross RENAMES and ADDITIVE schema evolution (add-column
    alters / ``merge_schema`` appends, lossless widening): every row
    is stamped with the ``v_to`` schema — pre-evolution commits'
    rows NULL-fill the later columns by physical-slot identity, and
    the add-column alter itself contributes nothing (Delta CDF's
    behavior). Destructive evolution (drop/narrow/rewrite) raises,
    same as ``diff_versions``."""
    hi = latest_version(path) if v_to is None else v_to
    if hi is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    if v_from < 0:
        raise ValueError(f"v_from={v_from} must be >= 0")
    if v_from > hi:
        raise ValueError(f"v_from={v_from} is newer than {hi}")
    man_hi = _read_manifest_meta(path, hi)
    schema = _committed_schema(man_hi)
    out_schema = (schema
                  .add(change_col, T.StringType())
                  .add(version_col, T.LongType()))
    parts = []
    if v_from == 0 and hi >= 1:
        # "from table creation" (Delta's starting version 0): nothing
        # precedes v1, so the bootstrap commit's full content IS its
        # change set — every row an insert stamped _commit_version=1.
        # (The generic loop below would try to diff against manifest
        # 00000000.json, which never exists.)
        try:
            man1 = _read_manifest(path, 1)
        except FileNotFoundError:
            raise ValueError(
                f"table_changes: version 1 of {path} was vacuumed out "
                "of the retained window — the requested range "
                f"[0, {hi}] precedes replayable history; start from a "
                "retained version, or bootstrap consumers from a "
                "snapshot read (read_versioned) instead"
            ) from None
        if not _additive_evolution(man1, man_hi):
            raise ValueError(
                "table_changes: schema changed destructively across "
                "the requested range (a drop, narrowing, or type "
                "rewrite) — evolution diffs must be reconciled "
                "explicitly (same contract as diff_versions)"
            )
        # renames/additions in the range: stamp with hi's schema —
        # slot-identity re-label, cast, NULL-fill (Delta CDF's rule)
        d1 = (_evolve_project(_read_snapshot(spark, path, man1),
                              man1, man_hi)
              .withColumn(change_col, F.lit("insert")))
        parts.append(d1.withColumn(version_col, F.lit(1)))
        v_from = 1
    for v in range(v_from + 1, hi + 1):
        man = _read_manifest_meta(path, v)
        prev = _read_manifest_meta(path, v - 1)
        if not _additive_evolution(man, man_hi):
            raise ValueError(
                f"table_changes: version {v} changes the physical "
                "schema destructively (a drop, narrowing, or type "
                "rewrite) — evolution diffs must be reconciled "
                "explicitly"
            )
        # metadata-only commit (alter, empty append, no-op delete with
        # unchanged DVs): provably empty diff, skipped without a scan.
        # Offloaded manifests carry empty `files` in the meta doc, so
        # list equality is only meaningful when NEITHER side offloads
        # — otherwise fall through to diff_versions (which cancels
        # shared files anyway).
        if man.get("action") == "alter":
            continue
        if (not man.get("files_parquet") and not prev.get("files_parquet")
                and man.get("files") == prev.get("files")
                and (man.get("dv_files") or []) == (prev.get("dv_files")
                                                    or [])):
            continue
        d = diff_versions(spark, path, v - 1, v, change_col=change_col)
        # per-commit diffs present their own commit's schema; the feed
        # presents ONE schema — the newest — via slot-identity
        # reconciliation (additivity toward hi proved above; the
        # change column rides through as a passthrough)
        parts.append(_evolve_project(d, man, man_hi)
                     .withColumn(version_col, F.lit(v)))
    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def history(path: str) -> list[dict]:
    """Commit log, oldest first: version, action, parent, file count,
    footer row count, and action extras (predicate / restored_from)."""
    out = []
    for v in _versions(path):
        man = _read_manifest_meta(path, v)
        out.append({
            "version": man["version"],
            "action": man["action"],
            "parent": man["parent"],
            "n_files": man.get("files_count", len(man["files"])),
            "rows": man.get("rows"),
            **({"n_dv_files": len(man["dv_files"])}
               if man.get("dv_files") else {}),
            **({"constraints": sorted(man["constraints"])}
               if man.get("constraints") else {}),
            **{k: man[k] for k in ("predicate", "restored_from",
                                   "cluster_cols", "cluster_scaling",
                                   "cluster_since", "stream_batch_id",
                                   "stream_id", "committed_at",
                                   "merge_on", "strategy",
                                   "renamed", "dropped", "evolved",
                                   "cloned_from", "cloned_version",
                                   "truncated_below")
               if k in man},
        })
    return out


def table_detail(path: str, version: int | None = None) -> dict:
    """DESCRIBE DETAIL from pure metadata (Delta's ``DESCRIBE DETAIL``
    / Iceberg's table summary) — the one-call operational snapshot an
    operator reads before touching a 100 TB table: NO SparkSession
    parameter, so by construction it runs zero jobs and scans zero
    data. Row count comes from the manifest's footer totals (tombstones
    NOT subtracted — stated, like ``history()``); ``size_bytes`` is a
    stat() walk over the chosen version's file list (O(files) metadata
    calls, the same cost class as planning a scan). Reports the commit
    chain's span (``num_versions``, ``oldest_version`` — what a
    time-travel or CDF read can still reach after vacuums), schema,
    column mapping + retired slots, constraints, DV presence, clone
    lineage, and the newest commit's action/timestamp. Pair with
    ``vacuum_versioned(dry_run=True)`` to preview retention changes
    before committing to them."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no versioned table at {path}")
    v = vs[-1] if version is None else version
    man = _read_manifest(path, v)
    size = 0
    for rel in list(man["files"]) + list(man.get("dv_files") or []):
        try:
            size += os.path.getsize(os.path.join(path, rel))
        except OSError:
            pass  # best-effort: a racing vacuum can't fail DESCRIBE
    schema = _committed_schema(man)
    out = {
        "path": os.path.abspath(path),
        "version": v,
        "action": man.get("action"),
        "committed_at": man.get("committed_at"),
        "num_versions": len(vs),
        "oldest_version": vs[0],
        "n_files": man.get("files_count", len(man["files"])),
        "n_dv_files": len(man.get("dv_files") or []),
        "rows": man.get("rows"),
        "size_bytes": size,
        "columns": [(f.name, f.dataType.simpleString())
                    for f in schema.fields],
        "column_mapping": _col_mapping(man),
        "retired_columns": man.get("retired_columns") or [],
        "constraints": man.get("constraints") or {},
    }
    for k in ("cloned_from", "cloned_version"):
        if k in man:
            out[k] = man[k]
    return out


def clone_versioned(src_path: str, dst_path: str,
                    version: int | None = None,
                    as_of=None) -> tuple[int, dict]:
    """ZERO-COPY table clone (Delta's CLONE): materialize ``version``
    of ``src_path`` (default latest; or ``as_of`` a timestamp) as a
    brand-new independent table at ``dst_path`` whose data files are
    HARDLINKS to the source's immutable files — O(files) metadata
    operations, zero bytes copied on the same filesystem (transparent
    copy fallback across devices). The clone is fully independent
    after creation: its own commit chain, vacuum, constraints — data
    files are immutable by the format's contract, and hardlinks make
    deletion per-table safe (each side unlinks its own name; the inode
    lives until both do). Carries the source version's schema, column
    mapping, retired slots, deletion vectors, and CHECK constraints;
    per-directory skipping/bloom/NDV sidecars ride along so the clone
    prunes exactly like the source from the first read.

    The 100 TB use case: a writable sandbox of a production corpus
    (experiment, backfill-rehearsal, migration test) for the cost of
    its manifest — Delta/Iceberg shallow-clone economics WITHOUT the
    dangling-reference hazard (a vacuum on the source can never break
    the clone, because the clone holds its own links). Transaction
    marks (stream batch ids included) are deliberately NOT carried: the
    clone is a NEW table — point a stream at it with a fresh
    checkpoint (re-pointing an existing exactly-once writer at a clone
    and expecting its marks is the classic CLONE footgun).

    Observability contract (round-14 verdict): returns ``(version,
    stats)`` with ``stats = {"files_linked", "files_copied",
    "bytes_copied"}``, so "zero-copy" is a CHECKABLE claim — a
    cross-device destination degrades to a copy per file (EXDEV only;
    any other ``os.link`` error — permissions, quota — propagates
    instead of silently copying 100 TB), counted and warned about on
    the first occurrence. The link loop runs on a thread pool: it is
    pure FS metadata (GIL-released syscalls), and a million-file table
    should cost seconds of driver wall-clock, not a serial hour."""
    import concurrent.futures
    import errno
    import shutil
    import threading
    import warnings

    if latest_version(dst_path) is not None:
        raise ValueError(
            f"clone_versioned: {dst_path} already holds a versioned "
            "table — clone to a fresh path"
        )
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_as_of(src_path, as_of)
    v = latest_version(src_path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versioned table at {src_path}")
    man = _read_manifest(src_path, v)
    files = list(man["files"])
    dvs = list(man.get("dv_files") or [])

    stats = {"files_linked": 0, "files_copied": 0, "bytes_copied": 0}
    lock = threading.Lock()

    def link(rel: str) -> None:
        s = os.path.join(src_path, rel)
        d = os.path.join(dst_path, rel)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        try:
            os.link(s, d)
            with lock:
                stats["files_linked"] += 1
        except OSError as e:
            if e.errno != errno.EXDEV:
                raise  # permissions/quota/IO: surface, don't copy
            shutil.copy2(s, d)  # cross-device: genuine copy fallback
            with lock:
                stats["files_copied"] += 1
                stats["bytes_copied"] += os.path.getsize(d)
                first = stats["files_copied"] == 1
            if first:
                warnings.warn(
                    f"clone_versioned: {dst_path} is on a different "
                    f"device than {src_path} — falling back to full "
                    "copies; this clone is NOT zero-copy",
                    RuntimeWarning, stacklevel=2)

    # per-dir advisory sidecars (stats/blooms/NDV): keyed by physical
    # column names and per-file basenames — both invariant under the
    # clone, so pruning works from the first read
    rels = list(files) + dvs
    for d in sorted({os.path.dirname(rel) for rel in files}):
        for name in (filestats.STATS_SIDECAR, filestats.BLOOM_SIDECAR,
                     filestats.NDV_SIDECAR):
            if os.path.exists(os.path.join(src_path, d, name)):
                rels.append(os.path.join(d, name))
    # pre-create the directories serially (cheap, few), then fan the
    # per-file link/copy calls over a thread pool — each is one
    # GIL-releasing syscall, so the wall-clock is I/O-bound parallel
    for d in sorted({os.path.dirname(rel) for rel in rels}):
        os.makedirs(os.path.join(dst_path, d), exist_ok=True)
    with concurrent.futures.ThreadPoolExecutor(
            max_workers=min(32, (os.cpu_count() or 4) * 2)) as pool:
        for _ in pool.map(link, rels):
            pass  # re-raises the first worker exception, if any
    extra = {"cloned_from": os.path.abspath(src_path),
             "cloned_version": v,
             "column_mapping": _col_mapping(man),
             "retired_columns": man.get("retired_columns") or []}
    if man.get("constraints"):
        extra["constraints"] = man["constraints"]
    ver = _commit(dst_path, "overwrite", files, man["schema"], None,
                  extra, dvs=dvs)
    return ver, dict(stats)


def upgrade_manifest_lists(path: str) -> dict:
    """One-shot maintenance: self-heal EVERY retained version's
    names-only (pre-stats) offloaded manifest list in place
    (``filestats.upgrade_manifest_list``), so no future pruned read —
    of any version, time travel included — ever pays the legacy
    driver-materialize fallback. Idempotent; per-list cost is O(dirs)
    sidecar loads, exactly once. The lazy path heals the list a read
    actually touches; this verb front-loads the whole table during a
    maintenance window. Returns ``{"upgraded", "already_ok",
    "failed"}``."""
    upgraded = ok = failed = 0
    for v in _versions(path):
        meta = _read_manifest_meta(path, v)
        rel = meta.get("files_parquet")
        if not rel:
            continue
        abs_list = os.path.join(_manifest_dir(path), rel)
        try:
            import pyarrow.parquet as pq

            has = "stats" in pq.read_schema(abs_list).names
        except Exception:
            failed += 1
            continue
        if has:
            ok += 1
        elif filestats.upgrade_manifest_list(path, abs_list):
            upgraded += 1
            _MANIFEST_LIST_CACHE.pop((path, v), None)
        else:
            failed += 1
    return {"upgraded": upgraded, "already_ok": ok, "failed": failed}


def _tree_bytes(p: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(p):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def vacuum_versioned(path: str, keep_last: int | None = None,
                     dry_run: bool = False) -> dict:
    """Reclaim storage. Always removes commit debris no manifest
    references: dot-temp write dirs AND orphan attempt dirs (a crashed
    or conflict-losing commit renames its data dir into place but never
    publishes a manifest — the per-attempt uuid in the dir name keeps
    it from colliding with the retry, and this pass reclaims it). With
    ``keep_last=k``, also drops manifests older than the newest k and
    deletes data files no RETAINED manifest references. Never touches a
    file a kept version can still read, and PRESERVES each txn app's
    mark — stream sinks' batch ids included — in a ``_txn_hw.json``
    sidecar before its manifests drop (otherwise a post-vacuum restart
    would re-ingest the replayed epoch — duplicate rows under an
    exactly-once contract).

    ``dry_run=True`` (Delta's VACUUM DRY RUN): report EXACTLY what a
    real run would reclaim — same counters, same walk — plus
    ``bytes_reclaimable``, deleting nothing and writing nothing (the
    txn-mark sidecar fold is skipped too). At 100 TB you preview a
    retention change's blast radius before committing to it; the
    destructive run is a second, explicit call.

    Run with NO CONCURRENT WRITER: an in-flight commit that has renamed
    its attempt dir but not yet published looks exactly like debris.

    ``keep_last`` must be >= 1: 0 would delete every manifest AND every
    data file — including the latest committed state — leaving the
    table unreadable behind an innocuous-looking parameter value.
    Deleting a table is ``shutil.rmtree``, not a vacuum."""
    import shutil

    if keep_last is not None and keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): vacuuming to zero "
            "retained versions deletes the latest committed state and "
            "bricks the table; rmtree the table dir to delete it"
        )
    vs = _versions(path)
    data_dir = os.path.join(path, "data")
    all_referenced: set[str] = set()
    for v in vs:
        man = _read_manifest(path, v)
        all_referenced.update(man["files"])
        # deletion-vector parquet files are manifest state too — a
        # vacuum that reclaimed them would resurrect tombstoned rows
        all_referenced.update(man.get("dv_files") or [])
    referenced_dirs = {rel.split(os.sep)[1] for rel in all_referenced
                       if rel.startswith("data" + os.sep)}
    removed_tmp = 0
    reclaimable = 0
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            if name.startswith(".tmp-") or name not in referenced_dirs:
                sub = os.path.join(data_dir, name)
                if dry_run:
                    reclaimable += _tree_bytes(sub)
                else:
                    shutil.rmtree(sub, ignore_errors=True)
                removed_tmp += 1
    # orphan manifest-list sidecars: written by a crashed or
    # conflict-losing commit whose manifest never published
    mdir = _manifest_dir(path)
    if os.path.isdir(mdir):
        referenced_lists = set()
        for v in vs:
            rel = _read_manifest(path, v).get("files_parquet")
            if rel:
                referenced_lists.add(rel)
        for name in os.listdir(mdir):
            if ((name.endswith(".parquet")
                 and "-files-" in name
                 and name not in referenced_lists)
                    or name.startswith(".tmp-")):
                try:
                    if dry_run:
                        reclaimable += os.path.getsize(
                            os.path.join(mdir, name))
                    else:
                        os.remove(os.path.join(mdir, name))
                    removed_tmp += 1
                except OSError:
                    pass
    dropped_manifests, dropped_files = 0, 0
    if keep_last is not None and len(vs) > keep_last:
        keep = set(vs[-keep_last:])
        referenced: set[str] = set()
        for v in keep:
            man = _read_manifest(path, v)
            referenced.update(man["files"])
            referenced.update(man.get("dv_files") or [])
        # fold dropped manifests' txn marks (stream batch ids included)
        # into the sidecar BEFORE removing them
        txn_hw: dict[str, int] = {}
        txn_sidecar = os.path.join(path, _TXN_HW_FILE)
        if os.path.exists(txn_sidecar):
            with open(txn_sidecar) as f:
                txn_hw = json.load(f)
        for v in vs:
            if v in keep:
                continue
            man = _read_manifest_meta(path, v)
            app, tver = man.get("txn_app"), man.get("txn_version")
            if app is not None and tver is not None:
                txn_hw[app] = max(tver, txn_hw.get(app, tver))
        if txn_hw and not dry_run:
            tmp = txn_sidecar + ".tmp"
            with open(tmp, "w") as f:
                json.dump(txn_hw, f)
            os.replace(tmp, txn_sidecar)
        dropping: set[str] = set()
        for v in vs:
            if v in keep:
                continue
            man = _read_manifest(path, v)
            for rel in (list(man["files"])
                        + list(man.get("dv_files") or [])):
                if rel not in referenced and rel not in dropping:
                    fp = os.path.join(path, rel)
                    if os.path.exists(fp):
                        dropping.add(rel)
                        if dry_run:
                            reclaimable += os.path.getsize(fp)
                        else:
                            os.remove(fp)
                        dropped_files += 1
            fp_rel = man.get("files_parquet")
            if fp_rel:
                abs_list = os.path.join(_manifest_dir(path), fp_rel)
                if dry_run:
                    try:
                        reclaimable += os.path.getsize(abs_list)
                    except OSError:
                        pass
                else:
                    try:
                        os.remove(abs_list)
                    except OSError:
                        pass
                    _MANIFEST_LIST_CACHE.pop((path, v), None)
            mpath = os.path.join(_manifest_dir(path), f"{v:08d}.json")
            if dry_run:
                try:
                    reclaimable += os.path.getsize(mpath)
                except OSError:
                    pass
            else:
                os.remove(mpath)
            dropped_manifests += 1
        # prune dead data directories: manifests reference ONLY
        # .parquet files, so once a dir's last parquet file is dropped
        # nothing retained can read it — remove it whole, including
        # writer debris (_SUCCESS, .crc) and the stats sidecar. (The
        # old `not listdir` check never fired: Spark's committer
        # always leaves _SUCCESS/.crc behind the dropped parquet.)
        if os.path.isdir(data_dir):
            for name in sorted(os.listdir(data_dir)):
                sub = os.path.join(data_dir, name)
                if not os.path.isdir(sub):
                    continue
                live = [f for f in os.listdir(sub)
                        if f.endswith(".parquet")]
                if dry_run:
                    # a dir is dead AFTER the simulated drops if every
                    # parquet it holds is in the dropping set — its
                    # writer debris (sidecars, _SUCCESS, .crc) goes too
                    rels = {os.path.join("data", name, f) for f in live}
                    if rels and rels <= dropping:
                        reclaimable += sum(
                            _tree_bytes(os.path.join(sub, f))
                            if os.path.isdir(os.path.join(sub, f))
                            else os.path.getsize(os.path.join(sub, f))
                            for f in os.listdir(sub)
                            if not f.endswith(".parquet"))
                elif not live:
                    shutil.rmtree(sub, ignore_errors=True)
    out = {
        "orphan_tmp_dirs": removed_tmp,
        "manifests_dropped": dropped_manifests,
        "data_files_dropped": dropped_files,
    }
    if dry_run:
        out["dry_run"] = True
        out["bytes_reclaimable"] = reclaimable
    return out
