"""Streaming READS of versioned tables — ``readStream`` over the
commit log, the consumption half of the exactly-once story
(``versioned_stream_writer`` is the production half).

Shape (the Delta "table as a stream" model, built on the Python
DataSource stream API):

- **Offsets are VERSIONS.** ``initialOffset`` = ``starting_version``
  (default 0: replay the whole append history), ``latestOffset`` =
  the table's newest committed version. Manifests are immutable, so
  ``partitions(start, end)`` is deterministic — a restarted stream
  re-plans the identical batch from its checkpointed offsets, which is
  what makes the source exactly-once under Spark's at-least-once
  micro-batch replay.
- **Partitions are FILES.** The files appended between two versions
  come straight out of the manifest diff (the same chain rules as
  ``appended_since``: ``append`` commits contribute their new files,
  metadata-only commits contribute none, and any destructive action —
  delete/overwrite/merge/restore/cluster — fails the stream loudly
  instead of silently re-emitting or dropping rows; re-seed from a
  fresh snapshot read + a new ``starting_version`` after such a
  commit, exactly Delta's contract). One ``InputPartition`` per file:
  a 1000-file append fans out over the cluster, nothing flows through
  the driver.
- **Reads are Arrow, executor-side.** Each task reads its one parquet
  file with pyarrow and yields RecordBatches cast/padded to the schema
  FIXED AT STREAM START — files written before an additive evolution
  stream their missing columns as typed NULLs, narrow pre-widening
  files up-cast, and a column added mid-stream starts flowing after
  the consumer restarts (Delta's rule).

Start position: ``starting_version`` (default 0 = full history, with
the v1 bootstrap overwrite counting as the chain's first append) or
``starting_timestamp`` (AS-OF resolution via ``version_as_of``).

Deletion vectors: a DV commit masks rows in FILES ALREADY EMITTED by
earlier batches — a stream cannot retract delivered rows, so DV
commits (action ``delete`` with merge-on-read) fail the chain like any
other destructive action even though the FILE list stays identical:
``partitions()`` tracks the manifest's ``dv_files`` across the version
walk and raises on any change that can move a row of a current file
(a commit that only retires DVs masking none of its files moves
none). Consumers that need retractions stream
a ``relay_changes`` feed instead (``versioned.relay_changes`` — the
change feed is append-only by construction, so this source can tail
it; upstream deletes arrive as D op rows), or read ``diff_versions``
batch-wise.

Reference parity note: the reference (bwlewis/lazy.frame) has no
streaming surface; this module extends the engine's versioned format
(``sources/versioned.py``) the way Structured Streaming extends any
Spark source.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = [
    "VersionedTableDataSource",
    "register_versioned_source",
    "versioned_stream_read",
]

#: actions that may appear inside a streamed version range: appends
#: carry the new files; these metadata-only actions carry none and are
#: safe to stream across (same set appended_since treats as additive)
_SAFE_NO_FILE_ACTIONS = {"alter"}


def _spark_type_to_arrow(t):
    import pyarrow as pa

    s = t.simpleString()
    table = {
        "boolean": pa.bool_(), "tinyint": pa.int8(),
        "smallint": pa.int16(), "int": pa.int32(),
        "bigint": pa.int64(), "float": pa.float32(),
        "double": pa.float64(), "string": pa.string(),
        "date": pa.date32(), "binary": pa.binary(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in table:
        return table[s]
    if s.startswith("decimal"):
        return pa.decimal128(t.precision, t.scale)
    raise ValueError(
        f"versioned stream source: column type {s!r} has no Arrow "
        "mapping — supported: primitive/decimal columns"
    )


def _manifest_schema_ddl(schema_json: str) -> str:
    """Render a manifest's schema JSON as the DDL string handed to
    ``readStream.schema()`` / declared by ``DataSource.schema()``. ONE
    shared renderer: the driver-side fast path in
    ``versioned_stream_read`` and the worker-side declaration in
    ``VersionedTableDataSource.schema()`` must never diverge (quoting,
    nullability, type rendering — they describe the same manifest).
    Backticks in field names are escaped per SQL identifier-quoting
    rules (`` ` `` doubles to ```` `` ````)."""
    from pyspark.sql import types as T

    sch = T.StructType.fromJson(json.loads(schema_json))
    return ", ".join(
        f"`{f.name.replace('`', '``')}` {f.dataType.simpleString()}"
        for f in sch.fields)


@dataclass
class _FilePartition(InputPartition):
    abs_path: str
    schema_json: str
    mapping_json: str = "{}"


class VersionedStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        from lazy_frame_spark.sources import versioned as V

        self.path = options["path"]
        if "starting_timestamp" in options:
            if "starting_version" in options:
                raise ValueError(
                    "versioned stream source: starting_version and "
                    "starting_timestamp are mutually exclusive")
            # AS-OF resolution: consume appends AFTER the newest
            # version committed at or before the timestamp. Options
            # arrive stringly-typed; recover the epoch-seconds domain
            # before handing to version_as_of (ISO strings pass as-is)
            ts = options["starting_timestamp"]
            try:
                ts = float(ts)
            except (TypeError, ValueError):
                pass
            self.start_version = int(V.version_as_of(self.path, ts))
        else:
            self.start_version = int(options.get("starting_version", 0))
        # admission control (Delta's maxFilesPerTrigger, steady-state
        # half): from a run's SECOND micro-batch on, each batch admits
        # whole VERSIONS until the next would exceed this many files
        # (always >= 1 version, so progress is guaranteed), decided
        # from manifest META counts only. A run's FIRST batch cannot be
        # capped on this API: the engine asks latestOffset before
        # initialOffset and never reveals the checkpointed start, so a
        # blind cap could return an offset behind a resumed query's
        # checkpoint and stall it permanently (probed, recorded in
        # NEXT.md). Bounding a cold backfill therefore needs
        # starting_version; the cap's value is steady-state tailing —
        # a burst of appends lands as bounded batches, not one giant
        # one.
        mfpb = options.get("max_files_per_batch")
        self.max_files_per_batch = int(mfpb) if mfpb is not None else None
        if self.max_files_per_batch is not None \
                and self.max_files_per_batch < 1:
            raise ValueError("max_files_per_batch must be >= 1")
        self._hwm = self.start_version
        # anchored by the first partitions()/commit() of the run — only
        # then does the mark reflect the query's true position
        self._hwm_known = False
        # the stream's schema is FIXED at query start (Spark resolves
        # it once): pad pre-evolution files up to it, project newer
        # files' extra columns away — a column added mid-stream starts
        # flowing after the consumer restarts, Delta's rule
        v = V.latest_version(self.path)
        if v is None:
            raise FileNotFoundError(
                f"no versioned table at {self.path}")
        man0 = V._read_manifest(self.path, v)
        self.schema_json = man0["schema"]
        # the version whose schema this query fixed: rename commits AT
        # OR BEFORE it are history already folded into the fixed
        # schema and replay safely; one AFTER it breaks the run
        self.schema_version = v
        # logical→physical column mapping, fixed PER RUN like the
        # schema: files always store PHYSICAL names, so a table
        # renamed BEFORE the run started reads seamlessly; a rename
        # DURING the run fails the chain in partitions(). A RESTART
        # rebuilds this reader and re-resolves both, so a resumed
        # query ADOPTS a rename that landed between runs and delivers
        # its pending rows under the new spelling — values exact by
        # physical identity. (Delta fails that restart unless schema
        # tracking is configured; adoption is this source's DEFAULT
        # contract, pinned end-to-end in tests — the sink sees the
        # spelling change. on_schema_change='fail' opts into the
        # Delta-strict contract instead: pending rows committed under
        # a retired spelling refuse to flow under the adopted schema —
        # the right choice for exactly-once writers into systems keyed
        # by column NAME, where a silent spelling change downstream is
        # data corruption.)
        self.mapping_json = json.dumps(V._col_mapping(man0))
        self.on_schema_change = str(
            options.get("on_schema_change", "adopt")).lower()
        if self.on_schema_change not in ("adopt", "fail"):
            raise ValueError(
                "versioned stream source: on_schema_change must be "
                f"'adopt' or 'fail', got {self.on_schema_change!r}")

    # ---- offsets (driver) ------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        from lazy_frame_spark.sources import versioned as V

        v = V.latest_version(self.path)
        if v is None:
            raise FileNotFoundError(
                f"no versioned table at {self.path}")
        head = max(v, self.start_version)
        if (self.max_files_per_batch is None or self._hwm >= head
                or not self._hwm_known):
            # no cap, nothing new, or a run's FIRST batch: the engine
            # calls latestOffset before initialOffset (probed — even on
            # fresh queries), and never shows this method the
            # checkpointed start, so capping here could hand back an
            # offset BEHIND a resumed query's checkpoint and stall it
            # forever. The first batch therefore runs uncapped;
            # partitions()/commit() anchor the mark and the cap
            # engages from the second micro-batch of the run.
            return {"version": head}

        def n_files(u: int) -> int:
            man = V._read_manifest_meta(self.path, u)
            return man.get("files_count", len(man.get("files") or []))

        try:
            cur, admitted, prev_n = self._hwm, 0, (
                n_files(self._hwm) if self._hwm else 0)
            for u in range(self._hwm + 1, head + 1):
                nn = n_files(u)
                n = max(0, nn - prev_n)
                prev_n = nn
                if cur > self._hwm \
                        and admitted + n > self.max_files_per_batch:
                    break
                admitted += n
                cur = u
        except FileNotFoundError:
            # a vacuum dropped a manifest in (hwm, head] mid-run: the
            # cap math can't see the chain, but the chain itself is
            # gone too — give the standard re-seed guidance instead of
            # a raw FileNotFoundError (partitions() would hit the same
            # wall; failing here is just earlier and clearer)
            raise ValueError(
                "versioned stream source: a manifest in "
                f"({self._hwm}, {head}] of {self.path} was vacuumed "
                "out from under the running stream — the version chain "
                "can no longer be replayed; re-seed the stream from a "
                "snapshot read with a fresh checkpoint and "
                f"starting_version={head}"
            ) from None
        return {"version": cur}

    # ---- planning (driver) -----------------------------------------
    def partitions(self, start: dict, end: dict):
        from lazy_frame_spark.sources import versioned as V

        lo, hi = int(start["version"]), int(end["version"])
        schema_json = self.schema_json
        new_files: list[str] = []
        try:
            if lo:
                base = V._read_manifest(self.path, lo)
                prev_files = set(base["files"])
                prev_dvs = set(base.get("dv_files") or [])
            else:
                prev_files, prev_dvs = set(), set()
        except FileNotFoundError:
            raise ValueError(
                f"versioned stream source: manifest {lo} of "
                f"{self.path} was vacuumed out from under the running "
                "stream — the checkpointed position can no longer be "
                "replayed; re-seed the stream from a snapshot read "
                f"with a fresh checkpoint and starting_version={hi}"
            ) from None
        for v in range(lo + 1, hi + 1):
            try:
                man = V._read_manifest(self.path, v)
            except FileNotFoundError:
                raise ValueError(
                    f"versioned stream source: manifest {v} of "
                    f"{self.path} was vacuumed out from under the "
                    "running stream — the version chain can no longer "
                    "be replayed; re-seed the stream from a snapshot "
                    "read with a fresh checkpoint and "
                    f"starting_version={hi}"
                ) from None
            action = man.get("action")
            if man.get("renamed") and v > self.schema_version:
                # a RENAME COLUMN landed mid-stream: this query's
                # schema was fixed at start (Delta's rule) and would
                # keep emitting the retired spelling — fail loudly
                # instead of silently presenting stale names
                r = man["renamed"]
                raise ValueError(
                    f"versioned stream source: version {v} renamed "
                    f"column {r['from']!r} to {r['to']!r} — the "
                    "stream's schema is fixed at query start; restart "
                    "the stream (new checkpoint) to pick up the new "
                    "schema"
                )
            if man.get("dropped") and v > self.schema_version:
                d = man["dropped"]
                raise ValueError(
                    f"versioned stream source: version {v} dropped "
                    f"column {d['name']!r} — the stream's schema is "
                    "fixed at query start; restart the stream (new "
                    "checkpoint) to pick up the new schema"
                )
            if (man.get("renamed") or man.get("dropped")) \
                    and self.on_schema_change == "fail":
                # Delta-strict mode: rows pending in this range were
                # committed under a spelling this run's schema no
                # longer carries — in 'fail' mode they refuse to flow
                # under the adopted schema (the default 'adopt'
                # delivers them re-labeled, exact by physical
                # identity). A name-keyed exactly-once sink opts in
                # here so a restart can never silently change the
                # spelling it emits.
                ch = man.get("renamed") or man.get("dropped")
                raise ValueError(
                    f"versioned stream source: version {v} changed "
                    f"the schema ({ch}) below this run's pending "
                    "range and on_schema_change='fail' — refusing to "
                    "deliver rows committed under the old spelling "
                    "beneath the adopted schema; restart with "
                    f"starting_version at/after {v} (accepting the "
                    "gap), re-seed from a snapshot read, or use "
                    "on_schema_change='adopt' (the default) to "
                    "deliver them re-labeled"
                )
            cur = set(man["files"])
            cur_dvs = set(man.get("dv_files") or [])
            if cur_dvs - prev_dvs or V._live_dvs(
                    self.path, prev_dvs - cur_dvs, cur):
                # a merge-on-read delete keeps the FILE list identical
                # (only dv_files grows, versioned.py delete_versioned)
                # — but it masks rows in files already emitted by
                # earlier batches, which a stream cannot retract. An
                # added DV, or a dropped one still targeting a current
                # file (a restore un-deleting rows), is therefore as
                # destructive to the chain as a rewrite; an inherited-
                # unchanged DV list, or a commit retiring DVs that mask
                # none of its files (versioned._live_dvs), is fine.
                raise ValueError(
                    f"versioned stream source: version {v} changed the "
                    "table's deletion vectors (merge-on-read delete) — "
                    "the append-only chain is broken; re-seed the "
                    "stream from a snapshot read with "
                    f"starting_version={v}, or consume retractions via "
                    "relay_changes/diff_versions (the CDC view)"
                )
            if action == "append":
                new_files.extend(sorted(cur - prev_files))
            elif action == "overwrite" and v == 1:
                # the table's BOOTSTRAP snapshot: nothing precedes it,
                # so its files are the chain's first "append" (any
                # later overwrite discards delivered rows and fails)
                new_files.extend(sorted(cur))
            elif action in _SAFE_NO_FILE_ACTIONS or cur == prev_files:
                pass
            else:
                raise ValueError(
                    f"versioned stream source: version {v} is a "
                    f"{action!r} commit — the append-only chain is "
                    "broken; re-seed the stream from a snapshot read "
                    f"with starting_version={v}"
                )
            prev_files = cur
            prev_dvs = cur_dvs
        self._hwm = max(self._hwm, hi)
        self._hwm_known = True
        return [
            _FilePartition(os.path.join(self.path, rel), schema_json,
                           self.mapping_json)
            for rel in new_files
        ]

    # ---- reading (executors) ---------------------------------------
    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T

        sch = T.StructType.fromJson(json.loads(partition.schema_json))
        mapping = json.loads(partition.mapping_json or "{}")
        target = pa.schema(
            [(f.name, _spark_type_to_arrow(f.dataType)) for f in sch]
        )
        tbl = pq.read_table(partition.abs_path)
        cols = []
        for field in target:
            phys = mapping.get(field.name, field.name)
            if phys in tbl.column_names:
                cols.append(tbl[phys].cast(field.type))
            else:
                # pre-evolution file: the committed-schema read pads
                # the missing column as typed NULL, same as batch
                cols.append(pa.nulls(len(tbl), field.type))
        out = pa.table(dict(zip(target.names, cols)), schema=target)
        yield from out.to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        self._hwm = max(self._hwm, int(end["version"]))
        self._hwm_known = True


class VersionedTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "lfs_table"

    def schema(self) -> str:
        from lazy_frame_spark.sources import versioned as V

        path = self.options["path"]
        v = V.latest_version(path)
        if v is None:
            raise FileNotFoundError(f"no versioned table at {path}")
        return _manifest_schema_ddl(V._read_manifest(path, v)["schema"])

    def streamReader(self, schema) -> VersionedStreamReader:
        return VersionedStreamReader(dict(self.options))


def register_versioned_source(spark) -> None:
    """Idempotent registration of the ``lfs_table`` stream format."""
    spark.dataSource.register(VersionedTableDataSource)


def versioned_stream_read(spark, path: str,
                          starting_version: int | None = None,
                          starting_timestamp=None,
                          max_files_per_batch: int | None = None,
                          on_schema_change: str = "adopt"):
    """``spark.readStream`` over a versioned table's append chain —
    each micro-batch delivers the rows committed since the stream's
    checkpointed version, exactly once, as file-grain executor
    partitions. ``starting_version=0`` (the default) replays the full
    history; pass the current version to consume only future appends,
    or ``starting_timestamp`` (epoch seconds / ISO-8601, the same
    domain as ``read_versioned(as_of=...)``) to start after the
    newest version committed at or before that instant.
    ``max_files_per_batch`` (Delta's maxFilesPerTrigger) bounds every
    micro-batch AFTER a run's first to whole versions totalling at
    most that many files (always >= 1 version) — steady-state
    admission control for continuous tailing, so a burst of appends
    lands as bounded batches. A run's first batch is uncapped by API
    constraint (the engine asks latestOffset before initialOffset and
    hides the checkpointed start — a blind cap would stall resumed
    queries); bound a cold backfill with ``starting_version``.
    ``on_schema_change``: ``'adopt'`` (default) lets a RESTART pick up
    a rename/drop that landed between runs and deliver pending rows
    re-labeled under the new schema (exact by physical identity);
    ``'fail'`` is the Delta-strict contract — pending rows committed
    under a retired spelling refuse to flow beneath the adopted
    schema, for exactly-once writers into name-keyed systems."""
    if starting_version is not None and starting_timestamp is not None:
        raise ValueError(
            "starting_version and starting_timestamp are mutually "
            "exclusive")
    register_versioned_source(spark)
    # resolve the schema HERE, driver-side, from the same manifest
    # DataSource.schema() would read in its worker: the driver already
    # has the manifest a os.stat away, while the schema() path costs a
    # create_data_source Python-worker round trip per load() (measured
    # ~0.1-0.2 s per drain). The reader re-fixes its own schema from
    # the newest manifest at query start exactly as before — this only
    # skips Spark asking a subprocess for a string the driver knows.
    from lazy_frame_spark.sources import versioned as V

    v = V.latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    ddl = _manifest_schema_ddl(V._read_manifest_meta(path, v)["schema"])
    r = (spark.readStream.format("lfs_table").schema(ddl)
         .option("path", path))
    if starting_timestamp is not None:
        r = r.option("starting_timestamp", str(starting_timestamp))
    else:
        r = r.option("starting_version", starting_version or 0)
    if max_files_per_batch is not None:
        r = r.option("max_files_per_batch", int(max_files_per_batch))
    if on_schema_change != "adopt":
        r = r.option("on_schema_change", on_schema_change)
    return r.load()
