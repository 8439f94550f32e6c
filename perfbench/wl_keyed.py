"""The keyed side of table_maintenance — the write-beside-read path of a
versioned table: keyed upserts (``merge_versioned``), CDC batches
(``apply_cdc``), merge-on-read deletes, pruned and time-travel reads,
and incremental replication to a replica table.

Two copies of one seeded base table, each written as ``N_FILES``
range-partitioned files, take different batches: the clustered table
gets key-clustered batches, so the bounds pre-cut can skip most files;
the scattered table gets batches spread over the whole key space, so it
cannot. Every read and the replica are checked against an in-memory
key -> row model.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.harness import check, dir_stats

N_ROWS = 200_000
N_FILES = 16
MERGE_SHARE = 0.01         # merge batch rows per table row (2 000 at N_ROWS)
CDC_SHARE = 0.005          # CDC batch rows per table row (1 000 at N_ROWS)
DELETE_SPAN = 400          # key span of a merge-on-read delete (~200 rows)
READ_SPAN = 4_000          # key span of a pruned read (~2 000 rows)


class Table:
    """A versioned table and its model: a frame indexed by key, plus the
    (count, sum of ``a``) of every committed version."""

    def __init__(self, path: str, kind: str, base: pd.DataFrame, version: int) -> None:
        self.path, self.kind = path, kind
        self.model = base.set_index("k").sort_index()
        self.history = {version: self._agg()}
        self.version = version

    def _agg(self) -> tuple[int, int]:
        return len(self.model), int(self.model["a"].sum())

    def commit(self, version: int) -> None:
        self.version = version
        self.history[version] = self._agg()

    def upsert(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index("k")[["a", "b", "s"]]
        self.model = pd.concat([self.model.drop(rows.index, errors="ignore"),
                                rows.astype(self.model.dtypes.to_dict())]).sort_index()

    def delete_keys(self, keys) -> None:
        self.model = self.model.drop(keys, errors="ignore")


def _frame_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got = got.sort_values("k").reset_index(drop=True)
    want = want.reset_index().sort_values("k").reset_index(drop=True)
    return (len(got) == len(want)
            and np.array_equal(got["k"].to_numpy(), want["k"].to_numpy())
            and np.array_equal(got["a"].to_numpy(), want["a"].to_numpy())
            and np.array_equal(got["b"].to_numpy(), want["b"].to_numpy())
            and list(got["s"]) == list(want["s"]))


class KeyedTables:
    COMMITS = ("merge", "apply_cdc", "delete_mor")
    READS = ("read", "read_as_of")

    def __init__(self, spark, rec, work: str, seed: int) -> None:
        self.spark, self.rec, self.seed = spark, rec, seed
        self.dir = os.path.join(work, "keyed")
        self.rng = np.random.default_rng([seed, 20])
        self.commit_rows = 0
        self.commit_s = 0.0
        self.amp_point: list[tuple[int, pd.DataFrame]] = []

    # -- inputs --------------------------------------------------------- #
    def generate(self) -> None:
        self.base = gen.keyed_base(self.seed, N_ROWS)
        self.width = 2 * N_ROWS // (2 * N_FILES)   # half of a file's key range
        self.merge_rows = int(N_ROWS * MERGE_SHARE)
        self.cdc_rows = int(N_ROWS * CDC_SHARE)

    def write_base(self) -> None:
        """Write the base table as range-partitioned files, replacing any
        earlier write (the runner repeats this set-up step)."""
        from lazy_frame_spark.sources import versioned as V

        self.clustered = os.path.join(self.dir, "clustered")
        shutil.rmtree(self.clustered, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)
        df = self.spark.createDataFrame(self.base).repartitionByRange(N_FILES, "k")
        with self.rec.call("sources.versioned.write", "sources.versioned"):
            self.base_version = V.write_versioned(df, self.clustered)

    def prepare(self) -> None:
        """Copy the base table for the scattered batches and bootstrap
        the replica."""
        from lazy_frame_spark.sources import versioned as V

        scattered = os.path.join(self.dir, "scattered")
        shutil.copytree(self.clustered, scattered)
        v = self.base_version
        self.tables = [Table(self.clustered, "clustered", self.base, v),
                       Table(scattered, "scattered", self.base, v)]
        self.replica = os.path.join(self.dir, "replica")
        V.replicate_versioned(self.spark, self.clustered, self.replica, on="k")
        self.pairs = 0

    # -- one round ---------------------------------------------------- #
    def pair(self) -> None:
        """Commits and reads on the clustered table, then the same commits
        on the scattered one; space amplification is snapshotted after the
        first measured pair."""
        self.table_round(self.tables[0])
        self.table_round(self.tables[1], self.COMMITS)
        self.pairs += 1
        if self.rec.counting and not self.amp_point:
            self.amp_point = [(dir_stats(t.path)[0], t.model.copy()) for t in self.tables]

    def table_round(self, t: Table, steps=None) -> None:
        for step in steps or self.COMMITS + self.READS:
            with self.rec.op(step):
                getattr(self, step)(t)

    def _commit(self, t: Table, verb: str, fn, batch: pd.DataFrame | None):
        """Run one commit call with the outside-in counters around it."""
        rec = self.rec
        before = dir_stats(t.path) if rec.trace else None
        with rec.call(f"sources.versioned.{verb}", "sources.versioned",
                      batch_kind=t.kind) as c:
            version, stats = fn()
        c["stats"] = stats
        if rec.counting:
            self.commit_s += c["ms"] / 1e3
            self.commit_rows += len(batch) if batch is not None else 0
        if before is not None:
            after = dir_stats(t.path)
            c["bytes_added"] = after[0] - before[0]
            c["files_after"] = stats.get("files_carried", 0) + stats.get(
                "files_written", stats.get("files_rewritten", 0))
            c["batch_bytes"] = (gen.parquet_bytes(_arrow(batch))
                                if batch is not None else 0)
        return version, stats

    def merge(self, t: Table) -> None:
        from lazy_frame_spark.sources import versioned as V

        batch = gen.merge_batch(self.rng, t.model.index.to_numpy(), self.merge_rows,
                                t.kind == "clustered", self.width)
        src = self.spark.createDataFrame(batch)
        v, _ = self._commit(t, "merge", lambda: V.merge_versioned(
            self.spark, t.path, src, on="k"), batch)
        t.upsert(batch)
        t.commit(v)

    def apply_cdc(self, t: Table) -> None:
        from lazy_frame_spark.sources import versioned as V

        batch = gen.cdc_batch(self.rng, t.model.index.to_numpy(), self.cdc_rows,
                              t.kind == "clustered", self.width)
        src = self.spark.createDataFrame(batch)
        v, _ = self._commit(t, "apply_cdc", lambda: V.apply_cdc(
            self.spark, t.path, src, on="k", op_col="op"), batch)
        dele = batch["op"] == "D"
        t.delete_keys(batch.loc[dele, "k"].to_numpy())
        t.upsert(batch.loc[~dele, ["k", "a", "b", "s"]])
        t.commit(v)

    def delete_mor(self, t: Table) -> None:
        from lazy_frame_spark.sources import versioned as V

        keys = t.model.index.to_numpy()
        lo = int(self.rng.integers(int(keys.min()), int(keys.max()) - DELETE_SPAN))
        hi = lo + DELETE_SPAN
        gone = keys[(keys >= lo) & (keys < hi)]
        v, stats = self._commit(t, "delete_mor", lambda: V.delete_versioned(
            self.spark, t.path, f"k >= {lo} AND k < {hi}", strategy="merge-on-read"),
            None)
        if self.rec.counting:
            self.commit_rows += len(gone)
        check(stats.get("rows_deleted") == len(gone),
              f"delete_mor rows_deleted {stats.get('rows_deleted')} != {len(gone)}")
        t.delete_keys(gone)
        t.commit(v)

    def read(self, t: Table) -> None:
        """Pruned read of a key window, compared row by row."""
        from lazy_frame_spark.sources import versioned as V

        keys = t.model.index.to_numpy()
        lo = int(self.rng.integers(int(keys.min()), int(keys.max()) - READ_SPAN))
        hi = lo + READ_SPAN
        with self.rec.call("sources.versioned.read", "sources.versioned"):
            got = V.read_versioned(self.spark, t.path,
                                   where=[("k", ">=", lo), ("k", "<", hi)]).toPandas()
        want = t.model.loc[(t.model.index >= lo) & (t.model.index < hi)]
        check(_frame_equal(got, want), f"pruned read [{lo}, {hi}) of {t.kind}")

    def _agg(self, path: str):
        from pyspark.sql import functions as F

        from lazy_frame_spark.sources import versioned as V

        return V.read_versioned(self.spark, path).agg(
            F.count("*"), F.sum("a"), F.sum("b"), F.min("k"), F.max("k")).collect()[0]

    def _check_agg(self, row, model: pd.DataFrame, what: str) -> None:
        check(row[0] == len(model) and row[1] == int(model["a"].sum())
              and np.isclose(row[2], model["b"].sum(), rtol=1e-9)
              and row[3] == int(model.index.min()) and row[4] == int(model.index.max()),
              f"{what}: {tuple(row)}")

    def read_as_of(self, t: Table) -> None:
        from pyspark.sql import functions as F

        from lazy_frame_spark.sources import versioned as V

        version = max(v for v in t.history if v <= t.version - 2) if len(t.history) > 2 \
            else min(t.history)
        with self.rec.call("sources.versioned.read_as_of", "sources.versioned"):
            row = V.read_versioned(self.spark, t.path, version=version).agg(
                F.count("*"), F.sum("a")).collect()[0]
        check((row[0], row[1]) == t.history[version],
              f"time travel to v{version} of {t.kind}: {tuple(row)} != {t.history[version]}")

    def replicate(self) -> None:
        from lazy_frame_spark.sources import versioned as V

        t = self.tables[0]
        with self.rec.op("replicate"):
            with self.rec.call("sources.versioned.replicate", "sources.versioned"):
                V.replicate_versioned(self.spark, t.path, self.replica, on="k")

    def final_checks(self) -> None:
        """Each table's latest snapshot and the replica against the model:
        count, sums and key range (pruned reads compared rows already)."""
        for t in self.tables:
            with self.rec.op("check_latest"):
                self._check_agg(self._agg(t.path), t.model, f"latest read of {t.kind}")
        with self.rec.op("check_replica"):
            self._check_agg(self._agg(self.replica), self.tables[0].model, "replica")

    # -- results ------------------------------------------------------- #
    def finish(self) -> None:
        self.final_checks()

    def space(self) -> tuple[int, int]:
        """(table bytes on disk, bytes of one fresh parquet write of the
        same snapshots) after the first pair."""
        held = sum(nbytes for nbytes, _ in self.amp_point)
        fresh = sum(gen.parquet_bytes(_arrow(model.reset_index()))
                    for _, model in self.amp_point)
        return held, fresh

    def commit_samples(self) -> list[float]:
        return [ms for verb in self.COMMITS
                for ms in self.rec.samples.get(f"sources.versioned.{verb}", ())]

    def details(self) -> dict:
        from perfbench.harness import timing

        s = self.rec.samples
        return {
            "commit_ms": timing(self.commit_samples()),
            "read_ms": timing(s.get("sources.versioned.read", [])
                              + s.get("sources.versioned.read_as_of", [])),
            "replicate_ms": timing(s["sources.versioned.replicate"]),
            "commit_rows_per_s": self.commit_rows / self.commit_s,
            "pairs": self.pairs,
            "table_rows": N_ROWS,
            "table_files": N_FILES,
        }


def _arrow(df: pd.DataFrame):
    import pyarrow as pa

    return pa.Table.from_pandas(df, preserve_index=False)
