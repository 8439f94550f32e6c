"""lazy_scan — the paper's own workload: a cached open of a delimited
file, the positional index build on first touch, a mix of positional
and predicate queries on that index, and one-shot ``cache=False``
full-file ``col20 > 0`` scans that bypass it, one after every second
rotation of the mix.

Layers: sources.csv (open), rowid (index build), frame (positional
ops), functions.compare (the typed predicate scan). No versioned work.
"""

from __future__ import annotations

import os
import statistics
import warnings

import numpy as np
import pyarrow.csv as pacsv

from perfbench import gen
from perfbench.harness import check

N_ROWS = 200_000
#: positional ops in the fixed rotation; a rotation runs each of them
#: once, so every seed sees the same mix. Every SCAN_EVERY-th rotation,
#: from the first, ends with one ``cache=False`` scan, so the scans
#: spread over the whole run as the positional calls do
OPS = ("row_range", "rows", "head", "tail", "which", "filter")
SCAN_EVERY = 2
#: rotations of the untimed warm-up cycle on the measured file. The
#: driver JVM's JIT keeps speeding the calls up for a few hundred queries,
#: and how fast it gets there varies with the host's load; the warm-up
#: moves the measured rotations onto the flatter part of that curve
WARM_ROTATIONS = 10
#: length of one measured rotation on a 4-vCPU host; a run measures one
#: cycle of ``round(--seconds / ROTATION_S)`` rotations (at least 6): 17
#: at ``--seconds 26``, 102 positional samples, enough for a p90 with ten
#: samples beyond it, and 9 scans. The count is fixed by ``--seconds``
#: alone, so every host runs the same calls
ROTATION_S = 1.5
FILTER_COLS = ["col1", "col3", "col8"]


def _same_rows(got, want) -> bool:
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in want.columns:
        g, w = np.asarray(got[c]), np.asarray(want[c])
        if want[c].dtype.kind == "f":
            if not np.allclose(g.astype(float), w, rtol=1e-12, atol=0):
                return False
        elif not np.array_equal(g.astype(w.dtype), w):
            return False
    return True


class _Csv:
    """A generated CSV and the values every check compares against."""

    def __init__(self, seed: int, n_rows: int, path: str) -> None:
        table = gen.medium_table(seed, n_rows)
        pacsv.write_csv(table, path)
        self.path = path
        self.expect = table.to_pandas()
        self.parquet_bytes = gen.parquet_bytes(table)
        self.pos_ids = np.flatnonzero(self.expect["col20"].to_numpy() > 0) + 1


class LazyScan:
    name = "lazy_scan"

    def __init__(self, spark, rec, work: str, seed: int) -> None:
        self.spark, self.rec, self.seed = spark, rec, seed
        self.dir = os.path.join(work, "lazy_scan")
        os.makedirs(self.dir, exist_ok=True)
        self.rng = np.random.default_rng([seed, 10])
        self.open_ms: list[float] = []
        #: measured positional call ms, and (rows, s) per scan
        self.calls: list[float] = []
        self.scans: list[tuple[int, float]] = []
        self.rotations = 0
        self.cached_bytes = 0
        warnings.filterwarnings("ignore", message="cache=False open keeps")

    # -- inputs and set-up ---------------------------------------------- #
    def generate(self) -> None:
        self.data = _Csv(self.seed, N_ROWS, os.path.join(self.dir, "data.csv"))

    def build(self) -> None:
        """The program's set-up, repeated by the runner: a cached open of
        the file and the row-index build of its first positional touch,
        then close."""
        from lazy_frame_spark import LazyFrame

        lf = LazyFrame.open(self.spark, self.data.path)
        try:
            got = lf.row_range(1, 10).to_pandas()
            check(_same_rows(got, self.data.expect.head(10)), "set-up: first rows")
        finally:
            lf.close()

    def warmup(self) -> None:
        """One untimed cycle on the measured file: its open, index build,
        positional calls and scans, for the first-process JIT."""
        self.cycle(self.data, WARM_ROTATIONS)

    # -- the closed loop ----------------------------------------------- #
    def run(self) -> None:
        self.rotations = max(6, round(self.rec.seconds / ROTATION_S))
        self.cycle(self.data, self.rotations)

    def cycle(self, csv: _Csv, rotations: int) -> None:
        from lazy_frame_spark import LazyFrame

        rec, n = self.rec, len(csv.expect)
        lf = None
        with rec.op("open"):
            lo = int(self.rng.integers(1, n - 20))
            with rec.call("sources.csv.open", "sources.csv") as c1:
                lf = LazyFrame.open(self.spark, csv.path)
            # the first positional touch builds the row index: enumerate
            # and persist, fused with schema verification in one job
            with rec.call("rowid.build", "rowid") as c2:
                first = lf.row_range(lo, lo + 9)
            with rec.call("frame.first_touch", "frame") as c3:
                got = first.to_pandas()
            if rec.counting:
                self.cached_bytes = self._cached_bytes()
                self.open_ms.append(c1["ms"] + c2["ms"] + c3["ms"])
            check(_same_rows(got, csv.expect.iloc[lo - 1:lo + 9].reset_index(drop=True)),
                  "open: first rows")
        if lf is None:
            return
        ms = []
        try:
            for i in range(rotations):
                for op in OPS:
                    with rec.op(op):
                        ms.append(getattr(self, "_" + op)(lf, csv))
                if i % SCAN_EVERY == 0:
                    with rec.op("scan"):
                        self._scan(csv)
        finally:
            lf.close()
        if rec.counting:
            self.calls += ms

    def _cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    # -- positional and predicate ops ---------------------------------- #
    def _row_range(self, lf, csv: _Csv) -> float:
        lo = int(self.rng.integers(1, len(csv.expect) - 100))
        hi = lo + int(self.rng.integers(10, 100))
        with self.rec.call("frame.row_range", "frame") as c:
            got = lf.row_range(lo, hi).to_pandas()
        want = csv.expect.iloc[lo - 1:hi].reset_index(drop=True)
        check(_same_rows(got, want), f"row_range({lo}, {hi})")
        return c["ms"]

    def _rows(self, lf, csv: _Csv) -> float:
        pts = np.unique(self.rng.integers(1, len(csv.expect) + 1, 20))
        with self.rec.call("frame.rows", "frame") as c:
            got = lf.rows(pts.tolist()).to_pandas()
        check(_same_rows(got, csv.expect.iloc[pts - 1].reset_index(drop=True)),
              "rows(points)")
        return c["ms"]

    def _head(self, lf, csv: _Csv) -> float:
        with self.rec.call("frame.head", "frame") as c:
            got = lf.head(6).to_pandas()
        check(_same_rows(got, csv.expect.head(6)), "head(6)")
        return c["ms"]

    def _tail(self, lf, csv: _Csv) -> float:
        with self.rec.call("frame.tail", "frame") as c:
            got = lf.tail(6).to_pandas()
        check(_same_rows(got, csv.expect.tail(6).reset_index(drop=True)), "tail(6)")
        return c["ms"]

    def _which(self, lf, csv: _Csv) -> float:
        with self.rec.call("frame.which", "frame") as c:
            ids = lf.which("col20", ">", 0, collect=True)
        check(np.array_equal(np.asarray(ids), csv.pos_ids), "which(col20 > 0)")
        return c["ms"]

    def _filter(self, lf, csv: _Csv) -> float:
        # x[x[, k] < v, cols]: about 1 % of rows
        col = f"col{int(self.rng.integers(6, 28))}"
        v = int(self.rng.integers(-990, -970))
        with self.rec.call("frame.filter", "frame") as c:
            got = lf.filter(col, "<", v).select(FILTER_COLS).to_pandas()
        want = csv.expect.loc[csv.expect[col] < v, FILTER_COLS]
        check(len(got) == len(want)
              and np.array_equal(np.sort(got["col8"].to_numpy()), np.sort(want["col8"].to_numpy()))
              and sorted(got["col1"]) == sorted(want["col1"])
              and np.isclose(got["col3"].sum(), want["col3"].sum(), rtol=1e-12),
              f"filter({col} < {v})")
        return c["ms"]

    def _scan(self, csv: _Csv) -> None:
        from lazy_frame_spark import LazyFrame

        # its own call name: sources.csv.open is the cached open alone
        with self.rec.call("sources.csv.open_oneshot", "sources.csv"):
            lf = LazyFrame.open(self.spark, csv.path, cache=False)
        with self.rec.call("scan", "functions.compare") as c:
            got = lf.filter("col20", ">", 0).to_pandas()
        if self.rec.counting:
            self.scans.append((len(csv.expect), c["ms"] / 1e3))
        want = csv.expect.loc[csv.expect["col20"] > 0]
        check(len(got) == len(want)
              and int(got["col20"].sum()) == int(want["col20"].sum())
              and int(got["col27"].sum()) == int(want["col27"].sum()),
              "scan col20 > 0")

    # -- results -------------------------------------------------------- #
    def call_samples(self) -> list[float]:
        """Positional and predicate calls on the cached index (the first
        touch that builds the index is part of open)."""
        return self.calls

    def rows_per_s(self) -> float:
        """Median over the run's scans of rows scanned per second."""
        return statistics.median(r / t for r, t in self.scans)

    def space_amp(self) -> float:
        """Positional index bytes held by Spark ÷ one fresh parquet write
        of the same rows."""
        return self.cached_bytes / self.data.parquet_bytes

    def details(self) -> dict:
        from perfbench.harness import timing

        return {
            "open_s": timing([ms / 1e3 for ms in self.open_ms]),
            "positional_ms": timing(self.calls),
            "scan_mrows_per_s": self.rows_per_s() / 1e6,
            "positional_ms_by_half": [statistics.median(h) for h in (
                self.calls[:len(self.calls) // 2], self.calls[len(self.calls) // 2:])],
            "rotations": self.rotations,
            "input_rows": N_ROWS,
            "input_bytes": os.path.getsize(self.data.path),
        }

    def finish(self) -> None:
        pass
