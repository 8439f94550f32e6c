"""Python→JVM round trips per positional call on an indexed LazyFrame.

Opens two generated CSVs with the default cached open, a 5-column and a
27-column one (the reference's medium schema), builds the row index, and
prints, per call, the py4j call (``c``) commands and all commands it
sends, the Spark jobs it starts, the classes it compiles with Janino
(the count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``), the
milliseconds Janino spent compiling them (the ``CodeGenerator.compileTime``
delta, summed over the driver and the local executors) and its wall
time. A
call whose py4j count grows with the frame's width builds one ``Column``
per field somewhere on its path. Spark inlines primitive literals into
generated code and caches compiled classes by their source, so a call
repeated with the same literals compiles nothing; the ``fresh`` rows
change a literal on every call and pay the compile each time.
Read-only observability: it never changes what a call computes.

A second section prints the same columns for keyed commits on a
16-file versioned table of ``--rows`` rows: ``merge_versioned`` of a
2 000-row upsert batch, ``apply_cdc`` of a 1 000-row I/U/D batch (both
pandas-built, as perfbench's are, with fresh keys from a narrow window
of the key space on every call) and a merge-on-read
``delete_versioned`` whose ``k >= lo AND k < hi`` range is fresh on
every call.

Usage: python tools/py4j_calls.py [--rows N] [--only positional|keyed]
"""

from __future__ import annotations

import argparse
import collections
import itertools
import os
import random
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lazy_frame_spark import LazyFrame  # noqa: E402
from lazy_frame_spark.session import get_spark  # noqa: E402


def _write_csv(path: str, n_rows: int, wide: bool) -> None:
    rng = random.Random(7)
    with open(path, "w") as f:
        if wide:
            f.write(",".join(f"col{i}" for i in range(1, 28)) + "\n")
            for r in range(1, n_rows + 1):
                vals = [f"s{r}", f"t{r % 5}"]
                vals += [f"{rng.uniform(-1, 1):.4f}" for _ in range(3)]
                vals += [str(rng.randint(-1000, 1000)) for _ in range(22)]
                f.write(",".join(vals) + "\n")
        else:
            f.write("a,b,c,d,e\n")
            for r in range(1, n_rows + 1):
                f.write(f"{rng.randint(-1000, 1000)},{rng.random():.3f},"
                        f"{r},{r % 3},k{r % 7}\n")


def _keyed_calls(spark, d: str, n_rows: int) -> dict:
    """Keyed commits on a fresh 16-file ``(k, a, b)`` table: each call
    draws new keys (or a new delete range) from a cursor that walks the
    key space, so no call repeats its predecessor's batch."""
    import pandas as pd

    from lazy_frame_spark.sources import versioned as V

    t = os.path.join(d, "keyed")
    V.write_versioned(spark.range(n_rows).selectExpr(
        "id * 2 AS k", "id % 97 AS a", "CAST(id AS DOUBLE) / 3 AS b")
        .repartitionByRange(16, "k"), t)
    rng = random.Random(11)
    window = max(n_rows // 8, 4000)   # keys per cursor step
    cursor = itertools.count()

    def batch(n: int) -> pd.DataFrame:
        lo = (next(cursor) * window) % (2 * n_rows - window)
        ks = rng.sample(range(lo, lo + window), n)
        return pd.DataFrame({"k": ks, "a": [rng.randint(0, 96) for _ in ks],
                             "b": [rng.random() for _ in ks]})

    def cdc() -> pd.DataFrame:
        df = batch(1000)
        df["op"] = ["U"] * 400 + ["D"] * 300 + ["I"] * 300
        return df

    def delete() -> None:
        lo = (next(cursor) * window) % (2 * n_rows - window)
        V.delete_versioned(spark, t, f"k >= {lo} AND k < {lo + 50}",
                           strategy="merge-on-read")

    return {
        "merge_versioned(2000 rows)": lambda: V.merge_versioned(
            spark, t, spark.createDataFrame(batch(2000)), on="k"),
        "apply_cdc(1000 rows)": lambda: V.apply_cdc(
            spark, t, spark.createDataFrame(cdc()), on="k", op_col="op"),
        "delete_versioned(mor, fresh range)": delete,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--only", choices=("positional", "keyed"))
    args = ap.parse_args()

    spark = get_spark("py4j_calls", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    sent: collections.Counter = collections.Counter()

    def counting(command, *a, **kw):
        sent[command[:1]] += 1
        return send(command, *a, **kw)

    client.send_command = counting

    compile_time = (spark._jvm.org.apache.spark.metrics.source
                    .CodegenMetrics.METRIC_COMPILATION_TIME())
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen

    def measure(fn) -> tuple[int, int, int, int, float, float]:
        fn()  # the first call of a shape pays one-time lookups
        group = f"py4j-calls-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "py4j_calls")
        compiled = compile_time.getCount()
        compile_ns = codegen.CodeGenerator.compileTime()
        sent.clear()
        t0 = time.perf_counter()
        try:
            fn()
            ms = (time.perf_counter() - t0) * 1000
            calls, total = sent["c"], sum(sent.values())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        compiled = compile_time.getCount() - compiled
        compile_ms = (codegen.CodeGenerator.compileTime() - compile_ns) / 1e6
        return (calls, total, len(sc.statusTracker().getJobIdsForGroup(group)),
                compiled, compile_ms, ms)

    header = (f"{'frame':>6} {'call':34} {'py4j_c':>6} {'all':>5} "
              f"{'jobs':>4} {'compiled':>8} {'comp_ms':>7} {'ms':>7}")
    with tempfile.TemporaryDirectory() as d:
        if args.only != "keyed":
            print(header)
        for wide in (False, True) if args.only != "keyed" else ():
            path = os.path.join(d, f"w{wide:d}.csv")
            _write_csv(path, args.rows, wide)
            lf = LazyFrame.open(spark, path)
            lf.row_range(1, 2).to_pandas()  # builds the index
            c0 = lf.columns[-5]
            fresh = itertools.count(100)
            calls = {
                "row_range(11, 60).to_pandas()": lambda: lf.row_range(11, 60).to_pandas(),
                "row_range(fresh).to_pandas()": lambda: (
                    lambda k: lf.row_range(k, k + 49).to_pandas())(next(fresh)),
                "rows(20 points).to_pandas()": lambda: lf.rows(range(3, 400, 20)).to_pandas(),
                "head(6).to_pandas()": lambda: lf.head(6).to_pandas(),
                "tail(6).to_pandas()": lambda: lf.tail(6).to_pandas(),
                "which(c > 0, collect=True)": lambda: lf.which(c0, ">", 0, collect=True),
                "filter(c < -990).select(3)": lambda: lf.filter(c0, "<", -990)
                .select(lf.columns[:3]).to_pandas(),
                "filter(c < fresh).select(3)": lambda: lf.filter(
                    c0, "<", -1001 - next(fresh))
                .select(lf.columns[:3]).to_pandas(),
                "nrow()": lf.nrow,
            }
            for name, fn in calls.items():
                c, total, jobs, compiled, compile_ms, ms = measure(fn)
                print(f"{len(lf.columns):>4}col {name:34} {c:>6} {total:>5} "
                      f"{jobs:>4} {compiled:>8} {compile_ms:>7.1f} {ms:>7.1f}")
            lf.close()
        if args.only != "positional":
            print(header.replace(" frame", " table"))
            for name, fn in _keyed_calls(spark, d, args.rows).items():
                c, total, jobs, compiled, compile_ms, ms = measure(fn)
                print(f"{'keyed':>7} {name:34} {c:>6} {total:>5} "
                      f"{jobs:>4} {compiled:>8} {compile_ms:>7.1f} {ms:>7.1f}")
    client.send_command = send
    spark.stop()


if __name__ == "__main__":
    main()
