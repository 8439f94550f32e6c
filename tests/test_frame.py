"""Reference-derived golden tests (SURVEY.md §5.1) on the iris-shaped
fixture: the man/lazy.frame.Rd:82-100 examples and vignette listings."""

import pytest

from lazy_frame_spark import LazyFrame


@pytest.fixture(scope="module")
def lf(spark, iris_csv):
    return LazyFrame.open(spark, iris_csv, header=True)


def test_dim(lf):
    assert lf.dim() == (150, 5)  # man/lazy.frame.Rd golden


def test_names(lf):
    assert lf.names() == [
        "Sepal.Length", "Sepal.Width", "Petal.Length", "Petal.Width", "Species",
    ]


def test_point_extraction(lf):
    # x[c(5,15,25),] — man/lazy.frame.Rd:91
    pdf = lf.rows([5, 15, 25]).to_pandas()
    assert len(pdf) == 3
    # row 15 is one of the planted low rows? no — 14 is; check id mapping via filter
    sub = lf.rows([14]).to_pandas()
    assert sub["Sepal.Length"].iloc[0] == 4.3


def test_numeric_filter_golden(lf):
    # x[x[,1] < 4.5, ] ⇒ rows 9, 14, 39, 43 (vignette Listing 3)
    assert lf.which(1, "<", 4.5, collect=True) == [9, 14, 39, 43]
    sub = lf.filter("Sepal.Length", "<", 4.5)
    assert sub.dim() == (4, 5)


def test_string_filter_golden(lf):
    # v = x[x[,5] == "versicolor", ]; dim(v) == (50, 5)
    v = lf.filter("Species", "==", "versicolor")
    assert v.dim() == (50, 5)


def test_filter_column_expression(lf):
    # R-flavored sugar: lf[lf["Sepal.Length"] < 4.5, ["Species"]]
    out = lf[lf["Sepal.Length"] < 4.5, ["Species"]]
    assert out.dim() == (4, 1)
    assert out.names() == ["Species"]


def test_projection_by_index_and_name(lf):
    assert lf.select([1, 3]).names() == ["Sepal.Length", "Petal.Length"]
    assert lf.select(["Petal.Length", "Petal.Width"]).names() == [
        "Petal.Length", "Petal.Width",
    ]


def test_oob_column_silently_dropped(lf):
    # R/lazy.frame.R:145-147 parity
    assert lf.select([1, 99]).names() == ["Sepal.Length"]
    assert lf.select(["Species", "NotACol"]).names() == ["Species"]


def test_negative_column_index_rejected(lf):
    with pytest.raises(IndexError):
        lf.select([-1])


def test_row_range(lf):
    sub = lf.row_range(10, 20)
    assert sub.nrow() == 11
    ids = [r["row_id"] for r in sub.which("Sepal.Length", ">", 0.0).collect()]
    assert ids == list(range(10, 21))


def test_head_tail(lf):
    assert lf.head().nrow() == 6
    assert lf.tail(3).nrow() == 3
    # tail returns the LAST rows in positional order
    t = lf.tail(2).to_df(with_row_id=True).toPandas()
    assert sorted(t["__row_id__"].tolist()) == [149, 150]


def test_read_only(lf):
    with pytest.raises(TypeError, match="read-only"):
        lf["Species"] = "x"


def test_int_rhs_truncates_like_atoi(lf):
    # int RHS → bigint domain: 4.3/4.4 truncate to 4 (atoi parity,
    # src/lazy.frame.c:543-565)
    assert lf.which(1, "==", 4, collect=True) == [9, 14, 39, 43]


def test_column_attr_factor_levels(lf):
    # man/column_attr.Rd:43-63 round trip
    lf2 = lf
    lf2.set_column_attr("Species", "levels", ["setosa", "versicolor", "virginica"])
    assert lf2.column_attr("Species", "levels") == ["setosa", "versicolor", "virginica"]
    pdf = lf2.rows([1, 51, 101]).to_pandas()
    assert str(pdf["Species"].dtype) == "category"
    assert list(pdf["Species"]) == ["setosa", "versicolor", "virginica"]


def test_summary_implemented(lf):
    # the reference warns 'Not yet supported' (R/lazy.frame.R:115-119)
    s = lf.summary().toPandas()
    assert "count" in s["summary"].tolist()


def test_which_dataframe_shape(lf):
    ids = lf.which("Species", "==", "virginica")
    assert ids.columns == ["row_id"]
    assert ids.count() == 50


def test_register_persists_attrs_and_ids(spark, iris_csv, tmp_path):
    from lazy_frame_spark import LazyFrame

    lf = LazyFrame.open(spark, iris_csv, header=True)
    lf.set_column_attr("Species", "levels", ["setosa", "versicolor", "virginica"])
    reg = lf.register(str(tmp_path / "iris_reg"))
    # attrs survive the write
    assert reg.column_attr("Species", "levels") == ["setosa", "versicolor", "virginica"]
    # a FRESH open of the registered path restores attrs from parquet metadata
    back = LazyFrame.open_registered(spark, str(tmp_path / "iris_reg"))
    assert back.column_attr("Species", "levels") == ["setosa", "versicolor", "virginica"]
    # positional numbering is the persisted one
    assert back.rows([14]).to_pandas()["Sepal.Length"].iloc[0] == 4.3
    pdf = back.rows([1, 51, 101]).to_pandas()
    assert str(pdf["Species"].dtype) == "category"


def test_sample_rows(lf):
    # vignette idiom: x[sample(nrow(x), 5), ]
    s = lf.sample_rows(5, seed=1)
    assert s.nrow() == 5
    assert s.names() == lf.names()
    # deterministic for a fixed seed
    a = sorted(lf.sample_rows(5, seed=2).to_pandas()["Sepal.Length"])
    b = sorted(lf.sample_rows(5, seed=2).to_pandas()["Sepal.Length"])
    assert a == b
    # n >= nrow returns everything
    assert lf.sample_rows(10_000).nrow() == 150


def test_decode_factors_matches_pandas_boundary(spark):
    """Spark-side decode_factors and the to_pandas materialization
    boundary must decode identical values from the same stored levels
    (1-based codes; out-of-range -> NULL/NaN)."""
    from lazy_frame_spark import LazyFrame

    df = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4), (5, None)], "id long, code int"
    )
    lf = LazyFrame.from_df(df, cache=False)
    lf.set_column_attr("code", "levels", ["a", "b", "c"])

    decoded = {r["id"]: r["code"] for r in lf.decode_factors().collect()}
    assert decoded == {1: "a", 2: "b", 3: "c", 4: None, 5: None}
    # levels attr consumed by the decode
    assert lf.decode_factors().column_attr("code", "levels") is None
    # the pandas boundary decodes in-range codes to the same categories
    pdf = lf.to_pandas().set_index("id")
    assert list(pdf.loc[[1, 2, 3], "code"]) == ["a", "b", "c"]


def test_decode_factors_skips_value_typed_string_factor(spark):
    """A STRING column carrying a levels attr is a value-typed
    categorical (the pandas boundary's dtype branch): decode_factors
    must leave it untouched instead of casting it to int and nulling
    every row."""
    from lazy_frame_spark import LazyFrame

    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
        "id long, tag string, code int",
    )
    lf = LazyFrame.from_df(df, cache=False)
    lf.set_column_attr("tag", "levels", ["a", "b", "c"])
    lf.set_column_attr("code", "levels", ["x", "y", "z"])

    rows = {r["id"]: (r["tag"], r["code"]) for r in lf.decode_factors().collect()}
    # string factor preserved verbatim; integer factor decoded
    assert rows == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}
    # the skipped column KEEPS its levels attr for the pandas boundary
    assert lf.decode_factors().column_attr("tag", "levels") == ["a", "b", "c"]
    assert lf.decode_factors().column_attr("code", "levels") is None


# --------------------------------------------------------------------- #
# positional fast paths on the cached row index
# --------------------------------------------------------------------- #

def _jobs(spark, fn):
    """Spark jobs ``fn()`` starts, counted through its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"lfs-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "positional fast-path test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _py4j_calls(spark, monkeypatch, fn) -> int:
    """py4j call (``c``) commands ``fn()`` sends to the JVM."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += command.startswith("c\n")
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        fn()
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return n


@pytest.fixture(scope="module")
def wide_csv(tmp_path_factory):
    """A 27-column CSV in the reference's medium schema (2 string,
    3 double, 22 int), 300 rows."""
    import random

    rng = random.Random(7)
    head = ",".join(f"col{i}" for i in range(1, 28))
    lines = [head]
    for r in range(1, 301):
        vals = [f"s{r}", f"t{r % 5}"]
        vals += [f"{rng.uniform(-1, 1):.4f}" for _ in range(3)]
        vals += [str(rng.randint(-1000, 1000)) for _ in range(22)]
        lines.append(",".join(vals))
    p = tmp_path_factory.mktemp("wide") / "wide.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


#: py4j calls one ``row_range(...).to_pandas()`` may cost on an indexed
#: frame: the filter, the Arrow collect and its conf reads (20 on Spark
#: 4.1); one Column per field cost 82 at 5 columns and 236 at 27
PY4J_ROW_RANGE_BUDGET = 40


def test_row_range_py4j_calls_independent_of_width(spark, iris_csv, wide_csv,
                                                   monkeypatch):
    counts = []
    for path in (iris_csv, wide_csv):
        lf = LazyFrame.open(spark, path)
        lf.row_range(1, 2).to_pandas()  # builds the index
        lf.row_range(3, 9).to_pandas()  # first-call py4j warm-up
        got = []
        n = _py4j_calls(spark, monkeypatch,
                        lambda: got.append(lf.row_range(5, 12).to_pandas()))
        assert len(got[0]) == 8 and list(got[0].columns) == lf.columns
        counts.append(n)
        lf.close()
    assert counts[0] == counts[1], counts
    assert counts[0] <= PY4J_ROW_RANGE_BUDGET, counts


def test_close_keeps_the_callers_pin(spark):
    """close() releases the row index the frame built, never a pin the
    caller took on the DataFrame it handed to from_df."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.range(50).toDF("a").persist()
    df.count()
    n = cache.numCachedEntries()
    LazyFrame.from_df(df).close()  # untouched: holds no pin of its own
    assert df.is_cached and cache.numCachedEntries() == n
    lf = LazyFrame.from_df(df)
    lf.row_range(1, 3).to_pandas()  # builds and pins the row index
    assert cache.numCachedEntries() == n + 1
    lf.close()
    assert df.is_cached and cache.numCachedEntries() == n
    df.unpersist()


def test_indexed_root_nrow_dim_run_no_job(spark, wide_csv):
    lf = LazyFrame.open(spark, wide_csv)
    lf.row_range(1, 3).to_pandas()  # the build counts N
    jobs, dim = _jobs(spark, lambda: (lf.nrow(), lf.dim()))
    assert jobs == 0
    assert dim == (300, (300, 27))
    lf.close()


def test_which_collect_runs_one_job(spark, wide_csv):
    import pandas as pd

    lf = LazyFrame.open(spark, wide_csv)
    lf.row_range(1, 3).to_pandas()
    jobs, ids = _jobs(spark, lambda: lf.which("col20", ">", 0, collect=True))
    want = pd.read_csv(wide_csv)
    assert jobs == 1
    assert ids == [i + 1 for i in want.index[want["col20"] > 0]]
    lf.close()


def _ids(lf) -> list[int]:
    return lf.to_df(with_row_id=True).toPandas()["__row_id__"].tolist()


def test_head_tail_prune_on_indexed_root(spark, wide_csv):
    lf = LazyFrame.open(spark, wide_csv)
    assert _ids(lf.head(4)) == [1, 2, 3, 4]  # first touch builds the index
    assert _ids(lf.tail(3)) == [298, 299, 300]
    assert _ids(lf.tail(400)) == list(range(1, 301))
    plan = lf.tail(3)._df._jdf.queryExecution().optimizedPlan().toString()
    assert "__row_id__" in plan and "> 297" in plan
    assert lf.head(2).to_pandas()["col1"].tolist() == ["s1", "s2"]
    lf.close()


def test_head_tail_which_on_sparse_children(spark, iris_csv):
    """A filtered child has sparse ids: head/tail/which keep the first
    and last SURVIVING rows in id order, not the root's id ranges."""
    lf = LazyFrame.open(spark, iris_csv)
    lf.row_range(1, 2).to_pandas()
    survivors = [9, 14, 39, 43]                   # Sepal.Length < 4.5
    child = lf.filter("Sepal.Length", "<", 4.5)
    assert _ids(child.head(3)) == survivors[:3]
    assert _ids(child.tail(3)) == survivors[-3:]
    assert child.which("Sepal.Width", ">", 0, collect=True) == survivors
    picked = child.select(["Species"])
    assert _ids(picked.head(2)) == survivors[:2]
    assert _ids(picked.tail(1)) == survivors[-1:]
    assert _ids(lf.rows([3, 7, 150]).tail(2)) == [7, 150]
    lf.close()


def test_head_tail_which_after_sample_lied_swap(spark, tmp_path):
    """After a sample-lied swap to full inference no fused build counted
    the rows: head/tail/which on the root and on a child built before the
    swap (which numbers its own rows) return the right rows in order."""
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    n = VERIFY_SAMPLE_LINES + 100
    liar = VERIFY_SAMPLE_LINES + 20
    lines = ["id,val"] + [f"{i},{i % 7}" for i in range(1, n + 1)]
    lines[liar] = f"{liar},3.5"
    p = tmp_path / "liar.csv"
    p.write_text("\n".join(lines) + "\n")

    lf = LazyFrame.open(spark, str(p))
    child = lf.filter("val", ">", 2.5)            # built before the swap
    hits = [i for i in range(1, n + 1) if (3.5 if i == liar else i % 7) > 2.5]

    def data_ids(frame):
        return frame.to_pandas()["id"].tolist()

    assert data_ids(child.tail(2)) == hits[-2:]   # settles the swap
    assert lf._verify_swapped
    assert data_ids(child.head(2)) == hits[:2]
    assert child.which("val", "==", 3.5, collect=True) == [hits.index(liar) + 1]
    assert _ids(lf.head(2)) == [1, 2]
    assert _ids(lf.tail(2)) == [n - 1, n]
    assert data_ids(lf.tail(1)) == [n]
    assert lf.which("val", "==", 3.5, collect=True) == [liar]
    assert lf.nrow() == n
    lf.close()
