"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs both:

- ``cosine_topk``: brute-force exact top-k against a query vector. The
  dot product is a JVM-side ``aggregate``/``zip_with`` expression (no
  Python, no shuffle until the final TakeOrderedAndProject) — the
  correctness baseline and perfectly adequate for ≤10^7 vectors/executor.
- ``RandomHyperplaneLSH``: sign-sketch bucketing for approximate search.
  Hyperplane components are md5-derived (deterministic, seedable, no
  stored model), so sketches are reproducible across runs and engines.
  Candidates come from an equi-join on (table, bucket) — the scale path.
- ``embedding_near_dup_pairs``: cosine near-duplicate pairs via the LSH
  buckets (exact verify after banded candidate generation).

The reference has nothing in this space; north-star scope (BASELINE.json).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lazy_frame_spark.pins import pin_scope


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide, not '/': Spark 4 runs ANSI mode by default, where a
    # zero-norm vector would turn the whole scan into a
    # DIVIDE_BY_ZERO error instead of one undefined (NULL) similarity
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _fixed_dim(df: DataFrame, col: str) -> int | None:
    """The array width when every non-NULL vector in ``col`` has the
    same one — ONE column-pruned min/max-of-size aggregate — else
    None. This probe gates the Arrow pair stages: proving the data
    fixed-width up front is what lets the numpy screen stack vectors
    into a matrix with nothing silently truncated or padded (ragged
    or empty inputs keep the all-Catalyst path). The probe is linear
    in the corpus; the pair stages it unblocks are quadratic per
    cell."""
    row = df.agg(F.min(F.size(F.col(col))).alias("__lo__"),
                 F.max(F.size(F.col(col))).alias("__hi__")).collect()[0]
    lo, hi = row["__lo__"], row["__hi__"]
    return int(lo) if lo is not None and lo == hi and lo > 0 else None


def _pair_candidates_arrow(
    cells: DataFrame,
    id_col: str,
    dim: int,
    threshold: float,
    cell_col: str = "__ivf_cell__",
    vec_col: str = "__sd_v__",
    norm_col: str = "__sd_n__",
) -> DataFrame:
    """Within-cell near-duplicate CANDIDATE pairs in ONE Arrow pass
    per cell — the quadratic pair stage of SemDeDup vectorized. Emits
    ``(doomed id, both vectors, both norms)`` for every ordered pair
    (lower id → higher id) whose cosine clears the SCREEN bound; the
    caller re-applies the EXACT Catalyst predicate
    (``round(fold-dot/(na*nb), 4) >= threshold``) to this tiny
    candidate set, so the final verdict is evaluated by the identical
    expression as the all-Catalyst path.

    Screen soundness (must be a SUPERSET of the verdict, never a
    subset): the verdict rounds half-up at 4 decimals, so the lowest
    exact cosine it accepts is ``threshold - 5e-5``; the screen bound
    is that minus a further 1e-6 fp margin. The dot matrix is one BLAS
    ``V @ V.T`` — its accumulation order differs from the interpreted
    fold's left-to-right sequence, but the float64 reassociation error
    of a dim-length dot is bounded by ~dim·eps·na·nb (≈1e-13 of the
    cosine at dim 4096), eight orders below the margin, so no pair the
    verdict would accept can be screened out; extra candidates only
    cost the exact re-judge a few rows. Rows with NULL/zero/non-finite
    norms or malformed vectors never emit — the Catalyst path maps
    those to NULL cosines, which never pass the threshold either.

    Why Arrow here: the fold is an interpreted higher-order function
    evaluated once per PAIR (the measured dominant cost — guide §4's
    vectorize-the-Python-boundary advice applied to an interpreted
    JVM boundary); unrolling it into flat codegen was measured SLOWER
    (the generated method exceeds HotSpot's JIT size threshold). One
    numpy pass per cell does the n²/cells work at matrix speed while
    the exact predicate still runs where it always did."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    id_field = cells.schema[id_col]
    out_schema = StructType([
        StructField(id_col, id_field.dataType),
        StructField("__pc_pv__", ArrayType(DoubleType())),
        StructField("__pc_v__", ArrayType(DoubleType())),
        StructField("__pc_nb__", DoubleType()),
        StructField("__pc_na__", DoubleType()),
    ])
    # round-half-up admission boundary of the exact verdict, minus an
    # fp margin that dominates BLAS reassociation error by 7+ orders
    screen = float(threshold) - 5e-5 - 1e-6

    def pairs(pdf):
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return pd.DataFrame({
                id_col: pd.Series([], dtype=pdf[id_col].dtype),
                "__pc_pv__": pd.Series([], dtype="object"),
                "__pc_v__": pd.Series([], dtype="object"),
                "__pc_nb__": pd.Series([], dtype="float64"),
                "__pc_na__": pd.Series([], dtype="float64"),
            })
        raw_v = pdf[vec_col].to_numpy()
        raw_n = pdf[norm_col].to_numpy(dtype="float64", na_value=np.nan)
        id_ok = pdf[id_col].notna().to_numpy()
        valid = np.array([
            id_ok[i]
            and raw_v[i] is not None and len(raw_v[i]) == dim
            and np.isfinite(raw_n[i]) and raw_n[i] != 0.0
            for i in range(m)
        ])
        vi = np.flatnonzero(valid)
        if len(vi) < 2:
            return pd.DataFrame({
                id_col: pd.Series([], dtype=pdf[id_col].dtype),
                "__pc_pv__": pd.Series([], dtype="object"),
                "__pc_v__": pd.Series([], dtype="object"),
                "__pc_nb__": pd.Series([], dtype="float64"),
                "__pc_na__": pd.Series([], dtype="float64"),
            })
        V = np.stack([np.asarray(raw_v[i], dtype=np.float64)
                      for i in vi])
        n = raw_n[vi]
        ids = pdf[id_col].to_numpy()[vi]
        # one BLAS gemm for the k×k dot matrix: the per-dimension
        # outer-product loop it replaces wrote dim k×k temporaries
        # (O(dim·k²) memory traffic — at the paper's 100k-vector cells
        # that is the stage's wall, not the flops); reassociation
        # error is covered by the screen margin (docstring)
        C = V @ V.T
        denom = np.outer(n, n)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = C / denom
        lo = np.less.outer(ids, ids)  # [b, a]: id_b < id_a → a doomed
        hit = lo & (cos >= screen)
        bi, ai = np.nonzero(hit)
        return pd.DataFrame({
            id_col: pd.Series(ids[ai], dtype=pdf[id_col].dtype),
            "__pc_pv__": pd.Series([V[b].tolist() for b in bi],
                                   dtype="object"),
            "__pc_v__": pd.Series([V[a].tolist() for a in ai],
                                  dtype="object"),
            "__pc_nb__": n[bi],
            "__pc_na__": n[ai],
        })

    return (cells.select(id_col, vec_col, norm_col, cell_col)
            .groupBy(cell_col).applyInPandas(pairs, out_schema))


def _pair_candidates_arrow_against(
    new_cells: DataFrame,
    corp_cells: DataFrame,
    id_col: str,
    dim: int,
    threshold: float,
    cell_col: str = "__ivf_cell__",
) -> DataFrame:
    """CROSS-pair candidates (new batch × corpus, within each cell) in
    ONE Arrow pass per cell — ``_pair_candidates_arrow``'s incremental
    twin for ``semantic_dedup_against``'s stage 1. Both sides ride one
    union tagged by side, grouped by cell; inside the group a single
    BLAS gemm (``V_new @ V_corp.T``) screens every cross pair, and the
    emitted candidates reuse the self-pair column convention
    (``__pc_pv__`` = corpus vector, ``__pc_v__`` = new vector) so
    ``_doomed_exact`` re-judges them with the IDENTICAL Catalyst
    expression the all-Catalyst path evaluates
    (``dot(cv, v) / (cn * n)`` — element order, not operand order,
    fixes the fold's bits, so pv/v naming is immaterial). Screen
    soundness is inherited unchanged: the bound is the round-half-up
    admission boundary minus the same 1e-6 margin, 7+ orders above
    gemm reassociation error; invalid rows (NULL/ragged vectors,
    non-finite or zero norms) never emit, exactly the rows whose
    Catalyst cosine is NULL and fails every threshold."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    id_field = new_cells.schema[id_col]
    out_schema = StructType([
        StructField(id_col, id_field.dataType),
        StructField("__pc_pv__", ArrayType(DoubleType())),
        StructField("__pc_v__", ArrayType(DoubleType())),
        StructField("__pc_nb__", DoubleType()),
        StructField("__pc_na__", DoubleType()),
    ])
    screen = float(threshold) - 5e-5 - 1e-6

    u = (new_cells.select(
            F.col(id_col), F.col("__sd_v__").alias("__pc_vv__"),
            F.col("__sd_n__").alias("__pc_nn__"), F.col(cell_col),
            F.lit(1).alias("__side__"))
         .unionByName(corp_cells.select(
            F.lit(None).cast(id_field.dataType).alias(id_col),
            F.col("__sd_cv__").alias("__pc_vv__"),
            F.col("__sd_cn__").alias("__pc_nn__"), F.col(cell_col),
            F.lit(0).alias("__side__"))))

    def pairs(pdf):
        import pandas as pd

        empty = pd.DataFrame({
            id_col: pd.Series([], dtype=pdf[id_col].dtype),
            "__pc_pv__": pd.Series([], dtype="object"),
            "__pc_v__": pd.Series([], dtype="object"),
            "__pc_nb__": pd.Series([], dtype="float64"),
            "__pc_na__": pd.Series([], dtype="float64"),
        })
        side = pdf["__side__"].to_numpy()
        raw_v = pdf["__pc_vv__"].to_numpy()
        raw_n = pdf["__pc_nn__"].to_numpy(dtype="float64", na_value=np.nan)
        id_ok = pdf[id_col].notna().to_numpy()
        m = len(pdf)
        valid = np.array([
            raw_v[i] is not None and len(raw_v[i]) == dim
            and np.isfinite(raw_n[i]) and raw_n[i] != 0.0
            and (side[i] == 0 or id_ok[i])
            for i in range(m)
        ])
        ni = np.flatnonzero(valid & (side == 1))
        ci = np.flatnonzero(valid & (side == 0))
        if len(ni) == 0 or len(ci) == 0:
            return empty
        Vn = np.stack([np.asarray(raw_v[i], dtype=np.float64)
                       for i in ni])
        Vc = np.stack([np.asarray(raw_v[i], dtype=np.float64)
                       for i in ci])
        nn, nc = raw_n[ni], raw_n[ci]
        ids = pdf[id_col].to_numpy()[ni]
        C = Vn @ Vc.T
        denom = np.outer(nn, nc)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = C / denom
        ai, bi = np.nonzero(cos >= screen)  # ai: new index, bi: corpus
        return pd.DataFrame({
            id_col: pd.Series(ids[ai], dtype=pdf[id_col].dtype),
            "__pc_pv__": pd.Series([Vc[b].tolist() for b in bi],
                                   dtype="object"),
            "__pc_v__": pd.Series([Vn[a].tolist() for a in ai],
                                  dtype="object"),
            "__pc_nb__": nc[bi],
            "__pc_na__": nn[ai],
        })

    return u.groupBy(cell_col).applyInPandas(pairs, out_schema)


def _doomed_exact(cand: DataFrame, id_col: str,
                  threshold: float) -> DataFrame:
    """Phase 2 of the Arrow pair stage: the EXACT Catalyst predicate
    — identical expression to the all-Catalyst path — over the
    candidate pairs, yielding the distinct doomed ids."""
    exact = F.try_divide(
        dot(F.col("__pc_pv__"), F.col("__pc_v__")),
        F.col("__pc_nb__") * F.col("__pc_na__"),
    )
    return (cand.filter(F.round(exact, 4) >= threshold)
            .select(id_col).distinct())


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector. The query is
    a plan literal (broadcast with the task binaries); similarity is
    computed in whole-stage codegen; the limit plans as
    TakeOrderedAndProject so only k rows per partition move."""
    q = F.array(*[F.lit(float(v)) for v in query_vec]).cast("array<double>")
    sim = cosine(F.col(vec_col).cast("array<double>"), q)
    return (
        df.select(F.col(id_col), F.round(sim, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(int(k))
    )


class RandomHyperplaneLSH:
    """Sign-sketch LSH: ``n_planes`` pseudo-random hyperplanes; bucket =
    the sign bit-string. Planes are derived from md5(seed, plane, dim) —
    deterministic, no fitted model to ship."""

    def __init__(self, dim: int, n_planes: int = 16, seed: int = 7):
        self.dim = dim
        self.n_planes = n_planes
        self.seed = seed

    def _plane_component(self, p: int, d: int) -> float:
        import hashlib

        h = hashlib.md5(f"{self.seed}:{p}:{d}".encode()).hexdigest()
        # uniform in [-1, 1) from the top 12 hex digits
        return int(h[:12], 16) / float(1 << 48) * 2.0 - 1.0

    def bucket_col(self, vec_col: str = "embedding") -> Column:
        """The bucket id as a string of sign bits — pure JVM expression."""
        bits = []
        v = F.col(vec_col)
        for p in range(self.n_planes):
            plane = F.array(
                *[F.lit(self._plane_component(p, d)) for d in range(self.dim)]
            )
            s = dot(v.cast("array<double>"), plane)
            bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    def with_buckets(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        return df.withColumn("__lsh_bucket__", self.bucket_col(vec_col))

    def topk(
        self,
        df: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        probe_hamming: int = 2,
    ) -> DataFrame:
        """Approximate top-k: score only vectors whose bucket is within
        ``probe_hamming`` sign flips of the query's bucket (multi-probe).
        The bucket filter prunes the scan before any similarity math."""
        qbits = ""
        for p in range(self.n_planes):
            s = sum(
                self._plane_component(p, d) * float(query_vec[d]) for d in range(self.dim)
            )
            qbits += "1" if s >= 0 else "0"
        bucketed = self.with_buckets(df, vec_col)
        qlit = F.lit(qbits)
        bcol = F.col("__lsh_bucket__")
        # hamming distance between the two fixed-length bit strings
        ham = sum(
            (F.substring(bcol, i + 1, 1) != F.substring(qlit, i + 1, 1)).cast("int")
            for i in range(self.n_planes)
        )
        cand = bucketed.filter(ham <= probe_hamming)
        q = F.array(*[F.lit(float(v)) for v in query_vec]).cast("array<double>")
        sim = cosine(F.col(vec_col).cast("array<double>"), q)
        return (
            cand.select(F.col(id_col), F.round(sim, 4).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(int(k))
        )


class IVFIndex:
    """IVF-style ANN: coarse quantization into k cells, search probes only
    the nearest cells — the classic inverted-file layout, Spark-first.

    Centroids are picked deterministically from the data (every
    ``n/k``-th vector by id — no iterative k-means fit, no model state;
    at 100 TB swap in KMeans|| centroids without changing the query
    path). Cell assignment is a JVM-side argmax over k literal centroid
    arrays; the cell id becomes a partition-prunable column when the
    index is persisted (``partitionBy("__ivf_cell__")``)."""

    def __init__(self, centroids: list[list[float]]):
        self.centroids = [[float(x) for x in c] for c in centroids]

    @classmethod
    def fit_deterministic(
        cls, df: DataFrame, k: int = 16, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> "IVFIndex":
        n = df.count()
        step = max(1, n // k)
        rows = (
            df.filter((F.col(id_col) % step == 0))
            .orderBy(id_col)
            .limit(k)
            .select(vec_col)
            .collect()
        )
        return cls([list(r[vec_col]) for r in rows])

    def _cell_expr(self, vec_col: str, vnorm: Column | None = None):
        """Argmax cell as ONE similarity array + array_position — NOT a
        when-chain: `best = when(sim_i > best, ...)` re-embeds every
        earlier similarity into each comparison, doubling the
        (interpreted, higher-order) expression tree per centroid — a
        measured 2^k blowup that cost 14 s on a 5k-row encode at k=8.
        Here each cosine evaluates exactly once; first-max tie-break
        matches the chain's keep-first. ``vnorm`` lets callers stage
        ||v|| as a column so it isn't re-folded per centroid.
        try_divide (ANSI is on by default in Spark 4) maps a zero-norm
        vector/centroid to NULL similarities, which array_max/position
        skip → the greatest() floor lands such rows in cell 0 — the
        same cell the old chain's never-true comparisons kept, and the
        same cell the Arrow ``encode`` assigns to non-finite rows."""
        v = F.col(vec_col).cast("array<double>")
        nv = vnorm if vnorm is not None else norm(v)
        sims = []
        for c in self.centroids:
            carr = F.array(*[F.lit(x) for x in c])
            sims.append(F.try_divide(dot(v, carr), nv * norm(carr)))
        arr = F.array(*sims)
        pos = F.array_position(arr, F.array_max(arr))
        return (F.greatest(pos, F.lit(1)) - 1).cast("int")

    def with_cells(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        clash = sorted({"__vnorm__", "__ivf_cell__"} & set(df.columns))
        if clash:
            raise ValueError(
                f"with_cells: input columns {clash} collide with the "
                "staged cell-assignment names — rename them first"
            )
        staged = df.withColumn(
            "__vnorm__", norm(F.col(vec_col).cast("array<double>"))
        )
        return staged.withColumn(
            "__ivf_cell__", self._cell_expr(vec_col, F.col("__vnorm__"))
        ).drop("__vnorm__")

    def topk(
        self,
        df: DataFrame,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 2,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Search the n_probe cells nearest to the query, exact rank
        within them."""
        import math

        qn = math.sqrt(sum(x * x for x in query_vec))

        def cos(c):
            cn = math.sqrt(sum(x * x for x in c))
            d = sum(a * b for a, b in zip(query_vec, c))
            return d / (qn * cn) if qn and cn else 0.0

        probe = sorted(range(len(self.centroids)), key=lambda i: -cos(self.centroids[i]))[:n_probe]
        cells = self.with_cells(df, vec_col).filter(F.col("__ivf_cell__").isin(probe))
        q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
        sim = cosine(F.col(vec_col).cast("array<double>"), q)
        return (
            cells.select(F.col(id_col), F.round(sim, 4).alias("cos_sim"))
            .orderBy(F.col("cos_sim").desc(), F.col(id_col))
            .limit(int(k))
        )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lsh: RandomHyperplaneLSH | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold).

    With ``lsh`` given, candidates are bucket-mates only (equi-join on the
    sketch — the scale path: near-identical vectors agree on all sign
    bits with high probability). Without it, an all-pairs join (only for
    small/verification runs)."""
    # per-vector norm hoisted out of the (quadratic) candidate join —
    # same dot/(na*nb) grouping as cosine(), bit-identical, but two of
    # the three interpreted array folds run once per VECTOR not pair.
    # The double cast is staged per VECTOR too (replacing the column
    # in place): the old per-pair cast materialized a fresh double
    # array per pair side — quadratic allocation for a linear need.
    # Cast-then-fold equals fold-of-cast element for element.
    v = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("__nd_n__", norm(F.col(vec_col)))
    if lsh is not None:
        b = lsh.with_buckets(v, vec_col)
        a2, b2 = b.alias("a"), b.alias("b")
        cand = a2.join(
            b2,
            (F.col("a.__lsh_bucket__") == F.col("b.__lsh_bucket__"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
    else:
        a2, b2 = v.alias("a"), v.alias("b")
        cand = a2.join(b2, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    sim = F.try_divide(
        dot(
            F.col(f"a.{vec_col}").cast("array<double>"),
            F.col(f"b.{vec_col}").cast("array<double>"),
        ),
        F.col("a.__nd_n__") * F.col("b.__nd_n__"),
    )
    return (
        cand.select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.round(sim, 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _with_cells_arrow(
    df: DataFrame, centroids: list[list[float]], vec_col: str,
) -> DataFrame:
    """(…, norm, cell) in ONE Arrow pass — the large-n_cells assignment
    path: numpy does the n_cells-cosine argmax per batch via the shared
    ``_cell_assign_batch`` (bit-parity with the Catalyst expression
    form), reusing its ascending-fold row norms, so downstream cosine
    arithmetic matches the expression path exactly — including the
    NULL contract: a NULL / non-finite / wrong-length vector gets cell
    0 and a NULL (not NaN) norm, same as the expression ``norm()``."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    in_schema = df.schema
    out_schema = StructType(
        list(in_schema.fields)
        + [StructField("__sd_n__", DoubleType()),
           StructField("__ivf_cell__", IntegerType())]
    )
    C = np.asarray(centroids, dtype=np.float64)
    n_cells, dim = C.shape
    cn = np.zeros(n_cells)
    for i in range(dim):
        cn = cn + C[:, i] * C[:, i]
    cn = np.sqrt(cn)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            raw = pdf[vec_col].to_numpy()
            null_mask = np.array(
                [v is None or len(v) != dim for v in raw], dtype=bool
            )
            V = np.stack([
                np.full(dim, np.nan) if null_mask[i]
                else np.asarray(raw[i], dtype=np.float64)
                for i in range(len(raw))
            ])
            cells, _finite, nv = _cell_assign_batch(V, C, cn)
            out = pdf.copy()
            # expression parity: NULL input -> NULL norm; NaN/Inf
            # ELEMENTS -> NaN norm (sqrt of a NaN fold), exactly what
            # norm() the Catalyst expression produces. FloatingArray
            # built with an explicit mask — pd.array(dtype='Float64')
            # would swallow the NaN VALUES as NA too
            norms = pd.arrays.FloatingArray(
                np.where(null_mask, 0.0, nv), null_mask.copy()
            )
            out["__sd_n__"] = norms
            out["__ivf_cell__"] = cells.astype("int32")
            yield out

    return df.mapInPandas(assign, out_schema)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    threshold: float = 0.9,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster-scoped
    semantic dedup, the embedding-space stage of an LLM curation
    pipeline: cluster the corpus coarsely, then drop near-duplicates
    WITHIN each cluster only. Keep rule (first-occurrence-wins, like
    every dedup in this package): a row is dropped iff a LOWER-id
    vector in the SAME cell has ``round(cosine, 4) >= threshold``
    (round-before-compare keeps the boundary engine-portable).
    Single-hop, not transitive — A~B and B~C with A!~C drops B and C,
    keeps A (documented; the connected-components variant is
    ``dedup.cluster_near_dups``).

    Scale shape: the only join is an EQUI-join on ``__ivf_cell__`` —
    never all-pairs. The quadratic is bounded per cell; scale
    ``n_cells`` with the corpus (the paper ran k=50k clusters on
    100M docs) so cell populations stay task-sized, and pass a
    pre-fit ``index`` (e.g. KMeans||-trained centroids) to skip the
    deterministic pick's count. Survivors are returned with their
    original columns via one left_anti on the id.

    Cross-cell miss rate, MEASURED (tools/semdedup_recall.py; grid in
    ANN_RECALL.json "semdedup_cross_cell"): on sf0.1 embeddings with
    20% planted near-dups, the fraction of true pairs captured
    within-cell falls with cell count — at threshold 0.9 pair recall
    is 0.85 / 0.81 / 0.75 / 0.70 at 4 / 8 / 16 / 32 cells; looser
    thresholds lose more (0.81 → 0.62 across the same sweep at 0.8)
    because farther pairs straddle boundaries more often. Knob
    guidance: n_cells buys per-cell quadratic cost DOWN at a measured
    recall price, so pick the smallest n_cells whose cell population
    (n/k) is still task-sized; these numbers are the near-isotropic
    WORST case — real encoder corpora cluster semantically, which is
    the paper's premise for why dups co-locate."""
    idx = index if index is not None else IVFIndex.fit_deterministic(
        df, k=n_cells, vec_col=vec_col, id_col=id_col
    )
    # per-vector norms are computed ONCE before the pair join (n rows),
    # not once per pair (n²/cells rows): cosine's higher-order array
    # folds are interpreted, so hoisting two of the three folds out of
    # the quadratic is ~3x less pair work. Bit-identical to cosine():
    # the pair expression keeps the exact dot/(na*nb) grouping, and a
    # norm's bits don't depend on where it is evaluated.
    #
    # Cell assignment routes by n_cells: the Catalyst expression argmax
    # costs n_cells interpreted cosines PER ROW, which dominates the
    # whole job above a few dozen cells (measured at 100k x 64d:
    # 256-cell assignment outweighed the 4x pair savings). Above the
    # threshold, the SAME assignment runs as one Arrow batch pass —
    # _cell_assign_batch is bit-parity with the expression form (pinned
    # property), so results and oracles are unchanged. This is the
    # paper-regime path (k=50k cells on 100M docs).
    n_centroids = len(idx.centroids)
    base = df.select(id_col, F.col(vec_col).cast("array<double>")
                     .alias("__sd_v__"))
    # fixed-width probe (one column-pruned aggregate): when every
    # vector is the same length, the quadratic pair stage runs as one
    # Arrow pass per cell instead of an interpreted-fold self-join —
    # see _pair_candidates_arrow for the screen-soundness argument.
    dim = _fixed_dim(base, "__sd_v__")
    if n_centroids > 32:
        cells = _with_cells_arrow(base, idx.centroids, "__sd_v__")
    else:
        cells = idx.with_cells(base, vec_col="__sd_v__").withColumn(
            "__sd_n__", norm(F.col("__sd_v__")))
    if dim is not None:
        # fixed-width corpus: the quadratic runs as ONE Arrow pass per
        # cell (one BLAS gemm behind a provably-superset screen),
        # and the exact Catalyst predicate re-judges the tiny candidate
        # set, so the verdict expression is unchanged. Also halves the
        # assignment work: the pandas stage consumes the assigned frame
        # ONCE instead of a self-join evaluating it per side.
        cand = _pair_candidates_arrow(cells, id_col, dim, threshold)
        doomed = _doomed_exact(cand, id_col, threshold)
        return df.join(doomed, on=id_col, how="left_anti")
    a = cells.select(
        F.col(id_col).alias("__sd_id__"), "__sd_v__",
        F.col("__sd_n__").alias("__sd_na__"), "__ivf_cell__",
    )
    prev = cells.select(
        F.col(id_col).alias("__sd_prev__"),
        F.col("__sd_v__").alias("__sd_pv__"),
        F.col("__sd_n__").alias("__sd_nb__"), "__ivf_cell__",
    )
    pair_cos = F.try_divide(
        dot(F.col("__sd_pv__"), F.col("__sd_v__")),
        F.col("__sd_nb__") * F.col("__sd_na__"),
    )
    doomed = (
        a.join(prev, on="__ivf_cell__")
        .filter(F.col("__sd_prev__") < F.col("__sd_id__"))
        .filter(F.round(pair_cos, 4) >= threshold)
        .select(F.col("__sd_id__").alias(id_col))
        .distinct()
    )
    return df.join(doomed, on=id_col, how="left_anti")


#: doomed-id sets up to this size come back to the driver (one collect)
#: and re-enter the plan as a local relation, so the call leaves no pin.
#: A size bound, not a measured crossover: 10k ids are ~80 KB of longs,
#: the id count ``LazyFrame.rows`` also sends as one literal list
_DOOMED_LOCAL_MAX = 10_000


def _materialized_ids(ids: DataFrame) -> DataFrame:
    """``ids`` evaluated once, for a plan that reads it twice. A small
    set comes back as a local relation, so nothing stays pinned after
    the call. A larger one is persisted in the dedup operators' pin
    registry (``dedup._sketches``): the next call replaces that pin,
    and ``release_sketches()`` drops it."""
    from lazy_frame_spark.operators.dedup import _sketches

    rows = ids.limit(_DOOMED_LOCAL_MAX + 1).collect()
    if len(rows) <= _DOOMED_LOCAL_MAX:
        return ids.sparkSession.createDataFrame(rows, ids.schema)
    return _sketches.pin("semantic_dedup_against.doomed", ids)


def semantic_dedup_against(
    df_new: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    threshold: float = 0.9,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """Incremental SemDeDup — ``dedup_against``'s embedding twin, the
    production-crawl shape: each new batch drops (1) every vector with
    a cell-mate in the CORPUS ALREADY KEPT at ``round(cos,4) >=
    threshold``, then (2) in-batch near-dups among the survivors
    (``semantic_dedup``'s first-winner rule). The coarse geometry is
    FROZEN on the corpus (pass the corpus-fitted ``index``; default
    fits the deterministic pick on ``corpus``), so increments never
    re-assign the corpus — the same immutable-geometry discipline as
    ``IVFPQIndex.add``.

    100 TB shape: both stages are cell equi-joins (never all-pairs);
    the corpus side ships only (cell, vector, norm), and stage 2 reuses
    stage 1's batch assignment (the argmax runs ONCE per side). For a
    standing pipeline persist the corpus's assigned cells once (or
    store them — the cell is partition-prunable) instead of
    re-assigning per increment. The call leaves nothing pinned, unless
    the batch has more than ``_DOOMED_LOCAL_MAX`` corpus matches: those
    ids stay pinned until the next call or ``release_sketches()``.

    Measured crossover (SCALE.md round 10, 10k batch / 256 cells):
    below ~a-few-hundred-k corpus vectors just re-dedup the union with
    ``semantic_dedup`` — this function's extra shuffles cost more than
    the pair savings (21 vs 17 s at 100k). Above it the incremental
    path wins and diverges (65 vs 165 s at 400k): full dedup's pairs
    grow with corpus², the increment's with corpus × batch."""
    idx = index if index is not None else IVFIndex.fit_deterministic(
        corpus, k=n_cells, vec_col=vec_col, id_col=id_col
    )
    n_centroids = len(idx.centroids)

    def _cells(frame, with_id):
        cols = ([id_col] if with_id else []) + [
            F.col(vec_col).cast("array<double>").alias("__sd_v__")
        ]
        base = frame.select(*cols)
        if n_centroids > 32:
            return _with_cells_arrow(base, idx.centroids, "__sd_v__")
        return idx.with_cells(base, vec_col="__sd_v__").withColumn(
            "__sd_n__", norm(F.col("__sd_v__")))

    new_cells = _cells(df_new, True)
    corp_cells = _cells(corpus, False).select(
        F.col("__sd_v__").alias("__sd_cv__"),
        F.col("__sd_n__").alias("__sd_cn__"),
        "__ivf_cell__",
    )
    # fixed-width probe over BOTH sides in one aggregate: a single
    # fixed dim across batch ∪ corpus is what lets both pair stages
    # run as Arrow gemm passes (ragged or mismatched widths keep the
    # all-Catalyst fallback below)
    dim = _fixed_dim(
        df_new.select(F.col(vec_col).cast("array<double>")
                      .alias("__sd_v__"))
        .unionByName(corpus.select(F.col(vec_col).cast("array<double>")
                                   .alias("__sd_v__"))),
        "__sd_v__")
    if dim is not None:
        # Arrow pair passes for BOTH stages (the same vectorization
        # that serves semantic_dedup; the exact Catalyst predicate
        # re-judges each candidate set, so verdicts are unchanged).
        # Round 15 measured the Arrow pass SLOWER here (9.0 vs 5.8 s
        # at sf0.1) because `doomed` feeds two consumers — stage 2's
        # input and the final anti-join — and an unpinned Python stage
        # re-executes per consumer. Materializing doomed once (ids
        # only, a subset of the batch) runs each Arrow stage once.
        # Round-16 re-A/B with doomed pinned (6 interleaved reps each,
        # sf0.1): Arrow mins 4.45-5.46 s vs Catalyst 4.38-9.10 s — a
        # LOCAL tie (means 4.95 vs 5.59), adopted for the paper-regime
        # shape where the per-pair interpreted fold is the measured wall
        # (the semantic_dedup self-join case won 3.8 -> 1.5 s on the
        # same switch; cells here are corpus x batch, the same quadratic).
        cand = _pair_candidates_arrow_against(
            new_cells, corp_cells, id_col, dim, threshold)
        doomed_a = _materialized_ids(_doomed_exact(cand, id_col, threshold))
        fresh_a = new_cells.join(doomed_a, on=id_col, how="left_anti")
        cand2 = _pair_candidates_arrow(fresh_a, id_col, dim, threshold)
        doomed2_a = _doomed_exact(cand2, id_col, threshold)
        return (
            df_new.join(doomed_a, on=id_col, how="left_anti")
            .join(doomed2_a, on=id_col, how="left_anti")
        )
    pair_cos = F.try_divide(
        dot(F.col("__sd_cv__"), F.col("__sd_v__")),
        F.col("__sd_cn__") * F.col("__sd_n__"),
    )
    doomed = (
        new_cells.join(corp_cells, on="__ivf_cell__")
        .filter(F.round(pair_cos, 4) >= threshold)
        .select(F.col(id_col))
        .distinct()
    )
    # stage 2 REUSES stage 1's assignment (fresh_cells is the already-
    # assigned batch minus corpus matches) — re-running the argmax over
    # the survivors would pay the dominant large-n_cells cost twice
    fresh_cells = new_cells.join(doomed, on=id_col, how="left_anti")
    a = fresh_cells.select(
        F.col(id_col).alias("__sd_id__"), "__sd_v__",
        F.col("__sd_n__").alias("__sd_na__"), "__ivf_cell__",
    )
    prev = fresh_cells.select(
        F.col(id_col).alias("__sd_prev__"),
        F.col("__sd_v__").alias("__sd_pv__"),
        F.col("__sd_n__").alias("__sd_nb__"), "__ivf_cell__",
    )
    in_batch_cos = F.try_divide(
        dot(F.col("__sd_pv__"), F.col("__sd_v__")),
        F.col("__sd_nb__") * F.col("__sd_na__"),
    )
    doomed2 = (
        a.join(prev, on="__ivf_cell__")
        .filter(F.col("__sd_prev__") < F.col("__sd_id__"))
        .filter(F.round(in_batch_cos, 4) >= threshold)
        .select(F.col("__sd_id__").alias(id_col))
        .distinct()
    )
    return (
        df_new.join(doomed, on=id_col, how="left_anti")
        .join(doomed2, on=id_col, how="left_anti")
    )


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` most-similar corpus vectors with a DIFFERENT label — the
    negatives that actually teach a metric model something.

    Scale shape: the anchor set is a training batch (hundreds), so it
    BROADCASTS and the corpus streams past it exactly once — cosine in
    whole-stage codegen, label-mismatch filter before any ranking, then
    one window keyed by anchor id (uniform, |anchors| groups) cuts to k.
    Never an all-pairs corpus self-join. Similarities round to 4
    decimals BEFORE ranking so the cut is engine-reproducible.

    Returns ``(anchor_id, neg_id, neg_label, cos_sim)``.
    """
    from pyspark.sql import Window

    # norms hoisted out of the anchors x corpus pairing (same
    # dot/(na*nb) grouping as cosine(), bit-identical): the corpus-side
    # fold runs once per vector instead of once per (anchor, vector)
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).cast("array<double>").alias("__av__"),
            F.col(label_col).alias("__al__"),
        ).withColumn("__an__", norm(F.col("__av__")))
    )
    c = df.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).cast("array<double>").alias("__cv__"),
        F.col(label_col).alias("neg_label"),
    ).withColumn("__cn__", norm(F.col("__cv__")))
    sim = F.round(
        F.try_divide(dot(F.col("__av__"), F.col("__cv__")),
                     F.col("__an__") * F.col("__cn__")),
        4,
    )
    scored = (
        c.crossJoin(a)
        .filter(F.col("neg_label") != F.col("__al__"))
        .select("anchor_id", "neg_id", "neg_label", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("neg_id")
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= int(k))
        .drop("__rn__")
    )


def label_outliers(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding outliers: the k vectors farthest (squared L2)
    from their OWN label's centroid — the standard first pass for
    mislabeled-example and drift detection in a training corpus.

    Plan: centroids via posexplode + (label, dim)-keyed partial agg
    (labels × dims rows — small at any corpus size since labels and
    dims grow sub-linearly), re-packed to one array per label and
    BROADCAST; each vector then computes its distance in a single
    codegen zip_with/aggregate expression — the corpus is scanned once,
    never exploded against the centroid join, and the only shuffle is
    the per-label top-k window (partitioned by label, k rows kept per
    partition).

    Returns ``(id_col, label_col, dist2)`` with ``dist2`` rounded to 5
    decimals; ranking uses the raw distance with an id tie-break.
    """
    from pyspark.sql import Window

    cent = (
        emb.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim")
        .agg(F.avg("v").alias("mu"))
    )
    cent_arr = cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
        ).alias("__mu_vec__")
    )
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("__mu_vec__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.join(F.broadcast(cent_arr), on=label_col).select(
        id_col, label_col, d2.alias("__d2__")
    )
    w = Window.partitionBy(label_col).orderBy(F.desc("__d2__"), F.col(id_col))
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= int(k))
        .select(id_col, label_col, F.round("__d2__", 5).alias("dist2"))
    )


# --------------------------------------------------------------------- #
# int8 quantization — 4x memory/IO reduction for embedding stores
# --------------------------------------------------------------------- #

def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "q_codes",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|v| / 127``,
    ``code_i = floor(v_i / max|v| * 127 + 0.5)`` (round-half-up — the
    one rounding rule engines agree on bit-for-bit), codes in
    [-127, 127] stored as tinyint. All-zero vectors quantize to zeros
    with scale 1/127 (no division by zero). Dequantization is
    ``code * scale``; cosine similarity is INVARIANT to the per-vector
    scale, so quantized search ranks with integer dot products — see
    ``cosine_topk_int8``.

    At 100 TB this is the difference between shipping 4 bytes and 1
    byte per dimension through every shuffle and cache tier; pure
    Catalyst expressions, no Python in the row path."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    safe = F.when(amax == F.lit(0.0), F.lit(1.0)).otherwise(amax)
    codes = F.transform(
        v, lambda x: F.floor(x / safe * 127 + F.lit(0.5)).cast("tinyint")
    )
    return df.withColumn(code_col, codes).withColumn(scale_col, safe / F.lit(127.0))


def dequantize_int8(
    df: DataFrame,
    code_col: str = "q_codes",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Reconstruct ``code * scale`` (max abs error <= scale/2 per
    dimension by construction)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(code_col), lambda c: c.cast("double") * F.col(scale_col)),
    )


def cosine_topk_int8(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_quantized: bool = False,
    code_col: str = "q_codes",
) -> DataFrame:
    """Exact top-k by cosine over int8-quantized vectors: both sides
    quantize, the dot product runs on small integers (exact in double
    arithmetic — no float-order sensitivity at all), and per-vector
    scales cancel out of cosine. Ranks approximate the full-precision
    ranking within quantization error.

    ``pre_quantized=True`` is the production path: ``df`` already
    carries ``q_codes`` (quantize ONCE with ``quantize_int8``, store
    the tinyint codes), so every query scans 1/4 the bytes and skips
    the per-row transform. The default quantizes inline — the
    correctness harness, paying transform compute to read float
    input."""
    import math

    amax = max(abs(float(x)) for x in query_vec) or 1.0
    qcodes = [math.floor(float(x) / amax * 127 + 0.5) for x in query_vec]
    q = F.array(*[F.lit(float(c)) for c in qcodes]).cast("array<double>")
    quant = (
        df if pre_quantized
        else quantize_int8(df, vec_col=vec_col, code_col=code_col)
    )
    sim = cosine(F.col(code_col).cast("array<double>"), q)
    return (
        quant.select(F.col(id_col), F.round(sim, 4).alias("cos_sim_q"))
        .orderBy(F.col("cos_sim_q").desc(), F.col(id_col))
        .limit(int(k))
    )


# --------------------------------------------------------------------- #
# Product quantization — memory-bound ANN (m bytes/vector vs 4*dim)
# --------------------------------------------------------------------- #

def pq_codebooks(
    dim: int, n_sub: int = 8, k: int = 16, seed: int = 7
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: ``n_sub`` subspaces of ``dim/n_sub``
    dimensions, ``k`` centroids each, components md5-derived uniform in
    [-1, 1) — the same no-stored-model, cross-engine-reproducible
    anchor as RandomHyperplaneLSH's planes. Data-trained (k-means)
    codebooks drop in as the same nested-list shape; everything
    downstream treats the codebook as plan literals either way."""
    import hashlib

    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subvectors")
    d_sub = dim // n_sub
    out = []
    for s in range(n_sub):
        cents = []
        for j in range(k):
            row = []
            for i in range(d_sub):
                h = hashlib.md5(f"pq:{seed}:{s}:{j}:{i}".encode()).hexdigest()
                row.append(int(h[:12], 16) / float(1 << 47) - 1.0)
            cents.append(row)
        out.append(cents)
    return out


def _pq_sub_dist(sub: Column, cent: list[float]) -> Column:
    """Squared L2 distance from a d_sub-slice to one literal centroid,
    unrolled per dimension (pure codegen arithmetic)."""
    d = F.lit(0.0)
    for i, c in enumerate(cent):
        diff = F.element_at(sub, i + 1) - F.lit(float(c))
        d = d + diff * diff
    return d


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector to ``n_sub`` one-byte codes: per subspace, the
    1-based index of the nearest centroid (first-min tie-break — both
    engines' list-position semantics). The 100 TB story: a 64-dim
    float32 embedding store (256 B/vector) becomes 8 B/vector, and the
    whole encode is a map-only Catalyst expression — no Python, no
    shuffle, no fitted-model shipping (the codebook IS the plan).

    Finite-vector contract: a vector containing any NaN/Inf/NULL
    component encodes to NULL codes on EVERY path (here, the Arrow
    twin, and the DuckDB oracle form) — without the guard, NaN
    distances make Catalyst's array_position return 0 (ADC would then
    throw on element_at(table, 0)) while numpy's argmin picks an
    arbitrary valid code, silently breaking bit-parity.
    ``pq_adc_topk`` excludes NULL-coded rows from search."""
    v = F.col(vec_col).cast("array<double>")
    d_sub = len(codebooks[0][0])
    codes = []
    for s, cents in enumerate(codebooks):
        sub = F.slice(v, s * d_sub + 1, d_sub)
        dists = F.array(*[_pq_sub_dist(sub, c) for c in cents])
        codes.append(
            F.array_position(dists, F.array_min(dists)).cast("int")
        )
    non_finite = F.exists(
        v,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )
    return df.withColumn(
        code_col,
        F.when(v.isNull() | non_finite, F.lit(None).cast("array<int>"))
        .otherwise(F.array(*codes)),
    )


def pq_adc_topk(
    df_encoded: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    code_col: str = "pq_codes",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    distance to every centroid of every subspace is computed ONCE
    driver-side (n_sub x k floats) and embedded as literal lookup
    tables; each row's approximate distance is n_sub ``element_at``
    loads + adds — the scan does no floating-point geometry at all.
    Returns the k nearest (smallest approximate distance, id
    tie-break). NULL-coded rows (non-finite vectors under pq_encode's
    finite-vector contract) are excluded — they have no defined
    distance."""
    d_sub = len(codebooks[0][0])
    luts = []
    for s, cents in enumerate(codebooks):
        q_sub = [float(x) for x in query_vec[s * d_sub:(s + 1) * d_sub]]
        luts.append([
            sum((q_sub[i] - c[i]) ** 2 for i in range(d_sub)) for c in cents
        ])
    dist = F.lit(0.0)
    for s, lut in enumerate(luts):
        table = F.array(*[F.lit(float(x)) for x in lut])
        dist = dist + F.element_at(table, F.element_at(F.col(code_col), s + 1))
    return (
        df_encoded.filter(F.col(code_col).isNotNull())
        .select(F.col(id_col), F.round(dist, 6).alias("pq_dist"))
        .orderBy(F.col("pq_dist").asc(), F.col(id_col))
        .limit(int(k))
    )


def pq_train(
    df: DataFrame,
    dim: int,
    n_sub: int = 8,
    k: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    seed: int = 7,
    init: list[list[list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Data-trained PQ codebooks: distributed Lloyd iterations per
    subspace, initialized from the deterministic hash codebooks (so
    training strictly REFINES the no-model anchor — each Lloyd step is
    non-increasing in quantization error, making trained error
    provably <= hash error on the training data).

    Scale shape: each iteration is ONE pass over the vectors — an
    Arrow-batched map computes per-partition scatter-added partial
    sums/counts per (subspace, code), a (n_sub x k)-row aggregate merges
    them, and the driver folds the merged rows into new centroids
    (n_sub*k*d_sub floats — KB-sized regardless of corpus size). No
    per-row Python, no collect of vectors, empty clusters keep their
    previous centroid. At 100 TB train on a sample (``df.sample``)
    upstream — codebook quality saturates far below corpus size.

    Non-finite vectors (NaN/Inf/NULL components) are excluded from
    training, mirroring ``pq_encode``'s finite-vector contract."""
    import numpy as np
    import pandas as pd

    books = init if init is not None else pq_codebooks(dim, n_sub, k, seed)
    d_sub = dim // n_sub
    S, K, D = n_sub, k, d_sub
    schema = "s int, code int, cnt long, " + ", ".join(
        f"d{i} double" for i in range(D)
    )

    for _ in range(int(n_iter)):
        cb = np.asarray(books, dtype=np.float64)  # (S, K, D)

        def partials(batches, cb=cb):
            cnt = np.zeros((S, K), dtype=np.int64)
            sums = np.zeros((S, K, D), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):  # empty Arrow batch: np.stack([]) raises
                    continue
                col = pdf.iloc[:, 0]
                V = np.stack([
                    np.full(S * D, np.nan) if v is None else np.asarray(v)
                    for v in col.to_numpy()
                ]).astype(np.float64)
                V = V[np.isfinite(V).all(axis=1)]
                if not len(V):
                    continue
                for s in range(S):
                    sub = V[:, s * D:(s + 1) * D]
                    acc = np.zeros((len(V), K), dtype=np.float64)
                    for i in range(D):
                        diff = sub[:, i:i + 1] - cb[s, :, i][None, :]
                        acc = acc + diff * diff
                    codes = np.argmin(acc, axis=1)
                    np.add.at(cnt[s], codes, 1)
                    np.add.at(sums[s], codes, sub)
            s_idx, c_idx = np.nonzero(cnt)
            out = {"s": s_idx.astype("int32"), "code": c_idx.astype("int32"),
                   "cnt": cnt[s_idx, c_idx]}
            for i in range(D):
                out[f"d{i}"] = sums[s_idx, c_idx, i]
            yield pd.DataFrame(out)

        merged = (
            df.select(vec_col)
            .mapInPandas(partials, schema)
            .groupBy("s", "code")
            .agg(F.sum("cnt").alias("cnt"),
                 *[F.sum(f"d{i}").alias(f"d{i}") for i in range(D)])
            .collect()
        )
        new_books = [[list(c) for c in cents] for cents in books]
        for r in merged:
            if r["cnt"]:
                new_books[r["s"]][r["code"]] = [
                    r[f"d{i}"] / r["cnt"] for i in range(D)
                ]
        books = new_books
    return books


def coarse_train_cosine(
    df: DataFrame,
    init: list[list[float]],
    n_iter: int = 10,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical Lloyd for the COARSE IVF step: the assignment step IS
    the serving assignment — every iteration calls
    ``_cell_assign_batch`` (cosine argmax, the same ascending
    left-associated float64 folds ``encode``/``topk`` use), so the
    training objective partitions vectors EXACTLY as serving will.
    (Training the coarse step with squared-L2 pq_train optimized a
    different partition whenever vectors are not unit-norm — the
    round-8 ADVICE finding this replaces.) The update is the per-cell
    mean: cosine similarity is invariant to positive centroid scale,
    so the mean direction is the spherical k-means update — explicit
    normalization would not change a single assignment. Empty cells
    (and degenerate all-zero means, which serving could never assign
    to) keep their previous centroid.

    Scale shape (same as pq_train): each iteration is ONE Arrow pass —
    per-partition scatter-added (cell, count, sum) partials, an
    n_cells-row merge aggregate, and a KB-sized driver fold. At 100 TB
    train on a sample upstream (IVFPQIndex.fit's ``train_max_rows``
    cut); coarse quality saturates far below corpus size."""
    import numpy as np
    import pandas as pd

    C = np.asarray(init, dtype=np.float64)
    n_cells, dim = C.shape
    schema = "cell int, cnt long, " + ", ".join(
        f"d{i} double" for i in range(dim)
    )
    for _ in range(int(n_iter)):
        Cb = C
        cn = np.zeros(n_cells)
        for i in range(dim):
            cn = cn + Cb[:, i] * Cb[:, i]
        cn = np.sqrt(cn)

        def partials(batches, Cb=Cb, cn=cn):
            cnt = np.zeros(n_cells, dtype=np.int64)
            sums = np.zeros((n_cells, dim), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack([
                    np.full(dim, np.nan) if v is None else np.asarray(v)
                    for v in pdf.iloc[:, 0].to_numpy()
                ]).astype(np.float64)
                cells, finite, _nv = _cell_assign_batch(V, Cb, cn)
                V, cells = V[finite], cells[finite]
                np.add.at(cnt, cells, 1)
                np.add.at(sums, cells, V)
            idx = np.nonzero(cnt)[0]
            out = {"cell": idx.astype("int32"), "cnt": cnt[idx]}
            for i in range(dim):
                out[f"d{i}"] = sums[idx, i]
            yield pd.DataFrame(out)

        merged = (
            df.select(vec_col)
            .mapInPandas(partials, schema)
            .groupBy("cell")
            .agg(F.sum("cnt").alias("cnt"),
                 *[F.sum(f"d{i}").alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        newC = C.copy()
        for r in merged:
            if r["cnt"]:
                mean = np.array([r[f"d{i}"] / r["cnt"] for i in range(dim)])
                if np.linalg.norm(mean) > 0:
                    newC[r["cell"]] = mean
        C = newC
    return [[float(x) for x in c] for c in C]


def _cell_assign_batch(V, C, cn):
    """The ONE shared Arrow-batch coarse-cell assignment: ascending
    left-associated float64 folds (norms, dots) → cosine argmax with
    non-finite rows pinned to cell 0. Both ``IVFPQIndex.encode`` and
    ``IVFPQIndex._with_residual`` call this — the bit-parity between
    encoding, residual training, and the Catalyst expression form is a
    pinned property, so the logic must not fork. Returns
    ``(cells, finite, norms)`` — norms with the same ascending fold, so
    callers never rebuild the loop."""
    import numpy as np

    n = V.shape[0]
    n_cells, dim = C.shape
    nv = np.zeros(n)
    for i in range(dim):
        nv = nv + V[:, i] * V[:, i]
    nv = np.sqrt(nv)
    dots = np.zeros((n, n_cells))
    for i in range(dim):
        dots = dots + V[:, i:i + 1] * C[:, i][None, :]
    sims = dots / (nv[:, None] * cn[None, :])
    finite = np.isfinite(V).all(axis=1) & np.isfinite(sims).all(axis=1)
    cells = np.zeros(n, dtype=np.int64)
    if n:
        safe = np.where(np.isnan(sims), -np.inf, sims)
        cells = np.argmax(safe, axis=1)
        cells[~finite] = 0
    return cells, finite, nv


def vector_covariance(df: DataFrame, vec_col: str = "__resid__",
                      dim: int | None = None):
    """d x d covariance of finite vectors as mergeable Arrow partials:
    each batch emits ONE row (count, per-dim sum, flattened outer-
    product sum — ~d² doubles, KBs at embedding dims), the driver folds
    the partials. One pass, no row collect — the 100 TB shape for any
    moment statistic. Returns a numpy (d, d) array (or None if no
    finite rows)."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if dim is None:
        probe = df.select(vec_col).filter(
            F.col(vec_col).isNotNull()).first()
        if probe is None:
            return None
        dim = len(probe[0])
    out_schema = StructType([
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("ss", ArrayType(DoubleType())),
    ])

    def partials(batches, d=dim):
        import pandas as pd

        for pdf in batches:
            vs = [v for v in pdf[vec_col].to_numpy() if v is not None]
            if not vs:
                continue
            V = np.asarray(np.stack(vs), dtype=np.float64)
            V = V[np.isfinite(V).all(axis=1)]
            if not len(V):
                continue
            yield pd.DataFrame({
                "n": [len(V)],
                "s": [V.sum(axis=0).tolist()],
                "ss": [(V.T @ V).ravel().tolist()],
            })

    rows = df.select(vec_col).mapInPandas(partials, out_schema).collect()
    if not rows:
        return None
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    ss = np.sum([np.asarray(r["ss"]).reshape(dim, dim) for r in rows],
                axis=0)
    mu = s / n
    return ss / n - np.outer(mu, mu)


def opq_rotation_from_cov(cov, n_sub: int):
    """Parametric OPQ (Ge et al., CVPR 2013, "Optimized Product
    Quantization", the OPQ-P variant): for Gaussian-ish data the
    distortion-optimal orthonormal transform diagonalizes the
    covariance (independent output dims) and allocates the
    eigen-directions to the n_sub subquantizers BALANCING the product
    of eigenvalues — equal information per subspace, so no codebook is
    starved while another is overloaded. Greedy allocation: walk the
    eigenvalues descending, assign each to the non-full bucket with the
    smallest log-product. Rows of the returned (d, d) matrix are the
    permuted eigenvectors — ``y = R @ x`` has subvector s carrying
    bucket s's directions. Orthonormal by construction, so L2 (hence
    ADC distances) are preserved exactly.

    Returns ``(R, scales)`` where ``scales[i]`` is the rotated space's
    per-output-dimension stddev (sqrt of the permuted eigenvalue).
    Callers MUST rescale any data-independent codebook init by these:
    the rotation concentrates variance, so a dominant output dim can
    have stddev 10x outside the hash anchor's [-1, 1) cube — Lloyd's
    dead-cluster rule ("empty clusters keep their previous centroid")
    then strands most codewords of the most informative subspace, and
    measured recall DROPS below the unrotated index (0.795 -> 0.69
    refine0 recall@10 on the rank-8 fixture before the rescale)."""
    import numpy as np

    cov = np.asarray(cov, dtype=np.float64)
    w, U = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(w)[::-1]
    w, U = w[order], U[:, order]
    d = len(w)
    if d % n_sub:
        raise ValueError(f"dim {d} not divisible by n_sub {n_sub}")
    d_sub = d // n_sub
    buckets: list[list[int]] = [[] for _ in range(n_sub)]
    logs = [0.0] * n_sub
    for i in range(d):
        b = min((j for j in range(n_sub) if len(buckets[j]) < d_sub),
                key=lambda j: logs[j])
        buckets[b].append(i)
        logs[b] += float(np.log(max(float(w[i]), 1e-12)))
    perm = [i for b in buckets for i in b]
    scales = np.sqrt(np.maximum(w[perm], 0.0))
    return U[:, perm].T, scales


class IVFPQIndex:
    """IVF + PQ composition — the standard billion-scale ANN layout:
    coarse cells prune the scan (probe only the n_probe cells nearest
    the query), PQ codes over the RESIDUAL (vector minus its cell
    centroid) shrink storage to n_sub bytes/vector, and search is ADC
    with per-cell lookup tables (the query's residual differs per cell,
    so each probed cell gets its own n_sub x k LUT — still literal
    floats, still zero geometry in the scan).

    Residual encoding beats raw-vector PQ because residuals concentrate
    near zero (the coarse step explains most of the variance), so the
    same codebook budget spends its centroids on a tighter
    distribution. Persist the encoded table partitioned by
    ``__ivf_cell__`` and probing prunes PARTITIONS — the 100 TB path
    reads n_probe/n_cells of the index, 8 bytes per vector."""

    def __init__(
        self,
        coarse_centroids: list[list[float]],
        codebooks: list[list[list[float]]],
        rotation: list[list[float]] | None = None,
    ):
        self.coarse = [[float(x) for x in c] for c in coarse_centroids]
        self.codebooks = codebooks
        #: optional OPQ rotation (d x d orthonormal, rows = output dims):
        #: residuals are rotated r' = R @ r before PQ coding, and query
        #: LUTs are built from the rotated query residual — L2 is
        #: rotation-invariant, so ADC distances stay true distances.
        #: None (the default) keeps the SQL-reproducible unrotated path.
        self.rotation = (
            None if rotation is None
            else [[float(x) for x in row] for row in rotation]
        )

    def _rot_np(self):
        import numpy as np

        if self.rotation is None:
            return None
        return np.asarray(self.rotation, dtype=np.float64)

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        n_cells: int = 8,
        n_sub: int = 8,
        k: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        train_iters: int = 4,
        train_max_rows: int = 100_000,
        train_coarse: bool = True,
        coarse_iters: int = 10,
        train_rotation: bool | None = None,
        seed: int = 7,
    ) -> "IVFPQIndex":
        """Coarse centroids via IVFIndex's deterministic pick (every
        n/n_cells-th vector — SQL-reproducible); codebooks
        Lloyd-trained on the RESIDUALS by default (``train_iters=4``) —
        residuals concentrate near zero after the coarse step, so the
        same codebook budget spends its centroids on a much tighter
        distribution than raw-space training. ``train_iters=0`` is the
        explicit no-model escape: deterministic hash codebooks, whose
        data-independent literals are what a bit-exact SQL twin can
        embed (trained centroids are float-sum-order dependent and not
        SQL-reproducible — verify trained indexes with recall
        invariants instead).

        ``train_coarse=True`` (the DEFAULT since round 9 — the serving
        default is what a 100 TB user gets, and the deterministic pick
        left ~10 recall points on the table) additionally Lloyd-trains
        the COARSE centroids with ``coarse_train_cosine``: spherical
        k-means whose assignment step IS the serving cosine argmax
        (``_cell_assign_batch``), initialized from the deterministic
        pick — so the trained partition matches what encode/search
        will do on ANY norm distribution, not just unit-norm. The
        probe ceiling (the fraction of true neighbors living in probed
        cells — the binding recall loss once refine saturates code
        distortion) measured recall@10 0.615 → ≥0.70 at probe 16 /
        refine 100 on sf0.1. ``train_coarse=False`` is the
        SQL-reproducible escape (paired with ``train_iters=0``) whose
        data-independent pick a bit-exact oracle can embed.

        100 TB training cost: Lloyd sees at most ``train_max_rows``
        residuals — when the corpus is larger, a uniform
        ``df.sample`` cut feeds the trainer (codebook quality
        saturates far below corpus size; 100k residuals train 1024
        centroids with ~100 points each). Each iteration is ONE
        Arrow pass over the sample with KB-sized driver state, so
        fitting is flat in corpus size once the sample cap binds.

        ``train_rotation=None`` (default) FOLLOWS the training mode:
        trained fits (any of ``train_iters``/``train_coarse``) also
        train the OPQ rotation, the no-model escape stays rotation-free
        so its output remains fully data-independent. Adjudicated on a
        REAL-TEXT fixture in round 11 (tools/opq_adjudicate.py
        "text_lsa": LSA embeddings of the documents table — hashed
        TF-IDF → SVD, the decaying spectrum encoder output has):
        rotation lifts recall@10 0.75 → 0.925 at probe16/refine100
        and 0.31 → 0.48 unrefined; the near-isotropic sf0.1
        embeddings gain 0.775 → 0.875; the rank-8 anisotropic fixture
        0.795 → 0.95. It helped every fixture measured, and its cost
        is one covariance Arrow pass over the training sample plus a
        dim×dim eigendecomposition — so trained fits now include it.
        Pass ``train_rotation=False`` to reproduce pre-round-11
        trained indexes bit-for-bit."""
        if train_rotation is None:
            train_rotation = bool(train_iters or train_coarse)
        ivf = IVFIndex.fit_deterministic(df, k=n_cells, vec_col=vec_col,
                                         id_col=id_col)
        dim = len(ivf.centroids[0])
        books = pq_codebooks(dim, n_sub, k, seed)
        idx = cls(ivf.centroids, books)
        if train_iters or train_coarse or train_rotation:
            train_df = df
            n = None
            if train_max_rows:
                n = df.count()
                if n > train_max_rows:
                    train_df = df.sample(train_max_rows / n, seed=seed)
        if train_coarse:
            vecs = train_df.select(vec_col)
            if n is not None:
                est = min(n, train_max_rows)
                vecs = vecs.coalesce(max(1, min(int(est // 8192) + 1, 64)))
            with pin_scope() as pin:
                coarse = coarse_train_cosine(
                    pin(vecs), idx.coarse, n_iter=int(coarse_iters),
                    vec_col=vec_col,
                )
            idx = cls(coarse, books)
        if train_rotation:
            # OPQ rotation (opt-in — see opq_rotation_from_cov): trained
            # on the UNROTATED residual covariance of the sample (idx
            # has no rotation yet, so _with_residual yields raw
            # residuals), then installed BEFORE the Lloyd block below so
            # the codebooks train in the rotated space they will serve
            # in. The hash-anchor init is rescaled per output dimension
            # to the rotated stddev (uniform[-1,1) has stddev 1/sqrt(3))
            # — without this, variance concentration strands dead
            # codewords and the rotation HURTS (see
            # opq_rotation_from_cov). Measured (tools/opq_adjudicate.py,
            # ANN_RECALL.json "opq"): refine0 recall@10 0.795 -> 0.95 on
            # the rank-8 anisotropic fixture, 0.775 -> 0.875 on the
            # near-isotropic sf0.1 embeddings at probe16/refine100.
            resid = idx._with_residual(train_df, vec_col).select("__resid__")
            if n is not None:
                est = min(n, train_max_rows)
                resid = resid.coalesce(max(1, min(int(est // 8192) + 1, 64)))
            cov = vector_covariance(resid, "__resid__", dim=dim)
            if cov is not None:
                import math

                rot, scales = opq_rotation_from_cov(cov, n_sub)
                idx.rotation = [[float(x) for x in row] for row in rot]
                d_sub = dim // n_sub
                books = [
                    [
                        [
                            c * float(scales[s * d_sub + i]) * math.sqrt(3.0)
                            for i, c in enumerate(cent)
                        ]
                        for cent in sub_book
                    ]
                    for s, sub_book in enumerate(books)
                ]
                idx.codebooks = books
        if train_iters:
            # persist the residual projection for the Lloyd loop (every
            # iteration re-reads it; recomputing the interpreted
            # n_cells-cosine cell expression per iteration costs more
            # than the training math), and size its partition count to
            # the SAMPLE, not the corpus: training reads at most
            # train_max_rows rows, so inheriting a 100 TB table's
            # thousands of scan partitions would pay per-task overhead
            # x iterations for ~nothing (measured 4x on small inputs)
            resid = idx._with_residual(train_df, vec_col).select("__resid__")
            if n is not None:
                est = min(n, train_max_rows)
                resid = resid.coalesce(max(1, min(int(est // 8192) + 1, 64)))
            with pin_scope() as pin:
                idx.codebooks = pq_train(
                    pin(resid), dim, n_sub, k, n_iter=train_iters,
                    vec_col="__resid__", seed=seed, init=books,
                )
        return idx

    def _cents_lit(self) -> Column:
        return F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in self.coarse
        ])

    def _with_residual(self, df: DataFrame, vec_col: str) -> DataFrame:
        """(cell, residual) per vector as ONE Arrow pass with the same
        ascending left-associated float64 folds as ``encode`` — the
        interpreted n_cells-cosine expression this replaces measured
        ~4 s on a 500-row training build at n_cells=32 (vs ~0.3 s
        here); training is the only caller and reads ``__resid__``.
        Non-finite vectors keep a NULL residual (excluded from
        training, mirroring pq_train's finite contract)."""
        import numpy as np
        import pandas as pd  # noqa: F401  (mapInPandas batches)
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        C = np.asarray(self.coarse, dtype=np.float64)
        Rot = self._rot_np()
        n_cells, dim = C.shape
        cn = np.zeros(n_cells)
        for i in range(dim):
            cn = cn + C[:, i] * C[:, i]
        cn = np.sqrt(cn)
        out_schema = StructType(
            list(df.schema)
            + [StructField("__ivf_cell__", IntegerType()),
               StructField("__resid__", ArrayType(DoubleType()))]
        )
        in_cols = list(df.columns)

        def res(batches):
            for pdf in batches:
                V = np.stack([
                    np.full(dim, np.nan) if v is None else np.asarray(v)
                    for v in pdf[vec_col].to_numpy()
                ]).astype(np.float64) if len(pdf) else np.zeros((0, dim))
                n = V.shape[0]
                cells, finite, _nv = _cell_assign_batch(V, C, cn)
                R = V - C[cells]
                if Rot is not None:
                    R = R @ Rot.T
                out = pdf[in_cols].copy()
                out["__ivf_cell__"] = cells.astype("int32")
                out["__resid__"] = [
                    list(R[r]) if finite[r] else None for r in range(n)
                ]
                yield out

        return df.mapInPandas(res, out_schema)

    def encode(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        code_col: str = "pq_codes",
    ) -> DataFrame:
        """(cell, residual-PQ codes) per vector as ONE fused Arrow
        pass: cell argmax, residual subtraction, and code assignment
        run on the same numpy batch — the interpreted Catalyst cell
        expression alone (8 cosines × 64-dim higher-order folds per
        row) costs more than the entire fused batch. Bit-parity with
        the Catalyst/SQL forms is deliberate: every dot product, norm,
        and distance accumulates dimensions ASCENDING and
        left-associated in float64, so cells, residuals, codes, and
        downstream ADC rankings are identical on every path (pinned by
        tests and the generated DuckDB oracle). Non-finite vectors get
        cell 0 (what the expression form's never-true comparisons keep)
        and NULL codes per the finite-vector contract."""
        import numpy as np
        import pandas as pd  # noqa: F401  (mapInPandas batches)
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        clash = sorted({"__ivf_cell__", code_col} & set(df.columns))
        if clash:
            raise ValueError(
                f"encode: input columns {clash} collide with the index "
                "output names — rename them first"
            )
        C = np.asarray(self.coarse, dtype=np.float64)        # (cells, dim)
        cb = np.asarray(self.codebooks, dtype=np.float64)    # (S, K, D)
        Rot = self._rot_np()                                 # OPQ (optional)
        S, K, D = cb.shape
        n_cells, dim = C.shape
        # centroid norms with the same ascending fold the Catalyst
        # norm(literal-array) performs
        cn = np.zeros(n_cells)
        for i in range(dim):
            cn = cn + C[:, i] * C[:, i]
        cn = np.sqrt(cn)
        out_schema = StructType(
            list(df.schema)
            + [StructField("__ivf_cell__", IntegerType()),
               StructField(code_col, ArrayType(IntegerType()))]
        )
        in_cols = list(df.columns)

        def enc(batches):
            for pdf in batches:
                V = np.stack([
                    np.full(dim, np.nan) if v is None else np.asarray(v)
                    for v in pdf[vec_col].to_numpy()
                ]).astype(np.float64) if len(pdf) else np.zeros((0, dim))
                n = V.shape[0]
                cells, finite, _nv = _cell_assign_batch(V, C, cn)
                R = V - C[cells]
                if Rot is not None:
                    R = R @ Rot.T
                codes = np.empty((n, S), dtype=np.int32)
                for s in range(S):
                    sub = R[:, s * D:(s + 1) * D]
                    acc = np.zeros((n, K))
                    for i in range(D):
                        diff = sub[:, i:i + 1] - cb[s, :, i][None, :]
                        acc = acc + diff * diff
                    codes[:, s] = np.argmin(acc, axis=1) + 1
                out = pdf[in_cols].copy()
                out["__ivf_cell__"] = cells.astype("int32")
                out[code_col] = [
                    list(codes[r]) if finite[r] else None for r in range(n)
                ]
                yield out

        return df.mapInPandas(enc, out_schema)

    def topk(
        self,
        df_encoded: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        n_probe: int = 2,
        code_col: str = "pq_codes",
        id_col: str = "vec_id",
        refine: int = 0,
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ADC search inside the probed cells: filter to n_probe cells
        (partition-prunable when the index is stored partitioned by
        cell), then per-cell literal LUTs keyed off ``__ivf_cell__``.
        NULL-coded rows (non-finite vectors) are excluded.

        ``refine=R`` adds the standard IVFADC-refine stage: the
        R-candidate ADC shortlist is re-ranked by EXACT squared L2
        using the stored ``vec_col`` vectors carried through the SAME
        probe-pruned scan — no second scan, no join; the shortlist
        TakeOrdered moves at most R rows x vector bytes per partition.
        PQ distortion then only has to land the true neighbors inside
        the shortlist, not rank them — measured recall@10 0.42 -> 0.60
        at sf0.1 (cells=32, probe=8, sub=16, k=64, R=50). The refined
        result's distance column is ``dist`` (exact), not ``pq_dist``.
        A nonzero ``refine`` below k is clamped UP to k — an
        R-candidate shortlist with R < k would silently return fewer
        than k rows, which callers misread as corpus exhaustion."""
        import math

        if refine:
            refine = max(int(refine), int(k))

        q = [float(x) for x in query_vec]
        qn = math.sqrt(sum(x * x for x in q))

        def cos(c):
            cn = math.sqrt(sum(x * x for x in c))
            d = sum(a * b for a, b in zip(q, c))
            return d / (qn * cn) if qn and cn else 0.0

        probe = sorted(range(len(self.coarse)),
                       key=lambda i: -cos(self.coarse[i]))[:int(n_probe)]
        d_sub = len(self.codebooks[0][0])
        rot = self.rotation
        dist = None
        for cell in probe:
            qres = [q[i] - self.coarse[cell][i] for i in range(len(q))]
            if rot is not None:  # rotate like the stored codes were
                qres = [sum(row[i] * qres[i] for i in range(len(qres)))
                        for row in rot]
            cell_dist = F.lit(0.0)
            for s, cents in enumerate(self.codebooks):
                q_sub = qres[s * d_sub:(s + 1) * d_sub]
                lut = [
                    sum((q_sub[i] - c[i]) ** 2 for i in range(d_sub))
                    for c in cents
                ]
                table = F.array(*[F.lit(float(x)) for x in lut])
                cell_dist = cell_dist + F.element_at(
                    table, F.element_at(F.col(code_col), s + 1)
                )
            cond = F.col("__ivf_cell__") == F.lit(cell)
            dist = cell_dist if dist is None else F.when(cond, cell_dist).otherwise(dist)
        base = df_encoded.filter(
            F.col("__ivf_cell__").isin([int(c) for c in probe])
            & F.col(code_col).isNotNull()
        )
        if refine:
            sl = (
                base.select(F.col(id_col), F.col(vec_col),
                            F.round(dist, 6).alias("pq_dist"))
                .orderBy(F.col("pq_dist").asc(), F.col(id_col))
                .limit(int(refine))
            )
            q_arr = F.array(*[F.lit(float(x)) for x in q])
            exact = F.aggregate(
                F.zip_with(F.col(vec_col).cast("array<double>"), q_arr,
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x,
            )
            return (
                sl.select(F.col(id_col), F.round(exact, 6).alias("dist"))
                .orderBy(F.col("dist").asc(), F.col(id_col))
                .limit(int(k))
            )
        return (
            base.select(F.col(id_col), F.round(dist, 6).alias("pq_dist"))
            .orderBy(F.col("pq_dist").asc(), F.col(id_col))
            .limit(int(k))
        )

    def topk_batch(
        self,
        df_encoded: DataFrame,
        queries: Sequence[tuple[int, Sequence[float]]],
        k: int = 10,
        n_probe: int = 2,
        code_col: str = "pq_codes",
        id_col: str = "vec_id",
        refine: int = 0,
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ADC search for MANY queries in ONE plan — the serving shape
        for query batches: every query's per-probed-cell LUT geometry
        is computed driver-side and broadcast as LITERAL rows
        (n_queries x n_probe rows of n_sub x k floats — KB-to-MB
        regardless of corpus size), candidates come from ONE cell-key
        equi-join against the encoded table (partition-prunable when
        stored partitionBy(__ivf_cell__) — only probed cells' codes are
        read), distances are pure LUT loads, and the per-query top-k is
        one window over the probed subset. ``refine=R`` re-ranks each
        query's R-candidate shortlist by exact L2 against the broadcast
        panel (R rows per query, never the corpus); refined output
        carries ``dist`` (exact), unrefined ``pq_dist``. Returns
        ``(qid, id_col, pq_dist|dist)`` — per query the same results as
        ``topk`` called per vector. NULL-coded rows are excluded.
        Nonzero ``refine`` below k clamps UP to k (see ``topk``)."""
        import math

        from pyspark.sql import Window

        if refine:
            refine = max(int(refine), int(k))

        spark = df_encoded.sparkSession
        q_list = [(int(qid), [float(x) for x in vec])
                  for qid, vec in queries]
        d_sub = len(self.codebooks[0][0])
        S = len(self.codebooks)
        lut_rows = []
        for qid, q in q_list:
            qn = math.sqrt(sum(x * x for x in q))

            def cos(c):
                cn = math.sqrt(sum(x * x for x in c))
                d = sum(a * b for a, b in zip(q, c))
                return d / (qn * cn) if qn and cn else 0.0

            probe = sorted(range(len(self.coarse)),
                           key=lambda i: -cos(self.coarse[i]))[:int(n_probe)]
            for cell in probe:
                qres = [q[i] - self.coarse[cell][i] for i in range(len(q))]
                if self.rotation is not None:
                    qres = [sum(r[i] * qres[i] for i in range(len(qres)))
                            for r in self.rotation]
                row = [qid, int(cell)]
                for s, cents in enumerate(self.codebooks):
                    q_sub = qres[s * d_sub:(s + 1) * d_sub]
                    row.append([
                        float(sum((q_sub[i] - c[i]) ** 2
                                  for i in range(d_sub)))
                        for c in cents
                    ])
                lut_rows.append(tuple(row))
        schema = "qid int, cell int, " + ", ".join(
            f"lut{s + 1} array<double>" for s in range(S))
        luts = F.broadcast(spark.createDataFrame(lut_rows, schema))
        dist = F.lit(0.0)
        for s in range(S):
            dist = dist + F.element_at(F.col(f"lut{s + 1}"),
                                       F.element_at(F.col(code_col), s + 1))
        cand_cols = [id_col, "__ivf_cell__", code_col]
        if refine:
            cand_cols.append(vec_col)
        wq = Window.partitionBy("qid").orderBy(F.asc("__dist__"),
                                               F.asc(id_col))
        cand = (
            df_encoded.filter(F.col(code_col).isNotNull())
            .select(*cand_cols)
            .join(luts, F.col("__ivf_cell__") == F.col("cell"))
            .withColumn("__dist__", F.round(dist, 6))
            .withColumn("__rn__", F.row_number().over(wq))
            .filter(F.col("__rn__") <= int(refine or k))
        )
        if not refine:
            return cand.select("qid", F.col(id_col),
                               F.col("__dist__").alias("pq_dist"))
        pdf = F.broadcast(spark.createDataFrame(
            q_list, "qid2 int, q array<double>"))
        d2 = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), F.col("q"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        w2 = Window.partitionBy("qid").orderBy(F.asc("__d2__"),
                                               F.asc(id_col))
        return (
            cand.join(pdf, F.col("qid") == F.col("qid2"))
            .select("qid", F.col(id_col), F.round(d2, 6).alias("__d2__"))
            .withColumn("__rn2__", F.row_number().over(w2))
            .filter(F.col("__rn2__") <= int(k))
            .select("qid", F.col(id_col), F.col("__d2__").alias("dist"))
        )

    META_FILE = "_ivfpq_index.json"  # '_' prefix: invisible to readers

    def save(self, df_encoded: DataFrame, path: str) -> None:
        """Persist the index in its serving layout: the encoded table
        partitioned by ``__ivf_cell__`` (so probes prune PARTITIONS —
        the 100 TB read path reads n_probe/n_cells of the index) plus a
        JSON sidecar holding the geometry (coarse centroids +
        codebooks — KBs regardless of corpus size). The sidecar's
        underscore name keeps every parquet reader from seeing it as
        data. Keep the vector column in ``df_encoded`` if searches will
        use ``refine=`` (exact re-rank needs the stored vectors);
        drop it for the pure 1+n_sub-bytes-per-vector footprint.
        Sidecar IO is plain local-filesystem ``open`` — on an object
        store, write the JSON through your FS layer instead."""
        import json
        import os

        df_encoded.write.mode("overwrite").partitionBy(
            "__ivf_cell__").parquet(path)
        with open(os.path.join(path, self.META_FILE), "w") as f:
            json.dump({"coarse": self.coarse, "codebooks": self.codebooks,
                       "rotation": self.rotation}, f)

    ADD_HW_FILE = "_ivfpq_add_hw.json"  # per-stream add high-water marks

    def add(
        self,
        df_new: DataFrame,
        path: str,
        vec_col: str = "embedding",
        code_col: str = "pq_codes",
        batch_id: int | None = None,
        stream_id: str = "default",
    ) -> None:
        """Incremental append — the production-crawl pairing for
        ``dedup_against``: encode a NEW batch against the frozen
        geometry (a ``load()``-ed index's coarse centroids + codebooks)
        and append it to the persisted cell-partitioned layout, no
        refit, no corpus re-encode. Append-then-search equals
        encode-the-union-then-search BY CONSTRUCTION: the geometry is
        immutable and ``encode`` is a pure per-row function of it, so
        the union of encodings IS the encoding of the union (pinned by
        the ``ann_ivfpq_incremental`` oracle row). Only cells the batch
        lands in receive new files — untouched cell partitions are not
        rewritten, and probe filters keep pruning partitions. At 100 TB
        this is the only sane maintenance path: per-increment cost is
        O(batch), never O(corpus). Geometry drift (a batch distribution
        far from the fitted corpus) degrades RECALL, not correctness —
        monitor and re-fit/re-save when it matters.

        Crash contract. With ``batch_id=None`` the write is a plain
        parquet append: a crash mid-add leaves a PARTIAL batch visible
        and a blind retry DUPLICATES the rows already written — fine
        for one-shot manual maintenance, wrong for a driven pipeline.
        A pipeline passes a monotonically increasing ``batch_id`` (the
        foreachBatch epoch — same discipline as
        ``versioned_stream_writer``): the batch then commits through a
        journal — staged write, per-file renames carrying a
        ``add-{stream}-{batch}-`` name prefix, then a high-water-mark
        publish — so a REPLAYED batch is absorbed (id at or below the
        mark: no-op) and a RETRIED crash first sweeps the crashed
        attempt's prefixed files before re-ingesting (no duplicates,
        no loss). Between a crash and its retry, readers may see a
        subset of the in-flight batch — never duplicates, never
        corruption. ONE add at a time per path — the high-water
        sidecar is a read-modify-write of all streams' marks, so two
        concurrent adds (even for different stream_ids) can lose one
        mark and re-ingest on replay; serialize adds, as every journal
        in this repo assumes a single writer per table."""
        import json
        import os

        enc = self.encode(df_new, vec_col=vec_col, code_col=code_col)
        # align to the store's column set: a codes-only store (vectors
        # dropped for the 1+n_sub-bytes footprint) takes the projected
        # batch; a store column the batch CANNOT supply would silently
        # fork the schema (parquet append never validates) — refuse
        existing = df_new.sparkSession.read.parquet(path).columns
        missing = sorted(set(existing) - set(enc.columns))
        if missing:
            raise ValueError(
                "add: encoded batch does not match the saved index store "
                f"— store columns {missing} are absent from the batch"
            )
        enc = enc.select(*[F.col(c) for c in existing])
        if batch_id is None:
            enc.write.mode("append").partitionBy("__ivf_cell__").parquet(path)
            return

        hw_path = os.path.join(path, self.ADD_HW_FILE)
        hw: dict = {}
        if os.path.exists(hw_path):
            with open(hw_path) as f:
                hw = json.load(f)
        if stream_id in hw and batch_id <= hw[stream_id]:
            return  # replayed epoch: already fully committed
        # hex-encode the stream id in file names: a raw id containing
        # '-' would make the sweep prefix ambiguous (stream 'a' batch 1
        # sweeping would match stream 'a-1' batch 2's committed files —
        # silent data loss); hex is unambiguous for any id
        sid = stream_id.encode("utf-8").hex()
        self._sweep_add_attempt(path, sid, batch_id)
        self._staged_ingest(enc, path, sid, batch_id)
        # the renames bypassed Spark's writers, so invalidate the
        # session FileStatusCache — a stale listing would hide the new
        # files from same-session reads (sources/parquet._refresh)
        from lazy_frame_spark.sources.parquet import _refresh

        _refresh(df_new.sparkSession, path)
        hw[stream_id] = int(batch_id)
        tmp = hw_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(hw, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, hw_path)  # the commit point (atomic rename)

    @staticmethod
    def _sweep_add_attempt(path: str, sid_hex: str, batch_id: int) -> None:
        """Remove files a CRASHED earlier attempt of this exact batch
        already moved into cell dirs (their name prefix identifies
        them) — the repair that makes the retry duplicate-free.
        ``sid_hex`` is the hex-encoded stream id (see ``add``) so the
        prefix match can never straddle field boundaries."""
        import os

        import glob
        import shutil

        # stale stage dirs from hard-killed attempts (single-writer, so
        # anything matching the pattern is ours and dead)
        for stale in glob.glob(path.rstrip("/") + "__add_stage_*"):
            shutil.rmtree(stale, ignore_errors=True)
        prefix = f"add-{sid_hex}-{batch_id}-"
        for entry in os.listdir(path):
            cell_dir = os.path.join(path, entry)
            if not (entry.startswith("__ivf_cell__=")
                    and os.path.isdir(cell_dir)):
                continue
            for name in os.listdir(cell_dir):
                if name.startswith(prefix):
                    os.remove(os.path.join(cell_dir, name))

    @staticmethod
    def _staged_ingest(enc: DataFrame, path: str,
                       sid_hex: str, batch_id: int) -> None:
        """Write the encoded batch to an invisible sibling stage dir,
        then rename each part file into its cell dir under the
        attempt's name prefix (per-file atomic; same filesystem)."""
        import os
        import shutil
        import uuid

        stage = path.rstrip("/") + f"__add_stage_{uuid.uuid4().hex[:8]}"
        shutil.rmtree(stage, ignore_errors=True)
        enc.write.mode("overwrite").partitionBy("__ivf_cell__").parquet(stage)
        try:
            n = 0
            for entry in sorted(os.listdir(stage)):
                src_dir = os.path.join(stage, entry)
                if not (entry.startswith("__ivf_cell__=")
                        and os.path.isdir(src_dir)):
                    continue
                dst_dir = os.path.join(path, entry)
                os.makedirs(dst_dir, exist_ok=True)
                for name in sorted(os.listdir(src_dir)):
                    if name.startswith((".", "_")):
                        continue
                    os.rename(
                        os.path.join(src_dir, name),
                        os.path.join(
                            dst_dir,
                            f"add-{sid_hex}-{batch_id}-{n}-{name}",
                        ),
                    )
                    n += 1
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    @staticmethod
    def delete_ids(
        spark,
        path: str,
        ids: DataFrame,
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Incremental removal — ``add``'s inverse, and the
        right-to-erasure pass on a served index (a user's vectors must
        leave the index, not just the corpus). One column-pruned scan
        semi-joins the store against the delete ids to learn WHICH
        cells hold them (ids arrive cell-less; the store knows); the
        rewrite then routes through ``sources.parquet.delete_keys``
        scoped to exactly those ``__ivf_cell__`` partitions — journaled
        swap (a kill anywhere leaves a readable store), untouched cell
        partitions not rewritten, probe filters keep pruning. Geometry
        is untouched: deletion never changes other vectors' codes, so
        delete-then-search equals encode-the-remainder-then-search BY
        CONSTRUCTION (pinned by the ``ann_ivfpq_delete`` oracle row).
        At 100 TB the cost is O(cells touched), never O(corpus).
        Returns the re-read store."""
        import shutil
        import uuid

        from lazy_frame_spark.sources.parquet import delete_keys, recover_table

        # heal any interrupted earlier swap BEFORE deriving the delete
        # set: a partial listing (some cell dirs mid-swap) would drop
        # those cells' ids from the set — a silent erasure miss
        recover_table(path)
        store = spark.read.parquet(path)
        dkeys = ids.select(id_col).distinct()
        # no broadcast hint: a small id set auto-broadcasts, a huge
        # erasure batch must be allowed to shuffle (mixing.py:151's
        # forced-hint lesson)
        dels = (
            store.select(id_col, "__ivf_cell__")
            .join(dkeys, on=id_col, how="semi")
            .distinct()
        )
        # the delete set's lineage reads the PRE-swap store; delete_keys
        # re-evaluates it for the post-swap erasure cross-check, when
        # those files are gone. Stage it to a sibling temp table first
        # (not persist/localCheckpoint: parquet survives executor loss
        # and any batch size), and let delete_keys see a clean scan.
        # uuid-suffixed: a FIXED staged name would hand the second
        # delete_ids of a session the first one's FileStatusCache
        # listing (the stale-listing hazard _refresh fixes for tables)
        staged = (path.rstrip("/")
                  + f"__delete_ids_tmp_{uuid.uuid4().hex[:8]}")
        shutil.rmtree(staged, ignore_errors=True)
        dels.write.mode("overwrite").parquet(staged)
        try:
            return delete_keys(
                spark, path, spark.read.parquet(staged),
                key=["__ivf_cell__", id_col], scope_to_partitions=True,
            )
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    @classmethod
    def load(cls, spark, path: str) -> tuple["IVFPQIndex", DataFrame]:
        """Reopen a saved index: ``(index, encoded_frame)`` — the frame
        is the cell-partitioned store (partition-pruned by topk's probe
        filter), the index carries the sidecar geometry. Heals any
        interrupted journaled maintenance (delete/rebalance) first, so
        a crash mid-swap can never serve half a commit."""
        import json
        import os

        from lazy_frame_spark.sources.parquet import recover_table

        recover_table(path)
        with open(os.path.join(path, cls.META_FILE)) as f:
            meta = json.load(f)
        idx = cls(meta["coarse"], meta["codebooks"],
                  rotation=meta.get("rotation"))
        return idx, spark.read.parquet(path)

    @staticmethod
    def rebalance_cells(
        spark,
        path: str,
        max_cell_rows: int,
        vec_col: str = "embedding",
        code_col: str = "pq_codes",
        split_iters: int = 5,
        seed: int = 7,
    ) -> tuple["IVFPQIndex", dict]:
        """Split HOT cells of a saved index in place — the third leg of
        the maintenance triad (``add`` grows it, ``delete_ids`` shrinks
        it, this re-shapes it). Data drift concentrates new vectors in
        a few cells; a hot cell degrades every probe that touches it
        (per-probe cost is the probed cells' population), so the fix is
        LOCAL: each cell above ``max_cell_rows`` splits into two
        cosine-Lloyd sub-centroids trained on that cell's vectors only,
        its rows re-encode against whichever sub-centroid wins
        (CONSTRAINED to the pair — never a global reassignment, so only
        the hot cells' partitions rewrite and the O(cells-touched)
        maintenance cost contract of delete_ids holds), and the new
        centroid appends to the geometry. The partition swaps AND the
        geometry sidecar commit under ONE journal
        (sources.parquet._swap_partitions — the sidecar rides as a
        file-grain swap entry), so readers see old-data+old-geometry or
        new-data+new-geometry, never a mix: stale codes against a moved
        centroid would silently corrupt ADC distances.

        Requires the store to carry ``vec_col`` (the refine-capable
        layout): re-encoding needs the vectors; codes-only stores must
        re-fit instead. Exactness invariant (pinned by test): full-probe
        + exact refine is the exact kNN of the stored vectors, so it
        returns IDENTICAL results before and after a rebalance —
        re-encoding moves approximation quality, never truth. Returns
        ``(new_index, stats)``."""
        import os
        import shutil
        import uuid

        import numpy as np

        from lazy_frame_spark.sources.parquet import (
            _escape_partition_value,
            _refresh,
            _swap_partitions,
            recover_table,
        )

        recover_table(path)
        idx, store = IVFPQIndex.load(spark, path)
        if vec_col not in store.columns:
            raise ValueError(
                "rebalance_cells needs the stored vectors "
                f"({vec_col!r} absent — a codes-only store cannot "
                "re-encode); save the index with vectors or re-fit"
            )
        hot = sorted(
            int(r["__ivf_cell__"])
            for r in store.groupBy("__ivf_cell__")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") > int(max_cell_rows))
            .collect()
        )
        if not hot:
            return idx, {"cells_split": 0, "new_cells": []}
        coarse = [[float(x) for x in c] for c in idx.coarse]
        dim = len(coarse[0])
        splits: list[tuple[int, int]] = []
        for c in hot:
            base = np.asarray(coarse[c], dtype=np.float64)
            scale = (float(np.linalg.norm(base)) or 1.0) * 0.05
            g = np.random.default_rng(seed * 100_003 + c)
            delta = g.standard_normal(dim) * scale
            sub = coarse_train_cosine(
                store.filter(F.col("__ivf_cell__") == c).select(vec_col),
                [[float(x) for x in base + delta],
                 [float(x) for x in base - delta]],
                n_iter=int(split_iters), vec_col=vec_col,
            )
            new_id = len(coarse)
            coarse[c] = sub[0]
            coarse.append(sub[1])
            splits.append((c, new_id))
        new_idx = IVFPQIndex(coarse, idx.codebooks, rotation=idx.rotation)

        reenc = _reencode_split(
            store.filter(F.col("__ivf_cell__").isin(hot)),
            coarse, splits, idx.codebooks, idx._rot_np(),
            vec_col, code_col,
        )
        dest = path.rstrip("/") + f"__rebalance_{uuid.uuid4().hex[:8]}"
        shutil.rmtree(dest, ignore_errors=True)
        reenc.write.mode("overwrite").partitionBy("__ivf_cell__").parquet(dest)
        pdirs = []
        for c, new_id in splits:
            for v in (c, new_id):
                p = f"__ivf_cell__={_escape_partition_value(v)}"
                # a fully-one-sided split leaves one dir absent from the
                # staged write; an EMPTY dir must still swap in (the
                # rolled-forward state owns both names)
                os.makedirs(os.path.join(dest, p), exist_ok=True)
                pdirs.append(p)
        new_sidecar = {"coarse": new_idx.coarse,
                       "codebooks": new_idx.codebooks,
                       "rotation": new_idx.rotation}
        import json

        with open(os.path.join(dest, IVFPQIndex.META_FILE), "w") as f:
            json.dump(new_sidecar, f)
            f.flush()
            os.fsync(f.fileno())
        _swap_partitions(path, dest, pdirs + [IVFPQIndex.META_FILE])
        _refresh(spark, path)
        return new_idx, {"cells_split": len(splits),
                         "new_cells": [n for _, n in splits]}


def _reencode_split(
    hot_rows: DataFrame,
    coarse: list[list[float]],
    splits: list[tuple[int, int]],
    codebooks: list,
    rot,
    vec_col: str,
    code_col: str,
) -> DataFrame:
    """Re-encode a hot cell's rows against its two sub-centroids (the
    CONSTRAINED assignment of ``rebalance_cells`` — old cell vs its new
    sibling, never the full argmax, so no row escapes the rewritten
    partitions). One Arrow pass: pairwise cosine pick, residual vs the
    winner, PQ code loop — the ``encode`` shape restricted to a 2-row
    centroid matrix per row. Non-finite vectors keep their old cell
    with NULL codes (the encode contract)."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batches)

    cb = np.asarray(codebooks, dtype=np.float64)
    S, K, D = cb.shape
    dim = len(coarse[0])
    pos = {c: i for i, (c, _n) in enumerate(splits)}
    C0 = np.stack([np.asarray(coarse[c], dtype=np.float64)
                   for c, _n in splits])
    C1 = np.stack([np.asarray(coarse[n], dtype=np.float64)
                   for _c, n in splits])
    ids1 = np.array([n for _c, n in splits], dtype=np.int64)
    n0 = np.linalg.norm(C0, axis=1)
    n1 = np.linalg.norm(C1, axis=1)
    out_schema = hot_rows.schema
    in_cols = list(hot_rows.columns)

    def reenc(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                yield pdf
                continue
            V = np.stack([
                np.full(dim, np.nan) if v is None else np.asarray(v)
                for v in pdf[vec_col].to_numpy()
            ]).astype(np.float64)
            old = pdf["__ivf_cell__"].to_numpy().astype(np.int64)
            h = np.array([pos[int(x)] for x in old])
            finite = np.isfinite(V).all(axis=1)
            nv = np.linalg.norm(V, axis=1)
            ok = finite & (nv > 0)
            Vs = np.where(ok[:, None], V, 0.0)
            cos0 = np.einsum("ij,ij->i", Vs, C0[h]) / np.where(
                n0[h] * nv > 0, n0[h] * nv, 1.0)
            cos1 = np.einsum("ij,ij->i", Vs, C1[h]) / np.where(
                n1[h] * nv > 0, n1[h] * nv, 1.0)
            take1 = ok & (cos1 > cos0)
            cells = np.where(take1, ids1[h], old)
            chosen = np.where(take1[:, None], C1[h], C0[h])
            R = V - chosen
            if rot is not None:
                R = R @ rot.T
            codes = np.empty((n, S), dtype=np.int32)
            for s in range(S):
                sub = np.where(ok[:, None], R[:, s * D:(s + 1) * D], 0.0)
                acc = np.zeros((n, K))
                for i in range(D):
                    diff = sub[:, i:i + 1] - cb[s, :, i][None, :]
                    acc = acc + diff * diff
                codes[:, s] = np.argmin(acc, axis=1) + 1
            out = pdf[in_cols].copy()
            out["__ivf_cell__"] = cells.astype(pdf["__ivf_cell__"].dtype)
            out[code_col] = [
                list(codes[r]) if ok[r] else None for r in range(n)
            ]
            yield out

    return hot_rows.mapInPandas(reenc, out_schema)


def pq_encode_arrow(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Arrow-vectorized twin of ``pq_encode``: the unrolled 8x16x8
    distance expression exceeds Spark's generated-method limits, so the
    Catalyst form runs INTERPRETED (~260 us/vector measured); this
    numpy version computes the same distances over Arrow batches at
    scan speed. Bit-parity is deliberate: float32 inputs widen to
    float64 exactly, and the accumulation loops over dimensions in the
    same ascending left-associated order as both the Catalyst
    expression and the generated DuckDB oracle SQL — distances, argmin
    codes, and downstream ADC rankings are identical on every path
    (pinned by tests)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    cb = np.asarray(codebooks, dtype=np.float64)  # (S, K, D)
    S, K, D = cb.shape

    def _enc(vs):
        V = np.stack([
            np.full(S * D, np.nan) if v is None else np.asarray(v)
            for v in vs.to_numpy()
        ]).astype(np.float64)  # (n, S*D); None vectors -> all-NaN rows
        n = V.shape[0]
        codes = np.empty((n, S), dtype=np.int32)
        for s in range(S):
            sub = V[:, s * D:(s + 1) * D]
            acc = np.zeros((n, K), dtype=np.float64)
            for i in range(D):
                diff = sub[:, i:i + 1] - cb[s, :, i][None, :]
                acc = acc + diff * diff  # dim-ascending, left-assoc
            codes[:, s] = np.argmin(acc, axis=1) + 1  # first-min, 1-based
        # finite-vector contract (same as pq_encode): any NaN/Inf/NULL
        # component -> NULL codes, keeping argmin parity trivially true
        finite = np.isfinite(V).all(axis=1)
        return pd.Series([
            list(codes[r]) if finite[r] else None for r in range(n)
        ])

    # annotate with REAL types (not strings) so pandas_udf infers the
    # SERIES eval type without needing pd in this module's globals
    _enc.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    enc = F.pandas_udf(ArrayType(IntegerType()))(_enc)
    return df.withColumn(code_col, enc(F.col(vec_col)))


def exact_l2_topk_panel(
    df: DataFrame,
    panel: Sequence[tuple[int, Sequence[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact squared-L2 top-k ground truth ``(qid, vec_id)`` for a
    small query panel — the evaluation denominator for ANN recall, as
    ONE declarative plan: broadcast-panel crossJoin (bounded build —
    the panel is tens of rows) + per-query rank window. This IS the
    full exact scan ANN exists to avoid; it's an evaluation harness to
    run on a sample, never a serving path."""
    from pyspark.sql import Window

    spark = df.sparkSession
    pdf = F.broadcast(spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in panel],
        "qid int, q array<double>",
    ))
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), F.col("q"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("__d2__"), F.asc(id_col))
    return (
        df.select(id_col, vec_col).crossJoin(pdf)
        .select("qid", F.col(id_col), d2.alias("__d2__"))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= int(k))
        .select("qid", id_col)
    )


def ivfpq_panel_hits(
    enc: DataFrame,
    idx: "IVFPQIndex",
    panel: Sequence[tuple[int, Sequence[float]]],
    truth: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    refine: int = 0,
    label: str = "hits",
    code_col: str = "pq_codes",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE-row DataFrame ``label: bigint``: over the whole panel, how
    many of the exact top-k (``truth`` from exact_l2_topk_panel) the
    index's ADC(-refined) top-k recovers — recall@k is
    ``label / (k * n_queries)``.

    The batched search itself is ``IVFPQIndex.topk_batch`` (the serving
    API — literal broadcast LUT rows, ONE partition-prunable cell-key
    equi-join, a window per query); this helper just intersects its
    results with the exact ground truth and counts."""
    cand = idx.topk_batch(
        enc, panel, k=k, n_probe=n_probe, code_col=code_col,
        id_col=id_col, refine=refine, vec_col=vec_col,
    )
    return truth.join(cand.select("qid", id_col), ["qid", id_col]).agg(
        F.count(F.lit(1)).alias(label))
