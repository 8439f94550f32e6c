"""Deduplication operators for training-data pipelines.

Five flavors, all designed so the candidate-generation step is a shuffle
on a *sketch key* (hash bucket), never an all-pairs comparison:

- ``exact_dedup``: hash-groupBy on content (or normalized fingerprint);
  the winner per group is the min id — deterministic across engines.
- ``minhash_*``: word-shingle MinHash signatures + banded LSH. Candidate
  pairs come from an equi-join on (band, bucket) — the only formulation
  that scales: at 100 TB the join key is uniformly-distributed hash
  buckets, and AQE handles residual skew. Signatures use md5-derived
  token hashes and fixed affine permutations, so the DuckDB oracle can
  reproduce them value-for-value.
- ``simhash_*``: 32-bit SimHash with per-bit majority vote; near-dup =
  hamming distance ≤ k via ``bit_count(a XOR b)``.
- ``ngram_jaccard_pairs``: exact token-set Jaccard via explode +
  equi-join on token (document-frequency pruning keeps the hot tokens
  from exploding the join at scale).
- embedding near-dup lives in operators/similarity.py (cosine path).

Reference parity note: the reference has no dedup at all (SURVEY.md
§2.2) — this module is north-star scope.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lazy_frame_spark.operators.text import (
    exploded_shingles,
    normalized_fingerprint,
    tokens,
)
from lazy_frame_spark.pins import PinRegistry

#: MinHash modulus: prime just above 2^32. Token hashes are reduced mod P
#: first so a*h + b stays < 2^62 — no BIGINT overflow in either engine.
MINHASH_P = 4_294_967_311

#: fixed affine permutation parameters (seeded, hardcoded at import so the
#: SQL oracle renders the same constants)
_rng = random.Random(20240813)
N_PERM = 12
MINHASH_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 30), _rng.randrange(0, 1 << 30)) for _ in range(N_PERM)
]
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS

SIMHASH_BITS = 32


def simhash_band_widths(max_hamming: int) -> list[int]:
    """Bit widths of the SimHash LSH bands for a given hamming radius.

    Pigeonhole: a pair within hamming distance ``h`` differs in at most
    ``h`` bits, so splitting the 32 bits into ``h + 1`` disjoint chunks
    guarantees at least one chunk is identical — the banded equi-join
    then has 100% recall (the full distance is re-verified afterwards,
    so precision is exact too)."""
    n_bands = max_hamming + 1
    if n_bands >= SIMHASH_BITS:
        return [1] * SIMHASH_BITS
    base, rem = divmod(SIMHASH_BITS, n_bands)
    return [base + 1] * rem + [base] * (n_bands - rem)


#: persisted sketch frames, keyed by operator: a repeat call replaces
#: its predecessor's pin; ``release_sketches()`` drops them all
_sketches = PinRegistry()


def release_sketches() -> None:
    """Unpersist every sketch frame pinned by the dedup operators (and a
    large doomed-id set pinned by ``semantic_dedup_against``). Results
    derived from a released sketch stay correct — they just recompute."""
    _sketches.release_all()


def token_hash(token: Column) -> Column:
    """Portable 60-bit integer hash: md5 hex prefix → bigint. Identical in
    Spark (conv) and DuckDB ('0x'||…)::BIGINT — the cross-engine anchor."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("bigint")


# --------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------- #

def _content_key(content_cols: Sequence[str], normalize: bool) -> Column:
    """The ONE exact-dedup content key (md5 over unit-separated columns,
    or the normalized single-column fingerprint) — shared by in-corpus
    and incremental dedup so the two can never disagree on identity."""
    if normalize and len(content_cols) == 1:
        return normalized_fingerprint(F.col(content_cols[0]))
    return F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))


def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Keep one row per distinct content: the one with the minimal id
    (deterministic winner, unlike dropDuplicates' arbitrary first).
    One hash aggregation; partial aggregation makes the shuffle carry one
    row per distinct key per task."""
    key = _content_key(content_cols, normalize).alias("__key__")
    winners = (
        df.select(key, F.col(id_col))
        .groupBy("__key__")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, on=id_col, how="left_semi")


def dedup_against(
    df: DataFrame,
    seen: DataFrame,
    content_cols: Sequence[str],
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Incremental exact dedup — the production crawl shape: each new
    batch dedups against the CORPUS ALREADY KEPT, not just within
    itself. Drops every new row whose content key exists in ``seen``
    (one left_anti on the key — distinct-ed first, so the anti join
    probes one row per distinct seen content), then first-winner
    dedups the survivors among themselves (``exact_dedup``). ``seen``
    needs only the content columns — pass the kept corpus or a
    persisted key table.

    100 TB shape: both steps are key-grain hash shuffles; nothing
    resembling the snapshot's row count ever broadcasts or collects.
    For a standing pipeline, store ``seen``'s keys bucketed by
    ``__key__`` so every increment's anti join co-locates against the
    snapshot without reshuffling it. The anti join is NULL-SAFE: a
    NULL content key (normalize=True on NULL text) matches a NULL
    snapshot key, keeping cross-snapshot identity consistent with
    exact_dedup's in-batch groupBy (which also unifies NULL keys)."""
    for internal in ("__key__", "__skey__"):
        if internal in df.columns or internal in seen.columns:
            raise ValueError(
                f"column name {internal!r} collides with dedup_against's "
                "internal content key — rename it first"
            )
    key = _content_key(content_cols, normalize)
    seen_keys = seen.select(key.alias("__skey__")).distinct()
    fresh = (
        df.withColumn("__key__", key)
        .join(seen_keys, on=F.col("__key__").eqNullSafe(F.col("__skey__")),
              how="left_anti")
        .drop("__key__")
    )
    return exact_dedup(fresh, content_cols, id_col, normalize)


# --------------------------------------------------------------------- #
# MinHash + banded LSH
# --------------------------------------------------------------------- #

def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """One row per document with columns m0..m{N_PERM-1} (the signature).

    Shingles explode to one row each; each permutation's min aggregates in
    one pass (partial agg → tiny shuffle: one row per doc)."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n)
    h = sh.select(id_col, (token_hash(F.col("shingle")) % MINHASH_P).alias("__h__"))
    aggs = [
        F.min((F.lit(a) * F.col("__h__") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return h.groupBy(id_col).agg(*aggs)


def _band_structs() -> Column:
    bands = []
    for b in range(N_BANDS):
        cols = [F.col(f"m{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("bucket"))
        )
    return F.array(*bands)


def lsh_band_buckets(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode each signature into (band, bucket) rows: bucket = md5 of the
    band's signature slice."""
    return sig.select(
        F.col(id_col), F.explode(_band_structs()).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _banded_signatures(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, __sig__, band, bucket) rows: the band explode CARRYING the full
    signature array (96 B × N_BANDS per doc), so downstream estimates need
    no signature re-join — the two-shuffle formulation."""
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(N_PERM)])
    return sig.select(
        F.col(id_col), sig_arr.alias("__sig__"), F.explode(_band_structs()).alias("bb")
    ).select(
        id_col, "__sig__", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _prune_hot_buckets(
    banded: DataFrame, keys: Sequence[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket_size`` members
    before the pair join — the banded-join analog of the token-DF prune
    in ``ngram_jaccard_pairs`` (``max_token_df``). A degenerate bucket
    (empty documents, boilerplate that collapses to one signature) goes
    QUADRATIC inside the equi-join: a bucket of 100k docs contributes
    100k² candidate rows regardless of how uniform the other buckets
    are, and at 100 TB that single straggler task is the job. Buckets
    above the cap are dropped entirely via a left_anti against the hot
    set; the hot set is by construction small (at most
    ``rows / max_bucket_size`` buckets), so AQE broadcasts the anti join
    at runtime — no full reshuffle of the banded frame.

    Recall note: members of a dropped bucket can still pair through
    their OTHER bands (minhash has ``N_BANDS`` chances; simhash
    ``max_hamming + 1``), so only pairs whose every shared band is
    degenerate are lost — exactly the boilerplate/empty-doc cohort the
    cap exists to excise. ``None`` (the default) disables the guard and
    preserves exact historical semantics; production corpora should set
    it to a few thousand (pair work per bucket is size², so 4096 caps a
    bucket's contribution at ~16.7M comparisons)."""
    if max_bucket_size is None:
        return banded
    hot = _hot_buckets(banded, keys, max_bucket_size)
    return banded.join(hot, on=list(keys), how="left_anti")


def _hot_buckets(
    counted: DataFrame, keys: Sequence[str], max_bucket_size: int
) -> DataFrame:
    """The (small) set of bucket keys whose population in ``counted``
    exceeds the cap — the shared count→filter core of the in-corpus
    prune (``_prune_hot_buckets``) and the incremental variant (which
    counts the UNION of both sides before anti-joining each)."""
    if max_bucket_size < 1:
        raise ValueError(f"max_bucket_size must be >= 1, got {max_bucket_size}")
    return (
        counted.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bsz__"))
        .filter(F.col("__bsz__") > max_bucket_size)
        .select(*keys)
    )


def _sig_agreement() -> Column:
    """Fraction of agreeing components between the two carried signature
    arrays of a candidate row (aliased sides a/b)."""
    agree = sum(
        (F.col("a.__sig__")[i] == F.col("b.__sig__")[i]).cast("int")
        for i in range(N_PERM)
    )
    return F.round(agree.cast("double") / N_PERM, 4)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 LSH bucket, with
    the estimated Jaccard = fraction of agreeing signature components.

    The signature frame is persisted: it feeds the band join twice (both
    sides) and the estimation join twice more — recomputing the
    explode+aggregate pipeline 4-5× dominated the runtime before. One row
    per document (12 longs), so caching it is cheap at any scale; a
    100 TB pipeline would persist signatures to a table anyway. The pin
    replaces the previous invocation's cache (see ``release_sketches``).

    ``max_bucket_size`` caps degenerate LSH buckets before the pair join
    (see ``_prune_hot_buckets``) — the guard against the one quadratic
    hazard in this plan; ``None`` keeps exact historical semantics."""
    sig = _sketches.pin(
        "minhash_sig", minhash_signatures(df, text_col, id_col, shingle_n))
    # carry the signature THROUGH the band explode: the est-Jaccard is
    # computable on the candidate row itself — two shuffles total (band
    # join + pair dedup) instead of four (join + distinct + two re-joins)
    bb = _prune_hot_buckets(
        _banded_signatures(sig, id_col), ("band", "bucket"), max_bucket_size
    )
    a, b = bb.alias("a"), bb.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        _sig_agreement().alias("est_jaccard"),
    )
    # a pair sharing k bands appears k times with the same estimate
    return cand.groupBy("doc_a", "doc_b").agg(
        F.first("est_jaccard").alias("est_jaccard")
    )


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over distinct word tokens: per-bit majority vote of
    md5-derived token hashes.

    One explode + one aggregation — deliberately NOT an array fold: the
    per-bit sums are a codegen'd hash aggregate with map-side partial
    aggregation, so the shuffle carries ONE combined row per document
    (not a row per token), while a higher-order ``aggregate`` fold runs
    interpreted per token (measured 2× slower) and serializes on
    low-split sources. The explode shape is optimal in both regimes.
    Low-split sources repartition first (gated no-op otherwise) so the
    token hashing itself runs on every core."""
    from lazy_frame_spark.plans.parallel import ensure_min_partitions

    tok = ensure_min_partitions(df).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("__t__")
    )
    h = tok.select(id_col, (token_hash(F.col("__t__")) % F.lit(1 << 32)).alias("__h__"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("__h__"), b) % 2 * 2 - 1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = h.groupBy(id_col).agg(*bit_sums)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation bands the 32 bits into ``max_hamming + 1``
    disjoint chunks (``simhash_band_widths``): a pair within the radius
    has at most ``max_hamming`` flipped bits, so by pigeonhole at least
    one chunk matches exactly — the (chunk_idx, chunk_value) equi-join
    has 100% recall, and the full distance is re-verified afterwards so
    precision is exact. No cross join at any scale.

    ``max_bucket_size`` caps degenerate chunk buckets before the pair
    join (``_prune_hot_buckets``); note that with the cap set, recall is
    100% only for pairs not confined to dropped buckets — the intended
    trade (the dropped cohort is the empty/boilerplate pile)."""
    sh = _sketches.pin("simhash_sketch", simhash(df, text_col, id_col))
    widths = simhash_band_widths(max_hamming)
    offsets = [sum(widths[:i]) for i in range(len(widths))]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                (F.shiftright(F.col("simhash"), off) % (1 << w)).alias("cv"),
            )
            for i, (off, w) in enumerate(zip(offsets, widths))
        ]
    )
    banded = sh.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    banded = _prune_hot_buckets(banded, ("ci", "cv"), max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
    return cand.select(
        "doc_a", "doc_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------- #
# exact n-gram Jaccard
# --------------------------------------------------------------------- #

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard over all pairs sharing ≥1 token.

    Candidates come from an equi-join on token. ``max_token_df`` drops
    tokens appearing in more than that many documents (document-frequency
    pruning) — at scale the stop-token join blowup, not the similarity
    math, is what kills you."""
    from lazy_frame_spark.plans.parallel import ensure_min_partitions

    tok = ensure_min_partitions(df).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tokn")
    )
    if max_token_df is not None:
        keep = tok.groupBy("tokn").count().filter(F.col("count") <= max_token_df).select("tokn")
        tok = tok.join(F.broadcast(keep), "tokn")
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    common = (
        a.join(b, (F.col("a.tokn") == F.col("b.tokn")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    j = common.join(sa, "doc_a").join(sb, "doc_b")
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return j.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.round(jac, 4) >= threshold)


# --------------------------------------------------------------------- #
# duplicate clustering (connected components over near-dup pairs)
# --------------------------------------------------------------------- #

def duplicate_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Group near-duplicate PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation; cluster id = the
    minimal doc id in the component (the canonical survivor).

    ``nodes``: one row per document id; ``pairs``: (doc_a, doc_b) edges.

    Scale notes: each iteration is one join + one aggregation (label
    frontier shrinks fast — O(log n) iterations for real duplicate
    graphs, whose components are tiny). ``localCheckpoint`` every
    iteration truncates the lineage so the plan doesn't grow
    exponentially — the standard Spark iterative-algorithm discipline.
    For adversarial graphs (long paths) whose diameter makes label
    propagation slow, use ``connected_components_star`` — same contract
    (doc_id → cluster_id), O(log² n) rounds independent of diameter.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .union(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
        .distinct()
    )
    labels = nodes.select(
        F.col(id_col).alias("n"), F.col(id_col).cast("bigint").alias("lbl")
    ).localCheckpoint(eager=False)

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["s"] == labels["n"])
            .groupBy("d")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["n"] == neighbor_min["d"], "left")
            .select(
                "n",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("a")
            .join(labels.alias("b"), F.col("a.n") == F.col("b.n"))
            .filter(F.col("a.lbl") != F.col("b.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("n").alias(id_col), F.col("lbl").alias("cluster_id"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node's strictly-LARGER neighbors attach
    to the minimum of its closed neighborhood. Input/output: undirected
    edge set as (u, v) rows, both orientations present."""
    m = edges.groupBy("u").agg(F.min(F.least(F.col("v"), F.col("u"))).alias("m"))
    return (
        edges.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge high→low; every node's
    smaller neighbors (and itself) attach to the minimum neighbor."""
    oriented = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).distinct()
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        oriented.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select(F.col("u"), F.col("m").alias("v"))
    return nbr.union(self_edge).filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm). Same contract as ``duplicate_clusters``:
    (doc_id, cluster_id = min id in the component).

    Why it exists alongside min-label propagation: label propagation
    needs O(diameter) rounds — fine for near-dup graphs (tiny, dense
    components), pathological for long chains. Star rounds contract
    every component toward its minimum in O(log² n) rounds regardless
    of diameter, each round being one groupBy + one join on the edge
    set, which also SHRINKS every round (edges re-point at component
    minima). Convergence = the small-star output is a fixed point
    (checked with a cheap count+checksum aggregate, not a full diff).
    """
    ids = F.col(id_col).cast("bigint")
    edges = (
        pairs.select(F.col("doc_a").cast("bigint").alias("u"), F.col("doc_b").cast("bigint").alias("v"))
        .union(pairs.select(F.col("doc_b").cast("bigint").alias("u"), F.col("doc_a").cast("bigint").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: order-insensitive and cannot overflow (ANSI)
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = _checksum(edges)
    for _ in range(max_iter):
        # symmetrize for large-star (it reasons over full neighborhoods)
        und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        big = _large_star(und)
        sym = big.union(big.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        edges = _small_star(sym).localCheckpoint(eager=True)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur

    # after convergence every edge points node → component minimum
    membership = edges.groupBy("u").agg(F.min("v").alias("lbl"))
    return (
        nodes.select(ids.alias("n"))
        .join(membership, F.col("n") == F.col("u"), "left")
        .select(
            F.col("n").alias(id_col),
            F.coalesce(F.col("lbl"), F.col("n")).alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------- #
# incremental dedup (streaming-ingest pattern)
# --------------------------------------------------------------------- #

def incremental_near_dups(
    new_docs: DataFrame,
    existing_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Match a NEW batch of documents against an existing corpus WITHOUT
    touching the old corpus text: only its persisted MinHash signature
    table is needed (12 longs/doc — the SCALE.md ingest pattern).

    Returns (new_id, old_id, est_jaccard) for candidate pairs whose
    signature agreement ≥ min_est_jaccard. New-corpus signatures can then
    be appended to the signature table; rows with no match are novel.

    ``max_bucket_size`` caps degenerate buckets by their COMBINED
    population across both sides (the join blowup is
    ``|new ∩ bucket| × |corpus ∩ bucket|``, so a bucket hot on either
    side is pruned from both — ``_prune_hot_buckets`` on the union).
    For a standing pipeline this matters doubly: a boilerplate bucket in
    the corpus signature table is re-joined by EVERY future batch.
    """
    new_sig = _sketches.pin(
        "incremental_sig", minhash_signatures(new_docs, text_col, id_col))
    ba = _banded_signatures(new_sig, id_col)
    bb_ = _banded_signatures(existing_signatures, id_col)
    if max_bucket_size is not None:
        hot = _hot_buckets(
            ba.select("band", "bucket").unionAll(bb_.select("band", "bucket")),
            ("band", "bucket"), max_bucket_size,
        )
        ba = ba.join(hot, on=["band", "bucket"], how="left_anti")
        bb_ = bb_.join(hot, on=["band", "bucket"], how="left_anti")
    a = ba.alias("a")
    b = bb_.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")),
    ).select(
        F.col(f"a.{id_col}").alias("new_id"),
        F.col(f"b.{id_col}").alias("old_id"),
        _sig_agreement().alias("est_jaccard"),
    )
    return (
        cand.groupBy("new_id", "old_id")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def positional_ngrams(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, hv): every n-token gram with its 0-based token position
    and portable md5-derived hash — the front end of substring-level
    span detection. Documents shorter than n tokens contribute nothing
    (an n-token span cannot exist in them). Low-split sources FAN OUT
    (compute-gated, not byte-gated): per-gram slice/join/md5 work
    dominates input bytes — measured 2.3 s → 1.5 s on the sf0.1 span
    bench; a no-op on well-split sources."""
    from lazy_frame_spark.plans.parallel import fan_out

    ws = fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ws__")
    ).filter(F.size("__ws__") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("__ws__") - n),
        lambda i: F.array_join(F.slice(F.col("__ws__"), i + 1, n), " "),
    )
    return ws.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    ).select(F.col(id_col), "pos", token_hash(F.col("gram")).alias("hv"))


def duplicate_ngram_spans(
    df: DataFrame,
    n: int = 8,
    min_span_tokens: int = 12,
    max_gram_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal shared token spans between document pairs — the
    substring-level dedup signal (the published exact-substring
    training-data dedup uses suffix arrays; the distributed equivalent is
    positional n-gram matching: any shared span of ≥ n tokens is a run
    of consecutive shared n-grams on one (pos_a - pos_b) diagonal).

    Plan shape, and why it survives 100 TB:

    - candidate generation is an EQUI-JOIN on the gram hash — only
      positions sharing an exact n-gram ever meet, never all-pairs;
    - ``max_gram_df`` prunes boilerplate grams (license headers, nav
      chrome) whose document frequency exceeds the cap — the same
      stop-token guard as ``ngram_jaccard_pairs``, because a gram in
      100k documents would otherwise contribute 100k² join rows;
      grams in only ONE document are dropped unconditionally (they
      cannot pair — pure win, no semantic change);
    - span assembly is gaps-and-islands per (a, b, diagonal): one window
      ``row_number`` keyed by the pair — uniform keys, tiny groups.

    Returns ``(doc_a, doc_b, start_a, start_b, span_tokens)`` for
    maximal spans of at least ``min_span_tokens`` tokens, positions
    0-based.
    """
    from pyspark.sql.window import Window

    # The gram stream feeds FOUR consumers (df counts, the prune probe,
    # and both sides of the self-join); without a pin each one re-runs
    # scan+explode+md5 — measured 4 FileScans and ~4× the runtime. Pinned
    # under the sketch-lifecycle registry (release_sketches() frees it;
    # a repeat call replaces it), spillable MEMORY_AND_DISK, so the
    # tokenize/hash pass runs exactly once.
    g = _sketches.pin(
        "ngram_span_grams",
        positional_ngrams(df, n=n, text_col=text_col, id_col=id_col),
    )

    dfreq = g.groupBy("hv").agg(
        F.count_distinct(F.col(id_col)).alias("__df__")
    )
    cap = F.col("__df__") <= F.lit(int(max_gram_df)) if max_gram_df else F.lit(True)
    keep = dfreq.filter((F.col("__df__") >= 2) & cap).select("hv")
    g = g.join(keep, on="hv")

    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(
        b,
        (F.col("a.hv") == F.col("b.hv"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = pairs.select("doc_a", "doc_b", "pa", "pb", diag).withColumn(
        "island", F.col("pa") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(n - 1)).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= F.lit(int(min_span_tokens)))
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    star: bool = False,
) -> DataFrame:
    """The deduplicated corpus itself: cluster the near-dup pairs, keep
    each cluster's canonical (min-id) representative, anti-join the rest
    away. The flagging side reduces to one bigint per dropped document
    before it ever meets the corpus, so full document rows never shuffle
    — the same discipline as ``decontam.decontaminate``. ``star=True``
    clusters via large-star/small-star instead of label propagation
    (diameter-independent rounds)."""
    nodes = docs.select(id_col)
    cluster_fn = connected_components_star if star else duplicate_clusters
    clusters = cluster_fn(nodes, pairs, id_col=id_col)
    losers = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return docs.join(losers, on=id_col, how="left_anti")


def _first_occurrence_dedup(
    docs: DataFrame,
    parts: DataFrame,
    pos_col: str,
    part_text_col: str,
    sep: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared winner/rebuild core for chunk- and paragraph-grain dedup:
    hash each part, keep the globally-first (min doc id, then min
    position) occurrence per hash, reassemble survivors in order.

    Winner selection packs (doc, pos) into ONE bigint —
    ``id * 2^32 + pos`` — so a single MIN agrees bit-for-bit with the
    DuckDB oracle's MIN. The packing is injective for
    ``0 <= id < 2^31`` and ``0 <= pos < 2^32`` (enforced below for the
    position; ids outside the domain raise at the caller's first
    action rather than silently mis-deduping).
    """
    # Domain guard folded INTO the consumed expression: a projected-then-
    # dropped guard column is pruned by Catalyst as unused (it raised
    # nothing), so __pk__ itself raises on out-of-domain ids — the MIN
    # aggregate consumes it, so the branch always evaluates.
    violation = (
        (F.col(id_col) < 0)
        | (F.col(id_col) >= (1 << 31))
        | (F.col(pos_col) < 0)
        | (F.col(pos_col) >= (1 << 32))
    )
    packed = (
        F.when(
            violation,
            F.raise_error(
                F.concat(
                    F.lit(
                        "first-occurrence packing domain: 0 <= id < 2^31, "
                        "0 <= pos < 2^32; got id="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(" pos="),
                    F.col(pos_col).cast("string"),
                )
            ).cast("bigint"),
        )
        .otherwise(F.col(id_col) * F.lit(1 << 32) + F.col(pos_col))
        .alias("__pk__")
    )
    h = parts.select(
        F.col(id_col), F.col(pos_col), F.col(part_text_col),
        token_hash(F.col(part_text_col)).alias("__hv__"), packed,
    )
    winners = h.groupBy("__hv__").agg(F.min("__pk__").alias("__win__"))
    kept = h.join(winners, on="__hv__").filter(F.col("__pk__") == F.col("__win__"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos_col, part_text_col))),
                lambda s: s[part_text_col],
            ),
            sep,
        ).alias("__text__")
    )
    return (
        docs.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(F.col(id_col), F.coalesce("__text__", F.lit("")).alias(text_col))
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4/CCNet-style chunk-grain global deduplication: every repeated
    text chunk keeps only its globally-FIRST occurrence (min doc id,
    then min chunk position) and every other occurrence is cut out of
    its document; surviving chunks re-join in order, so document
    structure is preserved minus the boilerplate. This is the published
    line/paragraph dedup used on web corpora (nav chrome, license
    blocks, repeated headers) — a different operation from whole-doc
    near-dup removal, and complementary to it.

    Plan: map-only chunking (operators/packing.chunk_documents), one
    groupBy on the chunk hash to pick winners (partial agg — the shuffle
    carries one row per distinct chunk per task), a semi-join-shaped
    filter, and one groupBy per doc to reassemble (shared core:
    ``_first_occurrence_dedup`` — injective ``id*2^32 + pos`` packing so
    the oracle's MIN matches Spark's bit-for-bit).

    Returns ``(id_col, text)`` with the deduplicated text ('' when every
    chunk was a repeat).
    """
    from lazy_frame_spark.operators.packing import chunk_documents

    ch = chunk_documents(
        docs, chunk_tokens=chunk_tokens, text_col=text_col, id_col=id_col
    )
    return _first_occurrence_dedup(
        docs, ch, "chunk_id", "chunk_text", " ", text_col, id_col
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-grain global deduplication: split on blank lines
    (``\\n{2,}``), keep each repeated paragraph's globally-FIRST
    occurrence (min doc id, then min paragraph position), reassemble
    survivors in order with ``\\n\\n``. The blank-line variant of
    ``chunk_dedup`` — natural paragraph boundaries make it both cheaper
    (no token re-chunking; one regex split) and better aligned with how
    web boilerplate actually repeats (nav blocks, footers, license
    text repeat as WHOLE paragraphs, not arbitrary 20-token windows).

    Plan shape is identical to chunk_dedup and scales the same way: a
    map-only split, one partial-aggregated groupBy on the paragraph
    hash, a semi-join-shaped winner filter, one per-doc rebuild groupBy.
    Whitespace-only paragraphs are dropped on both engines before
    hashing so leading/trailing blank runs can't manufacture winners.

    Returns ``(id_col, text)`` ('' when every paragraph was a repeat).
    """
    paras = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), r"\n{2,}")).alias(
                "para_id", "para_text"
            ),
        )
        .filter(F.trim(F.col("para_text")) != "")
    )
    return _first_occurrence_dedup(
        docs, paras, "para_id", "para_text", "\n\n", text_col, id_col
    )
