"""Text-analysis operators for large-scale training-data pipelines.

Not in the reference (its only string op is strcmp predicate compare,
``src/lazy.frame.c:377-406``) — these are the north-star extensions for a
100 TB document pipeline. Everything here is pure JVM expression
(``pyspark.sql.functions``): no Python in the row path, whole-stage
codegen applies, and every op is embarrassingly parallel (no shuffle).

Cross-engine determinism: token hashing is md5-based (``conv(substr(
md5(x),1,15),16,10)``) — identical in Spark and DuckDB, so the oracle can
verify fingerprints and sketches value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"

#: tiny per-language function-word lexicons for the n-gram/stopword
#: language-ID heuristic; deliberately small + deterministic
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que"],
    "it": ["il", "la", "che", "e", "di", "un", "per", "non"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty text → empty array (not [''])."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, TOKEN_SPLIT_RE)
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: punctuation split out as its own tokens
    (a cheap, deterministic stand-in for BPE tokenizer counts)."""
    spaced = F.regexp_replace(text, r"([^a-zA-Z0-9\s])", r" $1 ")
    parts = F.split(F.trim(spaced), TOKEN_SPLIT_RE)
    return F.size(F.filter(parts, lambda x: x != ""))


def shingles_from_words(ws: Column, n: int = 3) -> Column:
    """n-word shingles from an ALREADY-PROJECTED token-array column.

    Callers must materialize the token array as a named column first
    (``df.withColumn("__ws__", tokens(...))``): higher-order-function
    lambdas run interpreted and re-evaluate an inlined ``split()`` per
    element — measured 3.7× slower end-to-end when the split is inlined.
    ``slice + array_join`` per shingle keeps the lambda body to two array
    intrinsics. Documents shorter than n words contribute their full
    token string as one shingle, so no document vanishes from the sketch.
    """
    sh = F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
    )
    return F.when(F.size(ws) >= n, sh).otherwise(F.array(F.array_join(ws, " ")))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Convenience wrapper for small inputs; hot paths should project
    ``tokens()`` first and call :func:`shingles_from_words`."""
    return shingles_from_words(tokens(text), n)


def exploded_shingles(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> "DataFrame":
    """(id, shingle) rows with the token array projected exactly once —
    the shared front end of MinHash, k-min fingerprinting, and
    decontamination. Low-split sources fan out first so shingle
    generation uses every core: the slice/join/md5 work per shingle is
    COMPUTE-bound, so the byte-floored gate wrongly vetoed small-file
    corpora (measured on the sf0.1 bench: minhash pairs 2.1 s → 1.2 s
    with the compute-gated fan-out; still a no-op on well-split
    sources — plans/parallel.py)."""
    from lazy_frame_spark.plans.parallel import fan_out

    ws = fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__ws__")
    )
    return ws.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_words(F.col("__ws__"), n))).alias("shingle"),
    )


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword quality signals + a composite score.

    All ratios are exact integer basis points (``(x*10000) DIV total``) —
    floating-point rounding at half-boundaries differs between engines
    (Spark rounds via BigDecimal HALF_UP on the shortest decimal
    representation, DuckDB on the raw double), so reproducible pipeline
    thresholds demand integer arithmetic end-to-end.
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_tok = token_count(t).cast("bigint")
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("bigint")
    punct = (F.length(t) - F.length(F.regexp_replace(t, r"[.,;:!?'\"()]", ""))).cast("bigint")
    stop_re = r"\b(" + "|".join(LANG_LEXICONS["en"]) + r")\b"
    stop_hits = F.size(F.regexp_extract_all(F.lower(t), F.lit(stop_re), 0)).cast("bigint")

    # floor(int/int) in double is exact here: the gap between distinct
    # rationals with these denominators (≥1e-4) dwarfs double error, and
    # exact-integer quotients divide exactly under IEEE — in both engines.
    alpha_bp = F.when(n_chars > 0, F.floor(alpha * 10000 / n_chars).cast("bigint")).otherwise(F.lit(0))
    punct_bp = F.when(n_chars > 0, F.floor(punct * 10000 / n_chars).cast("bigint")).otherwise(F.lit(0))
    stop_bp = F.when(n_tok > 0, F.floor(stop_hits * 10000 / n_tok).cast("bigint")).otherwise(F.lit(0))
    mean_tok_len_x100 = F.when(n_tok > 0, F.floor(alpha * 100 / n_tok).cast("bigint")).otherwise(F.lit(0))
    tok_bp = F.least(F.lit(10000).cast("bigint"), n_tok * 100)
    score_bp = F.floor(
        (
            tok_bp * 4
            + alpha_bp * 3
            + F.least(F.lit(10000).cast("bigint"), stop_bp * 5) * 2
            + (10000 - F.least(F.lit(10000).cast("bigint"), punct_bp * 10))
        )
        / 10
    ).cast("bigint")
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_calc"),
        mean_tok_len_x100.alias("mean_token_len_x100"),
        alpha_bp.alias("alpha_bp"),
        punct_bp.alias("punct_bp"),
        stop_bp.alias("stopword_bp"),
        score_bp.alias("quality_score_bp"),
    )


def _lang_scores(lowered: Column) -> dict[str, Column]:
    return {
        lang: F.size(
            F.regexp_extract_all(lowered, F.lit(r"\b(" + "|".join(words) + r")\b"), 0)
        ).cast("bigint")
        for lang, words in LANG_LEXICONS.items()
    }


def lang_pred_expr(lowered: Column) -> Column:
    """Argmax language with deterministic tiebreak (higher count wins;
    ties break by language code order); no hits → 'und'."""
    scores = _lang_scores(lowered)
    langs = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    pick = F.lit("und")
    for lang in reversed(langs):  # earlier lang wins ties → apply in reverse
        pick = F.when(scores[lang] == best, F.lit(lang)).otherwise(pick)
    return F.when(best > 0, pick).otherwise(F.lit("und"))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Lexicon-hit language ID: count function-word matches per language,
    plus the tie-broken argmax (``lang_pred_expr``)."""
    t = F.lower(F.col(text_col))
    scores = _lang_scores(t)
    langs = sorted(scores)
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        lang_pred_expr(t).alias("lang_pred"),
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText rule
    family: duplicate-word fraction, most-common-word fraction,
    most-common-bigram fraction) — the standard pre-training filter for
    boilerplate and keyword-stuffed pages.

    Entirely shuffle-free: token and bigram arrays are projected ONCE per
    row, and the mode count comes from an ``aggregate`` fold over the
    sorted array (max run length) — pure JVM expressions, embarrassingly
    parallel, so the operator costs a map pass even at 100 TB where an
    explode+groupBy formulation would shuffle one row per token.
    Fractions are integer basis points (cross-engine portability rule)."""
    out = _with_token_projections(df, text_col)
    n = F.size("__toks__").cast("bigint")
    nd = F.size(F.array_distinct("__toks__")).cast("bigint")
    nb = F.size("__bigrams__").cast("bigint")
    return out.select(
        F.col(id_col),
        n.alias("n_tokens"),
        _bp(n - nd, n).alias("dup_word_bp"),
        _bp(_mode_count("__toks__"), n).alias("top_word_bp"),
        _bp(_mode_count("__bigrams__"), nb).alias("top_bigram_bp"),
    )


def _with_token_projections(df: DataFrame, text_col: str) -> DataFrame:
    """Project lowercased token and bigram arrays ONCE per row (inlining
    them into higher-order lambdas re-evaluates the split per element)."""
    out = df.withColumn("__toks__", tokens(F.lower(F.col(text_col))))
    return out.withColumn(
        "__bigrams__",
        F.when(
            F.size("__toks__") >= 2,
            F.zip_with(
                F.expr("slice(__toks__, 1, size(__toks__) - 1)"),
                F.expr("slice(__toks__, 2, size(__toks__) - 1)"),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _mode_count(arr_col: str) -> Column:
    """Count of the most frequent element == max run length in the sorted
    array; a single fold, no shuffle."""
    zero = F.lit(0).cast("bigint")
    init = F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best"))
    fold = F.aggregate(
        F.array_sort(F.col(arr_col)),
        init,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("bigint")),
            ).alias("best"),
        ),
    )
    return fold.getField("best")


def _bp(num: Column, den: Column) -> Column:
    """Integer basis points ``floor(num*10000/den)``, 0 when den == 0."""
    return F.when(den > 0, F.floor(num * 10000 / den).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_alpha_bp: int = 2500,
    max_dup_word_bp: int = 9000,
    max_top_bigram_bp: int = 2000,
    langs: tuple[str, ...] = ("en", "und"),
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The C4/Gopher-style keep/drop gate, composed as ONE map-only
    select: length bounds, alphabetic-character ratio, repetition caps
    (dup-word / top-bigram), and language allowlist. Emits the signals,
    a ``keep`` flag, and the FIRST failing rule as ``reason`` (fixed
    evaluation order, so the verdict is deterministic and auditable).
    ``carry_cols`` pass through source columns so downstream stages
    (e.g. packing the survivors) never re-join against the source.
    At 100 TB this is the shape a filter pass must have — every rule an
    expression over one scan, no joins between feature frames."""
    out = _with_token_projections(df, text_col)
    t = F.col(text_col)
    n = F.size("__toks__").cast("bigint")
    nd = F.size(F.array_distinct("__toks__")).cast("bigint")
    nb = F.size("__bigrams__").cast("bigint")
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("bigint")
    n_chars = F.length(t).cast("bigint")
    dup_word_bp = _bp(n - nd, n)
    top_bigram_bp = _bp(_mode_count("__bigrams__"), nb)
    alpha_bp = _bp(alpha, n_chars)
    lang = lang_pred_expr(F.lower(t))

    rules = [
        ("too_short", n < min_tokens),
        ("too_long", n > max_tokens),
        ("low_alpha", alpha_bp < min_alpha_bp),
        ("dup_words", dup_word_bp > max_dup_word_bp),
        ("rep_bigrams", top_bigram_bp > max_top_bigram_bp),
        ("lang", ~lang.isin(*langs)),
    ]
    reason = F.lit("keep")
    for name, bad in reversed(rules):  # first failing rule wins → apply in reverse
        reason = F.when(bad, F.lit(name)).otherwise(reason)
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        n.alias("n_tokens"),
        alpha_bp.alias("alpha_bp"),
        dup_word_bp.alias("dup_word_bp"),
        top_bigram_bp.alias("top_bigram_bp"),
        lang.alias("lang_pred"),
        (reason == "keep").alias("keep"),
        reason.alias("reason"),
    )


#: PII patterns restricted to syntax with identical semantics in Java
#: regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{9,14}\b"


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "scrubbed",
) -> DataFrame:
    """Redact emails, IPv4 addresses, and international-format phone
    numbers (the CCNet/Dolma-style scrub pass), reporting per-document
    hit counts. Email first — ``1.2.3.4@mail.com`` must become one
    ``<EMAIL>``, not an ``<IP>`` splicing the address (numeric-only
    domains like ``a@1.2.3.4`` fall through to the IP pass). Pure JVM
    ``regexp_replace``/``regexp_extract_all``: map-only at any scale."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0)).cast("bigint")
    scrub = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_ip = F.size(F.regexp_extract_all(scrub, F.lit(PII_IPV4_RE), 0)).cast("bigint")
    scrub = F.regexp_replace(scrub, PII_IPV4_RE, "<IP>")
    n_phone = F.size(F.regexp_extract_all(scrub, F.lit(PII_PHONE_RE), 0)).cast("bigint")
    scrub = F.regexp_replace(scrub, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        scrub.alias(out_col),
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_phone.alias("n_phones"),
    )


def normalized_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def kmin_shingle_fingerprint(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    out_col: str = "kmin_fp",
) -> "DataFrame":
    """Near-dup document fingerprint: the k smallest md5-derived shingle
    hashes (a k-min sketch — the rolling-hash/winnowing family), hashed
    again into one token. Two documents share the fingerprint iff their
    k minimal shingles agree. Explode + one aggregation (partial-agg
    shuffle carries one row per doc)."""
    sh = exploded_shingles(df, text_col, id_col, n)
    h = sh.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint").alias("__hv__"),
    )
    kmin = F.slice(F.array_sort(F.collect_set("__hv__")), 1, k)
    fp = F.md5(F.array_join(F.transform(kmin, lambda x: x.cast("string")), ","))
    return h.groupBy(id_col).agg(fp.alias(out_col))


def vocabulary(
    df: "DataFrame",
    text_col: str = "text",
    top_k: int = 1000,
    min_count: int = 1,
) -> "DataFrame":
    """Corpus token-frequency table: the ``top_k`` most frequent tokens
    with occurrence counts, a deterministic rank (count desc, token asc),
    and cumulative corpus coverage in integer basis points — vocabulary
    construction and coverage analysis over the whole corpus.

    Scale shape: one explode + hash aggregation (partial agg → one row
    per distinct token shuffles), then ``TakeOrderedAndProject`` cuts to
    ``top_k`` BEFORE the ranking window — the only single-task step
    touches exactly ``top_k`` rows, never the full vocabulary. The
    coverage denominator (total corpus tokens) is one scalar aggregate
    over the counts, folded into the plan as a literal."""
    from pyspark.sql import Window

    from lazy_frame_spark.plans.parallel import ensure_min_partitions

    tok = ensure_min_partitions(df).select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    total = counts.select(F.sum("n_occurrences")).collect()[0][0] or 0
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    out = top.select(
        "token",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
        _bp(
            F.sum("n_occurrences").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            F.lit(total).cast("bigint"),
        ).alias("coverage_bp"),
    )
    return out


def merge_candidates(
    df: "DataFrame",
    text_col: str = "text",
    top_k: int = 20,
    min_pair_count: int = 2,
) -> "DataFrame":
    """WordPiece-style merge scoring — the candidate-selection step of
    subword-vocabulary training: every ADJACENT token pair is scored by
    ``score = pair_count / (count(left) * count(right))`` (the WordPiece
    likelihood criterion; BPE's plain pair_count is the numerator), and
    the ``top_k`` highest-scoring pairs are the next merges. One pass:
    the same exploded token stream feeds the unigram aggregation and —
    zipped with its neighbor via ``slice``/``arrays_zip`` — the pair
    aggregation; both are partial-aggregated hash joins on uniform keys,
    then two broadcast joins attach the unigram counts (the pair frame
    is already ≤ distinct-pair cardinality, and the ranked cut is
    TakeOrderedAndProject).

    Scores are exact integer-ratio basis points scaled by 1e8
    (``floor(pair * 1e8 / (left * right))``) so ranking is
    reproducible across engines. Returns ``(lhs, rhs, pair_count,
    score_x1e8)`` ordered by (score desc, lhs, rhs).
    """
    from lazy_frame_spark.plans.parallel import ensure_min_partitions

    ws = ensure_min_partitions(df).select(tokens(F.col(text_col)).alias("__ws__"))
    uni = (
        ws.select(F.explode("__ws__").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    zipped = ws.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__ws__"), 1, F.greatest(F.size("__ws__") - 1, F.lit(0))).alias("lhs"),
                F.slice(F.col("__ws__"), 2, F.greatest(F.size("__ws__") - 1, F.lit(0))).alias("rhs"),
            )
        ).alias("p")
    )
    pairs = (
        zipped.select(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= int(min_pair_count))
    )
    ul = uni.select(F.col("token").alias("lhs"), F.col("n").alias("__nl__"))
    ur = uni.select(F.col("token").alias("rhs"), F.col("n").alias("__nr__"))
    scored = (
        pairs.join(F.broadcast(ul), on="lhs")
        .join(F.broadcast(ur), on="rhs")
        .select(
            "lhs", "rhs", "pair_count",
            F.floor(
                F.col("pair_count") * F.lit(100_000_000) / (F.col("__nl__") * F.col("__nr__"))
            ).cast("bigint").alias("score_x1e8"),
        )
    )
    return scored.orderBy(
        F.desc("score_x1e8"), F.asc("lhs"), F.asc("rhs")
    ).limit(top_k)


def model_quality_score(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: tuple[float, float, float, float] = (2.0, 1.5, -3.0, 0.5),
    bias: float = -2.0,
    threshold: float = 0.5,
) -> "DataFrame":
    """Model-based quality scoring: logistic-regression INFERENCE as a
    pure Catalyst expression — the fastText/classifier-filter stage of
    a training pipeline, with the model weights as plan literals
    (broadcast with the task binaries, zero Python, zero shuffle).

    Features reuse the exact integer signals of ``quality_features``:
    alpha ratio, stopword ratio, punctuation ratio (each bp/10000) and
    ln(1 + n_tokens). ``score = sigmoid(w . x + b)``, rounded to 6
    decimals (sub-ulp libm differences between engines vanish at that
    precision); ``keep`` applies the threshold. Swap ``weights``/
    ``bias`` for a model trained offline on labeled docs — inference
    cost is one map pass regardless of model provenance."""
    w1, w2, w3, w4 = (float(w) for w in weights)
    f = quality_features(df, text_col, id_col)
    z = (
        F.lit(w1) * (F.col("alpha_bp") / F.lit(10000.0))
        + F.lit(w2) * (F.col("stopword_bp") / F.lit(10000.0))
        + F.lit(w3) * (F.col("punct_bp") / F.lit(10000.0))
        + F.lit(w4) * F.log(F.lit(1.0) + F.col("n_tokens"))
        + F.lit(float(bias))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return f.select(
        F.col(id_col),
        F.round(score, 6).alias("model_score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


# --------------------------------------------------------------------- #
# HTML / boilerplate extraction — the front door for raw web crawls
# --------------------------------------------------------------------- #

#: block-level tags whose boundaries delimit candidate content blocks
_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|section|article|li|ul|ol|h[1-6]|table|thead|tbody"
    r"|tr|td|th|header|footer|nav|aside|main|blockquote|figure|form"
    r"|pre|br|hr|body|html|head|title)\b[^>]*>"
)

#: the small entity set real-world boilerplate actually hits; '&amp;'
#: decodes LAST so double-escaped entities stay escaped (HTML semantics)
_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def _drop_nontext(html: Column) -> Column:
    """Remove the regions that never contribute text: script/style
    element CONTENTS and comments. Two alternatives instead of a
    backreference (`</\\1>`) so the same pattern runs on RE2 engines."""
    s = F.regexp_replace(
        html,
        r"(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>",
        " ",
    )
    return F.regexp_replace(s, r"(?s)<!--.*?-->", " ")


def _tags_to_space(s: Column) -> Column:
    return F.regexp_replace(s, r"(?s)<[^>]*>", " ")


def _decode_entities(s: Column) -> Column:
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return s


def _collapse_ws(s: Column) -> Column:
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def html_to_text(html: Column) -> Column:
    """Full-page HTML -> text: script/style/comment removal, tag strip,
    common-entity decode, whitespace collapse. Pure Catalyst
    (regexp_replace + literal replace chains) — a map-only pass with no
    Python in the row path; the whole-corpus shape a CommonCrawl-sized
    ingest needs. For main-content extraction (navigation/footer
    boilerplate dropped) use ``html_main_text``.

    Fidelity vs a real tokenizer (property-fuzzed against an
    html.parser twin, test_properties_ops): output is IDENTICAL on
    markup with unmatched/unclosed tags, nested and unclosed anchors,
    mixed-case tags, script bodies containing fake closers, comments,
    and the supported entity set. Documented divergences (pinned by
    test_html_to_text_documented_divergences): a quoted '>' inside an
    attribute value ends the tag early here (a DOM parser reads past
    it), and an UNCLOSED <script>/<style> leaks its body as text
    (html.parser's CDATA mode skips to EOF). An unclosed comment leaks
    its head on BOTH — not a divergence. Entities outside the
    ``_ENTITIES`` set pass through undecoded."""
    return _collapse_ws(_decode_entities(_tags_to_space(_drop_nontext(html))))


def html_main_text(
    html: Column,
    min_chars: int = 30,
    max_link_density: float = 0.5,
) -> Column:
    """Main-content extraction via the classic text-density /
    link-density block heuristic (the jusText/boilerpipe family,
    re-expressed as Catalyst array ops):

    1. split the (script/style/comment-free) page into candidate blocks
       at block-level tag boundaries;
    2. per block, measure its visible text and the share of it living
       inside ``<a>`` anchors;
    3. keep blocks with at least ``min_chars`` of text whose anchor
       share is at most ``max_link_density`` — navigation bars, footers
       and tag clouds are short and link-dense, article bodies are long
       and link-sparse;
    4. join survivors with a blank line.

    Everything is one map-only expression tree: a split, two
    regexp_extract_all passes per block, and a filtered array_join — no
    Python, no shuffle, no DOM parse. A real DOM (with attribute-aware
    scoring) is strictly better on adversarial markup; this is the
    90%-of-the-benefit pass that runs at corpus scale."""
    return _main_text_from_blocks(
        F.split(_drop_nontext(html), _BLOCK_TAG_RE), min_chars,
        max_link_density,
    )


def _main_text_from_blocks(
    blocks: Column, min_chars: int, max_link_density: float
) -> Column:
    """The ONE copy of the block-scoring heuristic both extraction
    forms share (the Column form passes its inline split, the staged
    form its projected array column — byte-identical results are a
    pinned property, so the logic must not fork)."""

    def visible(b: Column) -> Column:
        return _collapse_ws(_decode_entities(_tags_to_space(b)))

    def link_chars(b: Column) -> Column:
        anchors = F.regexp_extract_all(
            b, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), F.lit(1)
        )
        return F.aggregate(
            anchors, F.lit(0),
            lambda acc, a: acc + F.length(visible(a)),
        )

    kept = F.filter(
        F.transform(
            blocks,
            lambda b: F.struct(
                visible(b).alias("txt"),
                link_chars(b).alias("lc"),
            ),
        ),
        lambda s: (F.length(s["txt"]) >= F.lit(int(min_chars)))
        & (
            s["lc"].cast("double")
            / F.greatest(F.length(s["txt"]).cast("double"), F.lit(1.0))
            <= F.lit(float(max_link_density))
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["txt"]), "\n\n")


def with_html_text(
    df: "DataFrame",
    html_col: str = "html",
    out_col: str = "text",
    min_chars: int = 30,
    max_link_density: float = 0.5,
) -> "DataFrame":
    """Staged main-content extraction over a table: the cleaned page
    and the block array are their own projections so downstream
    references don't re-run the strip regexes. Output column feeds the
    existing quality / lang-id / dedup stages directly."""
    tmp = "__html_blocks__"
    if tmp in df.columns or out_col == html_col:
        raise ValueError(f"with_html_text: column collision on {tmp!r}/{out_col!r}")
    staged = df.withColumn(tmp, F.split(_drop_nontext(F.col(html_col)),
                                        _BLOCK_TAG_RE))
    return staged.withColumn(
        out_col,
        _main_text_from_blocks(F.col(tmp), min_chars, max_link_density),
    ).drop(tmp)


# --------------------------------------------------------------------- #
# BPE tokenization — applying a trained merge list at corpus scale
# --------------------------------------------------------------------- #

def _bpe_train_counts(
    word_counts: "Sequence[tuple[str, int]]", n_merges: int
) -> list[tuple[str, str]]:
    """Sennrich BPE training over a (word, count) table — the
    INCREMENTAL formulation: pair counts and a pair→words inverted
    index are built once, and each merge generation touches ONLY the
    words containing the merged pair (subtract their old adjacent
    pairs, re-segment, add the new ones) instead of rescanning the
    vocabulary. Deterministic: best pair = max count, ties broken by
    lexicographically smallest (lhs, rhs) — selection is a total order
    over unique keys, so dict iteration order never matters. Counting
    convention: every adjacent position counts ("aaa" counts (a,a)
    twice); merging is left-to-right non-overlapping — the same
    convention ``_bpe_word`` applies, so greedy rank-order apply
    reproduces the training segmentation."""
    from collections import defaultdict

    words: list[list] = []
    for w, c in word_counts:
        syms = list(w)
        if len(syms) > 1 and c > 0:
            words.append([syms, int(c)])
    pair_n: dict = defaultdict(int)
    where: dict = defaultdict(set)
    for i, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_n[p] += c
            where[p].add(i)
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        live = [(p, n) for p, n in pair_n.items() if n > 0]
        if not live:
            break
        best = min(live, key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for wi in sorted(where.get(best, ())):
            syms, c = words[wi]
            for p in zip(syms, syms[1:]):
                pair_n[p] -= c
                where[p].discard(wi)
            merged, j = [], 0
            while j < len(syms):
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    merged.append(a + b)
                    j += 2
                else:
                    merged.append(syms[j])
                    j += 1
            words[wi][0] = merged
            for p in zip(merged, merged[1:]):
                pair_n[p] += c
                where[p].add(wi)
        pair_n.pop(best, None)
        where.pop(best, None)
    return merges


def bpe_train(
    df: "DataFrame",
    n_merges: int = 200,
    text_col: str = "text",
    min_count: int = 2,
    vocab_max_rows: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Train a BPE merge list at corpus scale (the training side whose
    apply side is ``bpe_apply``; ``merge_candidates`` scores one
    generation — this iterates to a full ranked list).

    Scale shape — the standard factoring of real subword training: the
    ONLY corpus-sized work is one distributed pass building the
    (word, count) table (explode + hash aggregate, partial-aggregated);
    the merge loop then runs over DISTINCT words, whose count is
    Zipf-bounded far below corpus size. The vocabulary is cut to the
    ``vocab_max_rows`` most frequent words (TakeOrdered — frequency
    truncation is standard practice and bounds driver memory; the
    dropped tail is words seen < the cut, which contribute ~nothing to
    pair statistics). The driver loop is the INCREMENTAL Sennrich
    trainer (``_bpe_train_counts``): per generation only words
    containing the merged pair are re-segmented. 200 merges over a
    million-word vocabulary is seconds; at 100 TB the corpus pass
    dominates and is one scan."""
    from lazy_frame_spark.plans.parallel import ensure_min_partitions

    ws = ensure_min_partitions(df).select(tokens(F.col(text_col)).alias("__ws__"))
    wc = (
        ws.select(F.explode("__ws__").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= int(min_count))
    )
    rows = (
        wc.orderBy(F.desc("c"), F.asc("w"))
        .limit(int(vocab_max_rows))
        .collect()
    )
    return _bpe_train_counts([(r["w"], r["c"]) for r in rows], n_merges)


def _bpe_word(word: str, ranks: dict) -> list:
    """Classic greedy BPE: start from characters, repeatedly merge ALL
    occurrences of the best-ranked adjacent pair until no listed pair
    remains. Deterministic for a fixed merge list (rank ties are
    impossible — ranks are list positions)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        merged, j = [], 0
        while j < len(syms):
            if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                merged.append(a + b)
                j += 2
            else:
                merged.append(syms[j])
                j += 1
        syms = merged
    return syms


def bpe_apply(
    df: "DataFrame",
    merges: "Sequence[tuple[str, str]]",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> "DataFrame":
    """Tokenize a corpus with a TRAINED BPE merge list (the apply side
    of the subword story whose training side is ``merge_candidates``):
    whitespace words decompose to characters, then merges apply
    greedily in rank order — the standard Sennrich BPE encode.

    Arrow-batched by necessity (the merge loop is inherently
    per-symbol-sequence), with two scale levers: the merge table rides
    the task closure (a merge list is KBs — same shipping story as
    codebook literals), and a WORKER-LIFETIME LRU word cache collapses
    the Zipf-heavy repetition of natural text — each DISTINCT word
    encodes once per Python worker (the closure state survives across
    Arrow batches, and across tasks when Spark reuses the worker), not
    once per batch as the first cut did. The bound is clear-when-full
    (64k words) rather than LRU: per-hit recency bookkeeping in the
    hot loop measured as pure overhead on Zipf text, while a rare
    clear refills from the Zipf head within one batch. Output is an
    ``array<string>`` token column feeding the packing/counting stages
    directly."""
    import pandas as pd

    ranks = {(str(a), str(b)): i for i, (a, b) in enumerate(merges)}
    state: dict = {"cache": None}  # revived empty per worker, then kept
    max_words = 1 << 16

    def encode(col: pd.Series) -> pd.Series:
        cache = state["cache"]
        if cache is None:
            cache = state["cache"] = {}

        def enc_text(t):
            if t is None:
                return None
            out = []
            for w in t.split():
                toks = cache.get(w)
                if toks is None:
                    if len(cache) >= max_words:
                        cache.clear()
                    toks = _bpe_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out

        return col.map(enc_text)

    encode.__annotations__ = {"col": pd.Series, "return": pd.Series}
    udf = F.pandas_udf("array<string>")(encode)
    return df.withColumn(out_col, udf(F.col(text_col)))


#: Unicode scripts profiled by script_profile — (label, Java regex
#: class, RE2/DuckDB class). Java's \p{IsX} and RE2's \p{X} agree on
#: these (probed); keep the two spellings paired so oracles mirror.
SCRIPTS: tuple[tuple[str, str, str], ...] = (
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("hiragana", r"\p{IsHiragana}", r"\p{Hiragana}"),
    ("katakana", r"\p{IsKatakana}", r"\p{Katakana}"),
    ("hangul", r"\p{IsHangul}", r"\p{Hangul}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("greek", r"\p{IsGreek}", r"\p{Greek}"),
    ("devanagari", r"\p{IsDevanagari}", r"\p{Devanagari}"),
)


def script_profile(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Unicode-script composition per document — the routing signal a
    multilingual pipeline applies BEFORE any language model: per-script
    character counts (regexp_count over Unicode script classes — pure
    Catalyst, map-only, one scan) plus the dominant script (highest
    count; ties resolve in SCRIPTS order, 'none' when no script
    character appears). Script detection is cheaper and more robust
    than lang-id for the coarse split (CJK vs Latin vs Cyrillic ...)
    and catches mixed-script spam (e.g. Cyrillic homoglyphs inside
    Latin text) that per-language models misroute."""
    counts = {
        label: F.regexp_count(F.col(text_col), F.lit(java_re))
        .cast("bigint").alias(f"n_{label}")
        for label, java_re, _ in SCRIPTS
    }
    out = df.select(F.col(id_col), *counts.values())
    # argmax as GREATEST over (count, -list_index, label) structs —
    # struct comparison is lexicographic, so the highest count wins
    # and ties resolve to the FIRST-listed script. One linear-size
    # expression: the previous fold of nested whens doubled the tree
    # per script (best_n fed both the predicate and the otherwise), so
    # 9 scripts compiled to >64 KB of generated code and janino
    # silently dropped the projection out of whole-stage codegen.
    top = F.greatest(*[
        F.struct(
            F.col(f"n_{label}").alias("n"),
            F.lit(-i).alias("pri"),
            F.lit(label).alias("s"),
        )
        for i, (label, _j, _r) in enumerate(SCRIPTS)
    ])
    best = F.when(top["n"] > 0, top["s"]).otherwise(F.lit("none"))
    return out.withColumn("dominant_script", best)
