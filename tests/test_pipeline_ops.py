"""Training-data pipeline operators: dedup finds planted near-dups,
similarity search recalls true neighbors, multimodal plumbing round-trips."""

import pyspark.sql.functions as F
import pytest

from lazy_frame_spark.operators import decontam as dc
from lazy_frame_spark.operators import mixing as mx
from lazy_frame_spark.operators import dedup as dd
from lazy_frame_spark.operators import multimodal as mm
from lazy_frame_spark.operators import similarity as sim
from lazy_frame_spark.operators import text as tx

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the tall mountains and the river flows gently through the valley "
    "carrying leaves and small branches toward the distant sea"
)


@pytest.fixture(scope="module")
def docs(spark):
    """10 distinct docs + planted near-dups of doc 0 (one word changed) and
    an exact dup of doc 1."""
    rows = [(0, BASE)]
    rows.append((1, "completely different content about spark engines and data"))
    rows.append((2, BASE.replace("quick", "rapid")))  # near-dup of 0
    rows.append((3, "completely different content about spark engines and data"))  # exact dup of 1
    for i in range(4, 10):
        rows.append((i, f"unique document number {i} with its own words "
                        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    out = dd.exact_dedup(docs, ["text"])
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 1 in ids and 3 not in ids  # duplicate loses to min id
    assert len(ids) == 9


def test_decontaminate_drops_overlapping_docs(spark, docs):
    # eval corpus = doc 0's text verbatim; docs 0 and 2 (near-dup of 0)
    # share its 3-gram shingles, the rest share none
    ev = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    stats = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in dc.contamination(docs, ev).collect()
    }
    assert stats[0][1] and stats[0][0] > 0
    assert stats[2][1]  # near-dup still shares most shingles
    assert not stats[1][1] and stats[1][0] == 0
    clean = sorted(
        r["doc_id"] for r in dc.decontaminate(docs, ev).select("doc_id").collect()
    )
    assert 0 not in clean and 2 not in clean
    assert set(clean) == {1, 3, 4, 5, 6, 7, 8, 9}


def test_contamination_udf_eval_size_cap(spark, docs):
    """The streaming decontamination path driver-collects the eval
    shingle set — the cap refuses a corpus-sized eval side instead of
    silently OOM-ing the driver, while a real (small) eval set works
    with the same cap."""
    ev = spark.createDataFrame(
        [(0, BASE)], "doc_id long, text string"
    )
    shingles = dc.eval_ngrams(ev)
    # a genuine eval set passes under a tight cap
    col = dc.contamination_udf(docs, shingles, max_eval_shingles=1000)
    hits = docs.select("doc_id", col.alias("o")).collect()
    assert {r["doc_id"]: r["o"] > 0 for r in hits}[0] is True
    # the same set refuses when it exceeds the cap (both input kinds)
    with pytest.raises(ValueError, match="max_eval_shingles"):
        dc.contamination_udf(docs, shingles, max_eval_shingles=3)
    with pytest.raises(ValueError, match="max_eval_shingles"):
        dc.contamination_udf(docs, ["a b c", "b c d", "c d e", "d e f"],
                             max_eval_shingles=3)


def test_decontamination_join_is_broadcast(docs, spark):
    ev = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    plan = (
        dc.contamination(docs, ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_duplicate_ngram_spans_exact_boundaries(spark):
    """Plant a known 20-token shared run at different offsets in two
    otherwise-distinct docs; the maximal span and both start positions
    must come back exactly."""
    shared = " ".join(f"s{i}" for i in range(20))
    a = "a0 a1 a2 " + shared + " a3 a4"            # shared starts at pos 3
    b = "b0 " + shared + " b1 b2 b3 b4 b5"         # shared starts at pos 1
    c = "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"    # no overlap
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    rows = dd.duplicate_ngram_spans(docs, n=8, min_span_tokens=12).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert (r["start_a"], r["start_b"], r["span_tokens"]) == (3, 1, 20)


def test_duplicate_ngram_spans_min_length_filter(spark):
    shared = " ".join(f"s{i}" for i in range(10))  # 10-token run: 3 grams
    docs = spark.createDataFrame(
        [(1, "x1 x2 " + shared), (2, shared + " y1 y2")],
        "doc_id long, text string",
    )
    assert dd.duplicate_ngram_spans(docs, n=8, min_span_tokens=12).count() == 0
    got = dd.duplicate_ngram_spans(docs, n=8, min_span_tokens=10).collect()
    assert len(got) == 1 and got[0]["span_tokens"] == 10


def test_duplicate_ngram_spans_df_pruning_drops_boilerplate(spark):
    """A gram present in every doc (license header) is pruned by the df
    cap; the distinctive shared run still surfaces."""
    header = " ".join(f"h{i}" for i in range(8))
    shared = " ".join(f"s{i}" for i in range(15))
    rows = [(i, header + f" filler{i} fillertoo{i}") for i in range(10)]
    rows += [(100, header + " " + shared), (101, shared + " tail0 tail1")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dd.duplicate_ngram_spans(
        docs, n=8, min_span_tokens=12, max_gram_df=3
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in spans} == {(100, 101)}


def test_chunk_dedup_removes_repeated_chunk_keeps_first(spark):
    """A 5-token chunk repeated across (and within) docs survives only at
    its globally-first position; unique chunks are untouched."""
    boiler = "b0 b1 b2 b3 b4"
    rows = [
        (1, boiler + " u0 u1 u2 u3 u4"),
        (2, boiler + " v0 v1 v2 v3 v4"),          # leading boiler repeated
        (3, "w0 w1 w2 w3 w4 " + boiler),          # boiler at chunk 1
        (4, boiler),                               # whole doc is the boiler
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in dd.chunk_dedup(df, chunk_tokens=5).collect()}
    assert got[1] == boiler + " u0 u1 u2 u3 u4"   # first occurrence kept
    assert got[2] == "v0 v1 v2 v3 v4"             # repeat cut, tail kept
    assert got[3] == "w0 w1 w2 w3 w4"
    assert got[4] == ""                           # all chunks were repeats


def test_chunk_dedup_order_preserved(spark):
    """Surviving chunks re-join in original chunk order."""
    df = spark.createDataFrame(
        [(1, "a0 a1 b0 b1 c0 c1"), (2, "z0 z1 b0 b1 y0 y1")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in dd.chunk_dedup(df, chunk_tokens=2).collect()}
    assert got[1] == "a0 a1 b0 b1 c0 c1"
    assert got[2] == "z0 z1 y0 y1"


def test_drop_near_duplicates_keeps_min_id_reps(docs):
    """Planted near-dup of doc 0 (doc 2) and exact dup of doc 1 (doc 3):
    the dedup'd corpus keeps the min-id representative of each cluster
    and every singleton, for both clustering backends."""
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    for star in (False, True):
        kept = sorted(
            r["doc_id"]
            for r in dd.drop_near_duplicates(docs, pairs, star=star).collect()
        )
        assert 0 in kept and 1 in kept
        assert 2 not in kept and 3 not in kept
        assert set(kept) >= set(range(4, 10))


def test_bloom_contamination_agrees_with_exact(spark, docs):
    """The Bloom path must equal the exact path value-for-value: the
    prefilter can only add candidates (false positives), and the exact
    verify join removes every one of them. No false negatives is
    structural — every true overlap passes the Bloom membership test."""
    ev = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in dc.contamination(docs, ev, min_overlap=1).collect()
        if r["n_overlap"] >= 1
    }
    bloom = {
        r["doc_id"]: r["n_overlap"]
        for r in dc.bloom_contamination(docs, ev, min_overlap=1).collect()
    }
    assert bloom == exact


def test_bloom_contamination_tiny_filter_still_exact(spark, docs):
    """Degenerate 256-bit filter: nearly everything collides, so the
    prefilter passes almost every shingle — the verify join must still
    reduce the result to the exact overlap set."""
    ev = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in dc.contamination(docs, ev, min_overlap=1).collect()
        if r["n_overlap"] >= 1
    }
    bloom = {
        r["doc_id"]: r["n_overlap"]
        for r in dc.bloom_contamination(
            docs, ev, min_overlap=1, m_bits=256, k_hashes=2
        ).collect()
    }
    assert bloom == exact


def test_bloom_bitset_deterministic_and_sized(spark):
    ev = spark.createDataFrame([(100, BASE)], "doc_id long, text string")
    b1 = dc.bloom_bitset(ev, m_bits=1 << 12, k_hashes=3)
    b2 = dc.bloom_bitset(ev, m_bits=1 << 12, k_hashes=3)
    assert b1 == b2
    assert len(b1) == (1 << 12) // 8
    assert any(b1)  # not empty


def test_epoch_shuffle_is_seeded_permutation(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "k")
    r7a = {r["k"]: r["rank"] for r in
           mx.epoch_shuffle(df, ["k"], seed=7, rank_col="rank").collect()}
    r7b = {r["k"]: r["rank"] for r in
           mx.epoch_shuffle(df, ["k"], seed=7, rank_col="rank").collect()}
    r8 = {r["k"]: r["rank"] for r in
          mx.epoch_shuffle(df, ["k"], seed=8, rank_col="rank").collect()}
    assert sorted(r7a.values()) == list(range(1, 501))  # true permutation
    assert r7a == r7b  # same seed → identical order (epoch resume)
    assert r7a != r8  # different seed → different order
    assert r7a != {k: k + 1 for k in range(500)}  # actually shuffled


def test_rates_for_target_mix_scarcest_domain_caps():
    # web is abundant, code is scarce relative to its 25% share:
    # T = min(9000/.75, 500/.25) = 2000 → keep 1500 web (16.7%), 500 code (100%)
    rates = mx.rates_for_target_mix(
        {"web": 9000, "code": 500}, {"web": 3, "code": 1}
    )
    assert rates["code"] == 10000
    assert rates["web"] == 1666  # floor(1500/9000 * 10000)


def test_rates_for_target_mix_absent_domain_yields_empty():
    # a target domain with zero corpus rows forces T=0: the empty corpus
    # is the only downsample achieving the requested mix — no KeyError,
    # no ZeroDivisionError
    rates = mx.rates_for_target_mix({"web": 9000}, {"web": 3, "code": 1})
    assert rates == {"web": 0, "code": 0}


def test_sample_by_rates_deterministic_and_bounded(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("id") % 2).cast("string")).alias("dom"),
    )
    out = mx.sample_by_rates(
        df, "dom", {"d0": 10000, "d1": 0}, id_cols=["doc_id"], seed=3
    )
    got = {r["doc_id"] for r in out.collect()}
    assert got == set(range(0, 2000, 2))  # rate 10000 keeps all, rate 0 none
    half = mx.sample_by_rates(
        df, "dom", {"d0": 5000, "d1": 5000}, id_cols=["doc_id"], seed=3
    ).count()
    assert 800 < half < 1200  # ~50% acceptance within sampling noise
    again = mx.sample_by_rates(
        df, "dom", {"d0": 5000, "d1": 5000}, id_cols=["doc_id"], seed=3
    ).count()
    assert half == again


def test_minhash_finds_planted_near_dup(docs):
    pairs = dd.minhash_candidate_pairs(docs).collect()
    found = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs}
    assert (0, 2) in found, f"expected (0,2) in {found}"
    assert found[(0, 2)] >= 0.5
    assert (1, 3) in found and found[(1, 3)] == 1.0  # exact dup → full agreement


def test_minhash_signature_determinism(docs):
    a = dd.minhash_signatures(docs).orderBy("doc_id").collect()
    b = dd.minhash_signatures(docs).orderBy("doc_id").collect()
    assert a == b


def test_simhash_near_dup_small_hamming(docs):
    out = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    ham_02 = bin(out[0] ^ out[2]).count("1")
    ham_13 = bin(out[1] ^ out[3]).count("1")
    assert ham_13 == 0  # exact dup → identical simhash
    assert ham_02 <= 6  # one-word change → few bits flip
    # distinct docs should be far apart
    ham_04 = bin(out[0] ^ out[4]).count("1")
    assert ham_04 > ham_02


def test_ngram_jaccard_exact_values(docs):
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert found[(1, 3)] == 1.0
    assert (0, 2) in found and 0.8 <= found[(0, 2)] < 1.0


@pytest.fixture(scope="module")
def vectors(spark):
    """32-dim vectors: vec 100 ≈ vec 0 (tiny perturbation), others random."""
    import random

    rng = random.Random(99)
    rows = []
    base = [rng.uniform(-1, 1) for _ in range(32)]
    rows.append((0, [float(x) for x in base]))
    rows.append((100, [float(x + 0.001) for x in base]))  # near-dup
    for i in range(1, 50):
        rows.append((i, [float(rng.uniform(-1, 1)) for _ in range(32)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    base = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = sim.cosine_topk(vectors, [float(x) for x in base], k=3).collect()
    assert out[0]["vec_id"] == 0 and out[0]["cos_sim"] == 1.0
    assert out[1]["vec_id"] == 100 and out[1]["cos_sim"] > 0.999


def test_lsh_topk_recalls_near_dup(vectors):
    base = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    q = [float(x) for x in base]
    lsh = sim.RandomHyperplaneLSH(dim=32, n_planes=12, seed=7)
    out = lsh.topk(vectors, q, k=3, probe_hamming=2).collect()
    ids = [r["vec_id"] for r in out]
    assert ids[0] == 0 and 100 in ids  # the planted near-dup must be found


def test_lsh_bucket_deterministic(vectors):
    lsh = sim.RandomHyperplaneLSH(dim=32, n_planes=8, seed=3)
    a = lsh.with_buckets(vectors).select("vec_id", "__lsh_bucket__").collect()
    b = lsh.with_buckets(vectors).select("vec_id", "__lsh_bucket__").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_embedding_near_dup_pairs(vectors):
    lsh = sim.RandomHyperplaneLSH(dim=32, n_planes=8, seed=11)
    pairs = sim.embedding_near_dup_pairs(vectors, threshold=0.99, lsh=lsh).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(0, 100)}


def test_multimodal_roundtrip(docs):
    payload = mm.attach_binary_payload(docs)
    feats = mm.decode_image_features(payload)
    pdf = feats.toPandas().set_index("doc_id")
    assert len(pdf) == 10
    assert (pdf["n_bytes"] > 0).all()
    assert pdf["feature"].map(len).eq(8).all()
    # deterministic: same payload → same feature
    feats2 = mm.decode_image_features(payload).toPandas().set_index("doc_id")
    assert pdf["sha1_8"].equals(feats2["sha1_8"])


def _ppm(w, h, px_bytes):
    return b"P6\n%d %d\n255\n" % (w, h) + px_bytes


def _bmp24(w, h, rows_rgb):
    """Minimal bottom-up 24-bit BMP from [[(r,g,b)...] per row, top-first]."""
    stride = (w * 3 + 3) & ~3
    body = b""
    for row in reversed(rows_rgb):  # bottom-up storage
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)
        body += line + b"\x00" * (stride - len(line))
    header = (
        b"BM" + (54 + len(body)).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"\x00" * 24
    )
    return header + body


def test_probe_media_headers():
    import struct as st

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + st.pack(">II", 640, 480)
    assert mm.probe_media(png) == ("image/png", 640, 480)
    jpeg = (b"\xff\xd8\xff\xe0" + st.pack(">H", 16) + b"JFIF" + b"\x00" * 12
            + b"\xff\xc0" + st.pack(">H", 17) + b"\x08" + st.pack(">HH", 300, 200)
            + b"\x00" * 10)
    assert mm.probe_media(jpeg) == ("image/jpeg", 200, 300)
    gif = b"GIF89a" + st.pack("<HH", 12, 34)
    assert mm.probe_media(gif) == ("image/gif", 12, 34)
    assert mm.probe_media(_ppm(5, 7, b"\x00" * 105)) == ("image/x-portable-pixmap", 5, 7)
    assert mm.probe_media(b"RIFF\x24\x00\x00\x00WAVE") == ("audio/wav", None, None)
    assert mm.probe_media(b"garbage")[0] == "application/octet-stream"


def test_decode_pixels_ppm_and_bmp_exact():
    import numpy as np

    # 2x2 PPM: red, green / blue, white
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    got = mm.decode_pixels(_ppm(2, 2, px))
    assert got.shape == (2, 2, 3)
    assert got[0, 0].tolist() == [255, 0, 0] and got[1, 1].tolist() == [255, 255, 255]

    rows = [[(255, 0, 0), (0, 255, 0), (9, 9, 9)], [(0, 0, 255), (10, 20, 30), (1, 2, 3)]]
    got = mm.decode_pixels(_bmp24(3, 2, rows))
    assert got.shape == (2, 3, 3)
    assert got.tolist() == [[list(p) for p in r] for r in rows]
    assert np.issubdtype(got.dtype, np.unsignedinteger)


def test_png_roundtrip_all_filters_and_color_types():
    import numpy as np

    rng = np.random.RandomState(7)
    for shape in [(7, 5, 3), (9, 4, 4), (6, 8), (11, 3, 2)]:
        px = rng.randint(0, 256, size=shape, dtype=np.uint8)
        want = px if px.ndim == 3 else px[:, :, None]
        for cycle in (True, False):
            blob = mm.encode_png(px, cycle_filters=cycle)
            got = mm.decode_pixels(blob)
            assert got.shape == want.shape
            assert (got == want).all()
        mime, w, h = mm.probe_media(mm.encode_png(px))
        assert mime == "image/png" and (w, h) == (want.shape[1], want.shape[0])


def test_png_palette_decode():
    import struct as st
    import zlib

    import numpy as np

    # hand-built 2x2 color-type-3 PNG: palette [red, green, blue]
    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return st.pack(">I", len(body)) + ctype + body + st.pack(">I", crc)

    ihdr = st.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = bytes([0, 0, 1, 1, 2, 0])  # rows: [red, green]; Sub-filtered [blue, blue]
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", plte) + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))
    got = mm.decode_png(blob)
    assert got.shape == (2, 2, 3)
    assert np.array_equal(
        got, [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [0, 0, 255]]]
    )


def test_png_unsupported_raises():
    import struct as st
    import zlib

    import pytest as pt

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return st.pack(">I", len(body)) + ctype + body + st.pack(">I", crc)

    # 16-bit is SUPPORTED since round 4 — this 1x1 gray decodes
    sixteen = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", st.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(bytes([0, 0x12, 0x34])))
               + chunk(b"IEND", b""))
    assert mm.decode_png(sixteen)[0, 0, 0] == 0x1234
    # the spec-illegal 16-bit palette remains a dead-letter
    pal16 = (b"\x89PNG\r\n\x1a\n"
             + chunk(b"IHDR", st.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(bytes(3))) + chunk(b"IEND", b""))
    with pt.raises(NotImplementedError):
        mm.decode_png(pal16)
    with pt.raises(ValueError):
        mm.decode_png(b"not a png")


def test_jpeg_roundtrip_smooth_images():
    import numpy as np

    from lazy_frame_spark.operators import jpeg as J

    # gray gradient, dims not multiples of 8
    y, x = np.mgrid[0:21, 0:13]
    px = (64 + 3 * x + 2 * y).clip(0, 255).astype(np.uint8)
    got = mm.decode_pixels(J.encode_jpeg(px, quality=90))
    assert got.shape == (21, 13, 1)
    err = np.abs(got[:, :, 0].astype(int) - px.astype(int))
    assert err.max() <= 4

    # RGB smooth field through decode_pixels dispatch + probe_media dims
    yy, xx = np.mgrid[0:24, 0:32]
    rgb = np.stack(
        [(30 + 5 * xx) % 200, (60 + 4 * yy) % 200, (90 + 2 * xx + 3 * yy) % 200],
        axis=2,
    ).astype(np.uint8)
    blob = J.encode_jpeg(rgb, quality=90)
    assert mm.probe_media(blob) == ("image/jpeg", 32, 24)
    got = mm.decode_pixels(blob)
    assert got.shape == (24, 32, 3)
    err = np.abs(got.astype(int) - rgb.astype(int))
    assert err.mean() < 6 and err.max() < 48


def test_jpeg_constant_block_exact_at_q75():
    """Quality 75 ⇒ luminance DC quantizer 8 divides the DC scale 8, so
    a constant image round-trips EXACTLY — the closed form the
    multimodal_jpeg_roundtrip parity oracle relies on."""
    import numpy as np

    from lazy_frame_spark.operators import jpeg as J

    assert J._scale_quant(J._QUANT_LUM, 75)[0, 0] == 8
    for v in (50, 77, 128, 205):
        out = J.decode_jpeg(J.encode_jpeg(np.full((8, 8), v, np.uint8), quality=75))
        assert (out[:, :, 0] == v).all()


def test_jpeg_nonbaseline_rejected():
    import numpy as np
    import pytest as pt

    from lazy_frame_spark.operators import jpeg as J

    blob = J.encode_jpeg(np.full((8, 8), 99, np.uint8))
    i = blob.index(b"\xff\xc0")
    with pt.raises(NotImplementedError):  # lossless (SOF3)
        J.decode_jpeg(blob[:i] + b"\xff\xc3" + blob[i + 2:])
    with pt.raises(ValueError):  # SOF2 with a baseline full-band scan header
        J.decode_jpeg(blob[:i] + b"\xff\xc2" + blob[i + 2:])
    with pt.raises(ValueError):
        J.decode_jpeg(b"not a jpeg")


def test_jpeg_subsampled_and_restart_decode():
    """Hand-built 4:2:0 stream with a restart interval — decoder paths
    the 4:4:4 encoder never emits: multi-block MCU assembly, chroma
    upsampling, DC predictor reset at RSTn."""
    import struct as st

    import numpy as np

    from lazy_frame_spark.operators import jpeg as J

    v = 173  # constant gray in RGB: Y = v, Cb = Cr = 128 exactly
    h, w = 16, 32  # 2 MCUs of 16x16 at 2x2 luma sampling
    qlum, qchr = J._scale_quant(J._QUANT_LUM, 75), J._scale_quant(J._QUANT_CHROM, 75)

    out = bytearray(b"\xff\xd8")
    for tid, q in ((0, qlum), (1, qchr)):
        out += (b"\xff\xdb" + st.pack(">H", 67) + bytes([tid])
                + bytes(int(x) for x in q.reshape(-1)[J._ZZ]))
    sof = st.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    out += b"\xff\xc0" + st.pack(">H", 2 + len(sof)) + sof
    for tc, th, (bits, vals) in (
        (0, 0, J._DC_LUM), (1, 0, J._AC_LUM), (0, 1, J._DC_CHROM), (1, 1, J._AC_CHROM)
    ):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + st.pack(">H", 2 + len(body)) + body
    out += b"\xff\xdd" + st.pack(">HH", 4, 1)  # DRI: restart every MCU
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + st.pack(">H", 2 + len(sos)) + sos

    dc_l, ac_l = J._build_codes(*J._DC_LUM), J._build_codes(*J._AC_LUM)
    dc_c, ac_c = J._build_codes(*J._DC_CHROM), J._build_codes(*J._AC_CHROM)

    def mcu(bw):
        pred = 0
        for blk in range(4):  # four Y blocks per MCU
            s, lo = J._magnitude((v - 128) - pred)
            pred = v - 128
            c, ln = dc_l[s]
            bw.write(c, ln)
            bw.write(lo, s)
            c, ln = ac_l[0x00]
            bw.write(c, ln)  # EOB
        for _ in range(2):  # Cb, Cr: DC diff 0
            c, ln = dc_c[0]
            bw.write(c, ln)
            c, ln = ac_c[0x00]
            bw.write(c, ln)
    bw = J._BitWriter()
    mcu(bw)
    bw.flush()
    out += bw.out + b"\xff\xd0"
    bw = J._BitWriter()
    mcu(bw)  # predictors reset after RST0 — same bits again
    bw.flush()
    out += bw.out + b"\xff\xd9"

    got = J.decode_jpeg(bytes(out))
    assert got.shape == (h, w, 3)
    assert (got == v).all(), (got.min(), got.max())
    assert mm.probe_media(bytes(out)) == ("image/jpeg", w, h)


def test_decode_wav_sample_accurate(tmp_path):
    import io
    import math
    import wave

    import numpy as np

    buf = io.BytesIO()
    rate, n = 8000, 800
    samples = [int(10000 * math.sin(2 * math.pi * 440 * i / rate)) for i in range(n)]
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"".join(int(s).to_bytes(2, "little", signed=True) for s in samples))
    x, got_rate = mm.decode_wav(buf.getvalue())
    assert got_rate == rate and x.shape == (n, 1)
    assert np.allclose(x[:, 0], np.array(samples) / 32768.0, atol=1e-6)


def test_audio_features_distributed(spark):
    import io
    import wave

    def make_wav(amp):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(16000)
            frames = b"".join(
                int(amp).to_bytes(2, "little", signed=True) * 2 for _ in range(1600)
            )
            w.writeframes(frames)
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, bytearray(make_wav(3277))), (2, bytearray(make_wav(16384)))],
        "doc_id long, payload binary",
    )
    out = mm.decode_audio_features(df).toPandas().set_index("doc_id").sort_index()
    assert out.loc[1, "duration_ms"] == 100 and out.loc[1, "rate"] == 16000
    assert out.loc[1, "channels"] == 2 and out.loc[1, "n_samples"] == 1600
    # constant-amplitude signal: rms == peak == amp/32768 in basis points
    assert out.loc[1, "rms_bp"] == out.loc[1, "peak_bp"] == 1000
    assert out.loc[2, "peak_bp"] == 5000


def test_real_image_decoder_distributed(spark):
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    df = spark.createDataFrame(
        [(7, bytearray(_ppm(2, 2, px)))], "doc_id long, payload binary"
    )
    out = mm.decode_image_features(df, real_decoder=True).toPandas()
    assert out.loc[0, "width"] == 2 and out.loc[0, "height"] == 2
    feat = out.loc[0, "feature"]
    # channel means: R=(255+255)/4? no — mean over 4 px per channel
    assert abs(feat[0] - (255 + 0 + 0 + 255) / 4 / 255) < 1e-4
    assert len(feat) == 8


def test_real_decoder_rejects_opaque_payloads(docs):
    with pytest.raises(Exception, match="PIL|NotImplemented"):
        mm.decode_image_features(
            mm.attach_binary_payload(docs), real_decoder=True
        ).collect()


def test_lang_id_on_real_phrases(spark):
    rows = [
        (1, "the cat and the dog went to the market in a hurry"),
        (2, "der hund und die katze sind nicht zu hause"),
        (3, "le chat et le chien sont dans la maison"),
        (4, "el perro y el gato es una familia en la casa"),
        (5, "xqz pqr zzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "  a  b   c "), (3, "don't stop, ever!")],
        "doc_id long, text string",
    )
    out = df.select("doc_id", tx.token_count(F.col("text")).alias("n"),
                    tx.bpe_ish_token_count(F.col("text")).alias("b")).collect()
    vals = {r["doc_id"]: (r["n"], r["b"]) for r in out}
    assert vals[1] == (2, 2)
    assert vals[2][0] == 3
    assert vals[3] == (3, 7)  # don ' t stop , ever !


def test_duplicate_clusters_transitive(spark):
    """A~B and B~C (but not A~C directly) must land in ONE cluster."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dd.duplicate_clusters(nodes, pairs).collect()}
    assert out[1] == out[2] == out[3] == 1   # transitive closure, min-id label
    assert out[5] == out[6] == 5
    assert out[4] == 4 and out[7] == 7       # singletons keep their own id


def test_duplicate_clusters_chain_converges(spark):
    """A long chain needs label propagation over many hops."""
    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    out = dd.duplicate_clusters(nodes, pairs, max_iter=40)
    assert out.select("cluster_id").distinct().count() == 1


def test_star_cc_matches_label_propagation(spark):
    """Large-star/small-star must produce the identical (doc_id, cluster_id)
    mapping as min-label propagation on a multi-component graph."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 5), (9, 10)], "doc_a long, doc_b long"
    )
    lp = sorted(tuple(r) for r in dd.duplicate_clusters(nodes, pairs).collect())
    star = sorted(tuple(r) for r in dd.connected_components_star(nodes, pairs).collect())
    assert star == lp


def test_star_cc_long_chain_beats_diameter(spark):
    """A 60-node chain has diameter 59: label propagation would need ~59
    rounds, star contraction must finish within 10."""
    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    out = dd.connected_components_star(nodes, pairs, max_iter=10).collect()
    assert {r["cluster_id"] for r in out} == {1}
    assert len(out) == n


def test_star_cc_isolated_and_empty_edges(spark):
    nodes = spark.createDataFrame([(i,) for i in (4, 8, 15)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dd.connected_components_star(nodes, pairs).collect()}
    assert out == {4: 4, 8: 8, 15: 15}


def test_incremental_near_dups(spark, docs):
    """New batch matched against the OLD corpus's signature table only."""
    old_sigs = dd.minhash_signatures(docs)
    new_batch = spark.createDataFrame(
        [(100, BASE.replace("fox", "wolf")),            # near-dup of old doc 0
         (101, "entirely novel content nothing alike xyzzy plugh")],
        "doc_id long, text string",
    )
    hits = dd.incremental_near_dups(new_batch, old_sigs).collect()
    matched = {(r["new_id"], r["old_id"]) for r in hits}
    assert (100, 0) in matched
    assert all(n != 101 for n, _ in matched)  # novel doc matches nothing


def test_simhash_banded_recall_vs_bruteforce(spark, sf_dir):
    """The banded equi-join must find EVERY pair within the hamming radius
    (h+1 disjoint chunks → pigeonhole guarantees a shared band). Compares
    against exhaustive all-pairs distances on the documents fixture."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 3 == 0
    )
    sh = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    ids = sorted(sh)
    for h in (4, 8):
        banded = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dd.simhash_pairs(docs, max_hamming=h).collect()
        }
        brute = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                d = bin(sh[a] ^ sh[b]).count("1")
                if d <= h:
                    brute[(a, b)] = d
        missed = set(brute) - set(banded)
        extra = set(banded) - set(brute)
        assert not missed, f"h={h}: banding dropped {len(missed)} true pairs"
        assert not extra, f"h={h}: {len(extra)} pairs beyond the radius"
        assert banded == brute


@pytest.fixture(scope="module")
def docs_with_boilerplate(spark, docs):
    """The docs fixture plus 40 byte-identical boilerplate documents —
    they collapse into ONE LSH bucket in every band (the degenerate-
    bucket shape: empty pages, license headers, nav chrome)."""
    boiler = [(100 + i, "all rights reserved copyright notice page intentionally "
                        "left blank terms of service apply " * 3) for i in range(40)]
    extra = spark.createDataFrame(boiler, "doc_id long, text string")
    return docs.unionByName(extra)


def test_minhash_hot_bucket_guard(docs_with_boilerplate):
    """max_bucket_size drops the degenerate bucket's quadratic pair set
    while pairs in healthy buckets survive untouched."""
    unguarded = dd.minhash_candidate_pairs(docs_with_boilerplate).collect()
    un_pairs = {(r["doc_a"], r["doc_b"]) for r in unguarded}
    # the 40 identical docs contribute 40*39/2 = 780 pairs unguarded
    boiler_pairs = {p for p in un_pairs if p[0] >= 100 and p[1] >= 100}
    assert len(boiler_pairs) == 780
    guarded = dd.minhash_candidate_pairs(
        docs_with_boilerplate, max_bucket_size=10
    ).collect()
    g_pairs = {(r["doc_a"], r["doc_b"]) for r in guarded}
    assert not {p for p in g_pairs if p[0] >= 100 and p[1] >= 100}
    assert (0, 2) in g_pairs and (1, 3) in g_pairs  # healthy buckets intact
    # everything the guard kept matches the unguarded result exactly
    assert g_pairs == un_pairs - boiler_pairs
    with pytest.raises(ValueError, match="max_bucket_size"):
        dd.minhash_candidate_pairs(docs_with_boilerplate, max_bucket_size=0).count()


def test_simhash_hot_bucket_guard(docs_with_boilerplate):
    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_pairs(docs_with_boilerplate, max_hamming=4).collect()
    }
    assert len({p for p in unguarded if p[0] >= 100 and p[1] >= 100}) == 780
    guarded = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_pairs(
            docs_with_boilerplate, max_hamming=4, max_bucket_size=10
        ).collect()
    }
    assert not {p for p in guarded if p[0] >= 100 and p[1] >= 100}
    assert guarded == {p for p in unguarded if not (p[0] >= 100 and p[1] >= 100)}


def test_incremental_near_dups_hot_bucket_guard(spark, docs_with_boilerplate):
    """The combined-population cap prunes a bucket hot across the corpus
    signature table + new batch, while a genuine near-dup still matches."""
    old_sigs = dd.minhash_signatures(docs_with_boilerplate)
    new_batch = spark.createDataFrame(
        [(200, BASE.replace("fox", "wolf")),
         (201, "all rights reserved copyright notice page intentionally "
               "left blank terms of service apply " * 3)],
        "doc_id long, text string",
    )
    unguarded = dd.incremental_near_dups(new_batch, old_sigs).collect()
    assert sum(1 for r in unguarded if r["new_id"] == 201) == 40
    guarded = dd.incremental_near_dups(
        new_batch, old_sigs, max_bucket_size=10
    ).collect()
    matched = {(r["new_id"], r["old_id"]) for r in guarded}
    assert (200, 0) in matched
    assert all(n != 201 for n, _ in matched)


def test_sketch_persist_lifecycle(spark, docs):
    """Repeated sketch-based calls must not accumulate cached blocks: each
    invocation replaces its predecessor's pin; release_sketches() drops
    all of them."""
    dd.release_sketches()
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    for _ in range(3):
        dd.simhash_pairs(docs, max_hamming=4).count()
    assert jsc.getPersistentRDDs().size() <= base + 1
    for _ in range(2):
        dd.minhash_candidate_pairs(docs).count()
    assert jsc.getPersistentRDDs().size() <= base + 2
    dd.release_sketches()
    assert jsc.getPersistentRDDs().size() <= base


def test_udfs_work_with_off_repo_cwd():
    """Module-level pandas UDFs are cloudpickled by reference — workers
    must import lazy_frame_spark WITHOUT the repo on their cwd/path.
    tune_session ships the package via addPyFile (regression:
    ModuleNotFoundError in the Python worker when a harness imports
    __spark_entry__ from another directory)."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from lazy_frame_spark.session import get_spark, tune_session\n"
        "spark = tune_session(get_spark(cpus=4))\n"
        "import __spark_entry__ as m\n"
        "n = m.queries()['udf_token_count_vectorized'](spark, '/root/testdata/sf0.001').count()\n"
        "print('OFFREPO_OK', n)\n"
    )
    env = {k: v for k, v in __import__("os").environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert "OFFREPO_OK 500" in out.stdout, out.stderr[-2000:]


def test_repetition_features_exact(spark):
    rows = [
        (1, "a a a b"),            # top word 'a'×3; bigrams: a a, a a, a b → top 2/3
        (2, "x y x y x y"),        # dup heavy; bigram 'x y'×3 of 5
        (3, "all unique words here"),
        (4, ""),
    ]
    out = (
        tx.repetition_features(spark.createDataFrame(rows, "doc_id long, text string"))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[1, "n_tokens"] == 4
    assert out.loc[1, "dup_word_bp"] == (4 - 2) * 10000 // 4
    assert out.loc[1, "top_word_bp"] == 3 * 10000 // 4
    assert out.loc[1, "top_bigram_bp"] == 2 * 10000 // 3
    assert out.loc[2, "top_bigram_bp"] == 3 * 10000 // 5
    assert out.loc[3, "dup_word_bp"] == 0 and out.loc[3, "top_word_bp"] == 2500
    assert out.loc[4].tolist() == [0, 0, 0, 0]


def test_pii_scrub_known_positives(spark):
    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "server at 192.168.1.254 port 80"),
        (3, "call +4915123456789 today"),
        (4, "from 1.2.3.4@mail.com today"),   # IP-shaped local part: email wins
        (5, "clean text with no identifiers"),
    ]
    out = (
        tx.pii_scrub(spark.createDataFrame(rows, "doc_id long, text string"))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[1, "scrubbed"] == "mail <EMAIL> now" and out.loc[1, "n_emails"] == 1
    assert out.loc[2, "scrubbed"] == "server at <IP> port 80" and out.loc[2, "n_ips"] == 1
    assert out.loc[3, "scrubbed"] == "call <PHONE> today" and out.loc[3, "n_phones"] == 1
    assert out.loc[4, "scrubbed"] == "from <EMAIL> today"
    assert out.loc[4, "n_ips"] == 0
    assert out.loc[5, "scrubbed"] == rows[4][1]
    assert out.loc[5, ["n_emails", "n_ips", "n_phones"]].tolist() == [0, 0, 0]


def test_quality_gate_rules_fire_in_order(spark):
    rows = [
        (1, "one two"),                                         # too_short
        (2, "!!! ??? ... " * 8),                                # low_alpha (and short tokens ok: 24 tokens)
        (3, "spam spam spam spam spam spam spam spam spam spam spam x"),  # dup_words
        (4, "the cat sat on the mat with a dog and a bird near the house today fine"),  # keep
        (5, "der hund und die katze sind nicht ein haus aber wir gehen heute"),  # lang=de
    ]
    out = (
        tx.quality_gate(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_tokens=5, max_dup_word_bp=5000, max_top_bigram_bp=6000,
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[1, "reason"] == "too_short" and not out.loc[1, "keep"]
    assert out.loc[2, "reason"] == "low_alpha"
    assert out.loc[3, "reason"] == "dup_words"
    assert out.loc[4, "reason"] == "keep" and bool(out.loc[4, "keep"])
    assert out.loc[5, "reason"] == "lang" and out.loc[5, "lang_pred"] == "de"


def test_pack_sequences_bins_respect_budget(spark):
    from lazy_frame_spark.operators.packing import bin_stats, pack_sequences

    rows = [(i, " ".join(["tok"] * (10 + i % 13))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(df, budget_tokens=100)
    pdf = packed.toPandas().sort_values("doc_id")
    # offsets are the exclusive prefix sum in doc_id order
    import numpy as np

    toks = pdf["n_tokens"].to_numpy()
    assert (pdf["start_offset"].to_numpy() == np.concatenate([[0], toks.cumsum()[:-1]])).all()
    assert (pdf["bin_id"].to_numpy() == pdf["start_offset"].to_numpy() // 100).all()
    # bins are contiguous doc ranges and fill to budget + <1 doc overflow
    stats = bin_stats(packed, budget_tokens=100).toPandas()
    assert (stats["n_tokens"] <= 100 + toks.max()).all()
    full = stats[stats["bin_id"] < stats["bin_id"].max()]
    assert (full["n_tokens"] >= 100 - toks.max() + 1).all()


def test_prefix_sum_invariant_to_buckets(spark, sf_dir):
    from lazy_frame_spark.rowid import with_prefix_sum

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    ).withColumn("v", (F.col("o_totalprice") * 100).cast("bigint"))
    base = None
    for b in (1, 7, 32):
        out = (
            with_prefix_sum(df, "v", ["o_orderkey"], col="run", num_buckets=b)
            .select("o_orderkey", "run").orderBy("o_orderkey").toPandas()
        )
        if base is None:
            base = out
        else:
            assert out.equals(base), f"bucket count {b} changed prefix sums"
    assert base["run"].iloc[-1] == df.agg(F.sum("v")).collect()[0][0]


def test_chunk_documents_overlap_and_short_docs(spark):
    from lazy_frame_spark.operators.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, words), (2, "just three words")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_tokens=10, stride=5)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: starts 0,5,10,15,20 -> 5 chunks; last has 5 tokens
    assert sorted(c for d, c in rows if d == 1) == [0, 1, 2, 3, 4]
    assert rows[(1, 0)]["chunk_text"].split() == [f"w{i}" for i in range(10)]
    assert rows[(1, 1)]["chunk_text"].split() == [f"w{i}" for i in range(5, 15)]
    assert rows[(1, 4)]["n_chunk_tokens"] == 5
    # short doc -> exactly one whole-doc chunk
    assert sorted(c for d, c in rows if d == 2) == [0]
    assert rows[(2, 0)]["chunk_text"] == "just three words"
    # every token of doc 1 is covered by the non-overlap positions
    covered = [
        t for c in range(0, 5)
        for t in rows[(1, c)]["chunk_text"].split()[: 5 if c < 4 else 10]
    ]
    assert covered == [f"w{i}" for i in range(25)]


def test_vocabulary_ranks_and_coverage(spark):
    from lazy_frame_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b z")], "doc_id long, text string"
    )
    out = vocabulary(df, top_k=3).collect()
    assert [r["token"] for r in out] == ["a", "b", "c"]  # c before z: tie by token
    assert [r["n_occurrences"] for r in out] == [4, 3, 1]
    assert [r["rank"] for r in out] == [1, 2, 3]
    # coverage over 9 total tokens: 4/9, 7/9, 8/9 in floor basis points
    assert [r["coverage_bp"] for r in out] == [4444, 7777, 8888]


def test_bigram_lm_counts_and_vocab(spark):
    from lazy_frame_spark.operators.lm import bigram_lm

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "solo")],
        "doc_id long, text string",
    )
    c12, c1, vocab = bigram_lm(ref)
    counts = {r["bigram"]: r["c12"] for r in c12.collect()}
    # "solo" has one token -> contributes no bigrams
    assert counts == {"the cat": 2, "cat sat": 1, "cat ran": 1}
    lefts = {r["w1"]: r["c1"] for r in c1.collect()}
    assert lefts == {"the": 2, "cat": 2}
    assert vocab.collect()[0]["v"] == 5  # the cat sat ran solo


def test_perplexity_scores_closed_form(spark):
    import math

    from lazy_frame_spark.operators.lm import perplexity_scores

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "the cat"), (11, "dog house"), (12, "one")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in perplexity_scores(docs, ref).collect()}
    # V=4 (the cat sat ran), alpha=0.5
    # doc 10: bigram "the cat": c12=2, c1("the")=2 -> P=(2.5)/(2+2)=0.625
    assert out[10]["n_bigrams"] == 1
    assert out[10]["avg_nlp"] == round(-math.log10(2.5 / 4.0), 3)
    # doc 11: unseen bigram, unseen left word -> P = 0.5/(0.5*4) = 1/4
    assert out[11]["avg_nlp"] == round(-math.log10(0.5 / 2.0), 3)
    # doc 12: single token -> no bigrams, excluded
    assert 12 not in out


def test_perplexity_filter_and_broadcast_plan(spark):
    from lazy_frame_spark.operators.lm import perplexity_filter, perplexity_scores

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "the cat"), (11, "zz yy xx ww")], "doc_id long, text string"
    )
    kept = perplexity_filter(docs, ref, max_avg_nlp=0.3).collect()
    assert [r["doc_id"] for r in kept] == [10]  # gibberish doc dropped
    # the scoring joins must be broadcast: the exploded candidate side
    # never shuffles when broadcast_lm=True (the 100 TB-dominant term)
    plan = perplexity_scores(docs, ref)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_train_logreg_recovers_planted_rule(spark):
    """The Catalyst-aggregate trainer must recover a linearly-separable
    planted rule (holdout accuracy 1.0, loss well below chance), score
    identically through logreg_score's literal-weight inference, guard
    divergence with an actionable error, and refuse empty input."""
    import math

    from lazy_frame_spark.operators import classifier as clf

    df = spark.range(0, 1200).select(
        F.col("id"),
        (F.col("id") % 97).cast("double").alias("x1"),
        ((F.col("id") * 31) % 89).cast("double").alias("x2"),
    ).withColumn("y", (F.col("x1") - F.col("x2") > 0).cast("int"))
    train = df.filter(F.col("id") % 4 != 0)
    test = df.filter(F.col("id") % 4 == 0)
    m = clf.train_logreg(train, ["x1", "x2"], "y", iters=80, lr=3.0)
    assert m["loss"] < 0.2 < math.log(2.0)
    assert m["n_rows"] == train.count()
    # the planted rule is x1 - x2 > 0: opposite-signed weights
    assert m["weights"][0] > 0 > m["weights"][1]
    sc = clf.logreg_score(test, m)
    acc = sc.agg(F.avg(
        (F.col("keep").cast("int") == F.col("y")).cast("double"))).first()[0]
    assert acc >= 0.97  # boundary rows (x1 ~ x2) eat the last point
    # inference is plan-literal: no Python evaluation nodes
    plan = sc._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # divergence raises with the lr in the message
    import pytest

    with pytest.raises(ArithmeticError, match="lr"):
        clf.train_logreg(train, ["x1", "x2"], "y", iters=30, lr=1e6,
                         standardize=False)
    with pytest.raises(ValueError, match="no labeled rows"):
        clf.train_logreg(train.filter("id < 0"), ["x1"], "y")
    # train_max_rows bounds the fit sample
    m2 = clf.train_logreg(train, ["x1", "x2"], "y", iters=20, lr=3.0,
                          train_max_rows=200)
    assert m2["n_rows"] <= 260  # sampled down (Bernoulli, ~200 +- noise)


def test_blocked_fuzzy_pairs_recall_and_plan(spark):
    from lazy_frame_spark.operators.linkage import blocked_fuzzy_pairs

    a = spark.createDataFrame(
        [(1, "alpha", 0), (2, "bravo", 0), (3, "delta", 1)],
        "a_id long, a_name string, block long",
    )
    b = spark.createDataFrame(
        [(10, "alphx", 0), (20, "bravo", 0), (30, "omega", 1)],
        "b_id long, b_name string, block long",
    )
    out = blocked_fuzzy_pairs(
        a, b, "block", text=("a_name", "b_name"), ids=("a_id", "b_id")
    )
    pairs = {(r["a_id"], r["b_id"]): r["distance"] for r in out.collect()}
    assert pairs == {(1, 10): 1, (2, 20): 0}  # omega too far from delta
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_edit_distance_pairs_exact_recall_vs_bruteforce(spark):
    """edit_distance_pairs must find EVERY pair within the distance —
    the prefix-filter + short-band union is brute-force-pinned on
    randomized small-alphabet strings (the adversarial regime: dense
    near-neighborhoods, many strings below the prefix theorem's length
    floor, duplicate grams)."""
    import itertools
    import random

    from lazy_frame_spark.operators.linkage import edit_distance_pairs

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    rng = random.Random(11)
    strs = [""] + ["".join(rng.choice("ab") for _ in range(rng.randint(1, 7)))
                   for _ in range(60)]
    rows = [(i, s) for i, s in enumerate(strs)]
    a = spark.createDataFrame(rows, "id_a long, s_a string")
    b = spark.createDataFrame(rows, "id_b long, s_b string")
    for k, q in ((1, 3), (2, 3), (1, 2), (0, 3)):
        got = {
            (r["id_a"], r["id_b"]): r["distance"]
            for r in edit_distance_pairs(
                a, b, ("s_a", "s_b"), ("id_a", "id_b"),
                max_distance=k, q=q, antisymmetric=True,
            ).collect()
        }
        want = {
            (i, j): lev(strs[i], strs[j])
            for i, j in itertools.combinations(range(len(strs)), 2)
            if lev(strs[i], strs[j]) <= k
        }
        assert got == want, (k, q, set(want) - set(got), set(got) - set(want))


def test_edit_distance_pairs_unicode_and_awkward_names(spark):
    """Multi-byte text (CJK/emoji/combining marks) through the padded
    gram SQL, plus a space-containing text column name (the quoting
    path) — recall stays brute-force-exact."""
    import itertools
    import random

    from lazy_frame_spark.operators.linkage import edit_distance_pairs

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    rng = random.Random(7)
    alphabet = "日本語héø🙂x"
    strs = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 6)))
            for _ in range(40)]
    rows = [(i, s) for i, s in enumerate(strs)]
    a = spark.createDataFrame(rows, "id_a long, `left name` string")
    b = spark.createDataFrame(rows, "id_b long, `right name` string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in edit_distance_pairs(
            a, b, ("left name", "right name"), ("id_a", "id_b"),
            max_distance=2, antisymmetric=True,
        ).collect()
    }
    want = {
        (i, j): lev(strs[i], strs[j])
        for i, j in itertools.combinations(range(len(strs)), 2)
        if lev(strs[i], strs[j]) <= 2
    }
    assert got == want, (set(want) - set(got), set(got) - set(want))


def test_edit_distance_pairs_plan_and_hot_prefix(spark):
    """Entity-id shaped names (a hot shared prefix in every row) must
    stay an equi-join plan — the rare-first prefix ordering keeps the
    boilerplate grams out of the join."""
    from lazy_frame_spark.operators.linkage import edit_distance_pairs

    rows = [(i, f"Customer#{i:09d}") for i in range(300)]
    a = spark.createDataFrame(rows, "id_a long, s_a string")
    b = spark.createDataFrame(rows, "id_b long, s_b string")
    out = edit_distance_pairs(a, b, ("s_a", "s_b"), ("id_a", "id_b"),
                              max_distance=1, antisymmetric=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # ids 0-9 differ from each other in exactly the last digit
    for i in range(10):
        for j in range(i + 1, 10):
            assert (i, j) in got
    assert (0, 11) not in got  # two digits apart


def test_multi_pass_blocking_recovers_cross_block_pair(spark):
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators.linkage import multi_pass_pairs

    # "smith" vs "smitt": same prefix block but DIFFERENT suffix block —
    # a suffix-only pass misses it, prefix+suffix passes together find it
    mk = lambda rows, pre: spark.createDataFrame(  # noqa: E731
        rows, f"{pre}_id long, {pre}_name string"
    ).select(
        "*",
        F.substring(f"{pre}_name", 1, 2).alias("pre2"),
        F.substring(f"{pre}_name", -2, 2).alias("suf2"),
    )
    a = mk([(1, "smith")], "a")
    b = mk([(9, "smitt")], "b")
    one = multi_pass_pairs(a, b, ["suf2"], ("a_name", "b_name"), ("a_id", "b_id"))
    assert one.count() == 0
    both = multi_pass_pairs(
        a, b, ["suf2", "pre2"], ("a_name", "b_name"), ("a_id", "b_id")
    )
    assert [(r["a_id"], r["b_id"], r["distance"]) for r in both.collect()] == [(1, 9, 1)]


def test_pagerank_hand_computed_and_mass_conserved(spark):
    from lazy_frame_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "C")], "src string, dst string"
    )
    # one iteration, hand-computed (C dangling, N=3, d=0.85):
    # r1(A)=.05+.85*(1/3+1/9), r1(B)=r1(C)=.05+.85*(1/6+1/9)
    r1 = {r["node"]: r["rank"] for r in pagerank(e, iters=1, round_to=6).collect()}
    assert r1 == {"A": 0.427778, "B": 0.286111, "C": 0.286111}
    # weighted, more iterations (checkpointed): mass still sums to 1
    ew = spark.createDataFrame(
        [("A", "B", 3.0), ("B", "A", 1.0), ("A", "C", 1.0)],
        "src string, dst string, w double",
    )
    ranks = pagerank(ew, weight="w", iters=4, checkpoint_every=2).collect()
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-9
    # weighted split: A sends 3/4 of its mass to B, 1/4 to C
    r1w = {r["node"]: r["rank"] for r in pagerank(ew, weight="w", iters=1).collect()}
    assert abs(r1w["B"] - (0.05 + 0.85 * (0.25 + 1 / 9))) < 1e-9
    assert r1w["B"] > r1w["C"]


def test_scd2_from_changes_runs_and_intervals(spark):
    from lazy_frame_spark.operators.cdc import scd2_from_changes

    ch = spark.createDataFrame(
        [
            (1, "O", 1, 101), (1, "O", 2, 102), (1, "F", 3, 103), (1, "O", 5, 104),
            (2, "F", 4, 201),
        ],
        "k long, status string, day long, seq long",
    )
    out = scd2_from_changes(ch, "k", ["status"], order_by=["day", "seq"])
    rows = sorted(
        ((r["k"], r["status"], r["valid_from"], r["valid_to"], r["is_current"])
         for r in out.collect())
    )
    assert rows == [
        (1, "F", 3, 5, False),   # middle run closed by the next change
        (1, "O", 1, 3, False),   # consecutive duplicate day2 collapsed
        (1, "O", 5, None, True),  # same status can reopen a new run later
        (2, "F", 4, None, True),
    ]
    # both windows share one exchange on the entity key (AQE's string
    # repeats the pre-adaptive plan under "Initial Plan" — count only
    # the final section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_scd2_apply_batch_touches_only_affected_keys(spark):
    from lazy_frame_spark.operators.cdc import scd2_apply_batch, scd2_from_changes

    hist = scd2_from_changes(
        spark.createDataFrame(
            [(1, "O", 1), (1, "F", 3), (2, "O", 2)], "k long, status string, day long"
        ),
        "k", ["status"], order_by=["day"],
    )
    batch = spark.createDataFrame(
        [(1, "X", 7), (3, "O", 6)], "k long, status string, day long"
    )
    out = scd2_apply_batch(hist, batch, "k", ["status"], order_by=["day"])
    rows = sorted(
        ((r["k"], r["status"], r["valid_from"], r["valid_to"], r["is_current"])
         for r in out.collect())
    )
    assert rows == [
        (1, "F", 3, 7, False),    # open interval closed by the batch
        (1, "O", 1, 3, False),
        (1, "X", 7, None, True),  # new current run
        (2, "O", 2, None, True),  # untouched key passes through
        (3, "O", 6, None, True),  # brand-new key
    ]
    # idempotent: replaying the same batch changes nothing
    again = scd2_apply_batch(out, batch, "k", ["status"], order_by=["day"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_reservoir_per_group_deterministic_k_rows(spark):
    from lazy_frame_spark.operators.sampling import reservoir_per_group

    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("g")
    )
    a = reservoir_per_group(df, "g", k=5, id_cols=["id"], seed=1)
    rows = a.collect()
    assert len(rows) == 15
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append(r["id"])
    assert all(len(v) == 5 for v in by_g.values())
    assert all(r["id"] % 3 == r["g"] for r in rows)  # sample ⊆ its stratum
    # same seed → identical sample; different seed → different sample
    b = {tuple(sorted(r["id"] for r in reservoir_per_group(
        df, "g", k=5, id_cols=["id"], seed=s).collect())) for s in (1, 1, 2)}
    assert len(b) == 2


def test_z_value_matches_python_interleave(spark):
    from lazy_frame_spark.operators.layout import z_value

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 700, 1023) for y in (0, 3, 512, 1023)],
        "x long, y long",
    )
    out = df.select("x", "y", z_value(["x", "y"], bits=10).alias("z")).collect()

    def morton(x, y):
        return sum(((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
                   for i in range(10))

    for r in out:
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_layout_clusters_both_dims(spark, tmp_path):
    import pyarrow.parquet as pq

    from lazy_frame_spark.operators.layout import zorder_layout

    # 64x64 grid of points, written z-ordered into 8 files: every file
    # must cover a SMALL span in BOTH dims (single-column sorting gives
    # full-span ~63 on the other dim for every file)
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "zorder")
    zorder_layout(df, ["x", "y"], bits=6, num_partitions=8).write.parquet(path)

    import glob

    spans = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).path: i for i in range(md.num_columns)}
        lo = {c: min(md.row_group(g).column(names[c]).statistics.min
                     for g in range(md.num_row_groups)) for c in ("x", "y")}
        hi = {c: max(md.row_group(g).column(names[c]).statistics.max
                     for g in range(md.num_row_groups)) for c in ("x", "y")}
        spans.append(((hi["x"] - lo["x"] + 1) * (hi["y"] - lo["y"] + 1)))
    assert len(spans) == 8
    # total covered area across files ≈ the grid, not 8 full copies of it:
    # allow 2x for boundary-straddling files vs 8x4096 for unclustered
    assert sum(spans) <= 2 * 4096, spans


def test_merge_candidates_wordpiece_scores(spark):
    """Hand-computed WordPiece scores: 'new york' appears 3x with
    count(new)=3, count(york)=3 -> 3/(3*3); 'the cat' 2x with
    count(the)=3, count(cat)=2 -> 2/(3*2)."""
    rows = [
        (1, "new york new york the cat"),
        (2, "new york the cat the dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["lhs"], r["rhs"]): (r["pair_count"], r["score_x1e8"])
        for r in tx.merge_candidates(df, top_k=50, min_pair_count=2).collect()
    }
    assert got[("new", "york")] == (3, int(3 * 1e8 / 9))
    assert got[("the", "cat")] == (2, int(2 * 1e8 / 6))
    # singleton pairs pruned by min_pair_count
    assert ("the", "dog") not in got


def test_merge_candidates_ranking_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c d c d")], "doc_id long, text string"
    )
    rows = tx.merge_candidates(df, top_k=10, min_pair_count=1).collect()
    scores = [r["score_x1e8"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hard_negatives_picks_closest_other_label(spark):
    rows = [
        (0, [1.0, 0.0], 0),     # anchor, label 0
        (1, [0.99, 0.1], 0),    # same label: excluded however close
        (2, [0.9, 0.2], 1),     # closest different-label
        (3, [0.0, 1.0], 1),     # orthogonal
        (4, [-1.0, 0.0], 2),    # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = sim.hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    ids = [r["neg_id"] for r in sorted(got, key=lambda r: -r["cos_sim"])]
    assert ids == [2, 3]
    assert all(r["neg_label"] != 0 for r in got)


def test_hard_negatives_plan_broadcasts_anchors(spark):
    rows = [(i, [float(i), 1.0], i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sim.hard_negatives(df, df.filter("vec_id < 3"), k=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_audio_spectral_features_pure_and_mixed_tones(spark):
    """A bin-aligned pure tone's dominant bin is exact; a two-tone mix's
    centroid lands between the tones, weighted by amplitude."""
    import io
    import wave

    import numpy as np

    def wav_of(x):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(np.round(x).astype("<i2").tobytes())
        return buf.getvalue()

    t = np.arange(800) / 8000.0
    pure = wav_of(16384 * np.sin(2 * np.pi * 500 * t))
    # 1000 Hz at 3x the amplitude of 2000 Hz -> centroid = 1250 Hz
    mix = wav_of(12000 * np.sin(2 * np.pi * 1000 * t) + 4000 * np.sin(2 * np.pi * 2000 * t))
    df = spark.createDataFrame([(1, pure), (2, mix)], "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in mm.audio_spectral_features(df).collect()}
    assert got[1]["dominant_hz"] == 500
    assert got[1]["centroid_hz10"] == 500
    assert got[2]["dominant_hz"] == 1000
    assert got[2]["centroid_hz10"] == 1250


def test_paragraph_dedup_first_occurrence_wins(spark):
    """A paragraph repeated across (and within) docs survives only at its
    globally-first position; whitespace-only paragraphs never hash."""
    footer = "all rights reserved"
    rows = [
        (1, "intro one\n\n" + footer + "\n\nbody one"),
        (2, footer + "\n\nbody two"),              # leading repeat cut
        (3, "body three\n\n\n\n" + footer),        # multi-blank split, repeat cut
        (4, footer),                               # whole doc is the repeat
        (5, "  \n\nunique five"),                  # blank para dropped, text kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in dd.paragraph_dedup(df).collect()}
    assert got[1] == "intro one\n\n" + footer + "\n\nbody one"
    assert got[2] == "body two"
    assert got[3] == "body three"
    assert got[4] == ""
    assert got[5] == "unique five"


def test_paragraph_dedup_order_preserved(spark):
    df = spark.createDataFrame(
        [(1, "pa\n\npb\n\npc"), (2, "px\n\npb\n\npy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in dd.paragraph_dedup(df).collect()}
    assert got[1] == "pa\n\npb\n\npc"
    assert got[2] == "px\n\npy"


def test_chunk_dedup_packing_guard_fires(spark):
    """The id*2^32+pos packing-domain guard must actually RAISE for
    out-of-domain ids (it is folded into the consumed __pk__ expression;
    a projected-then-dropped guard column gets pruned by Catalyst and
    raises nothing)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(-1, "a0 a1 a2 a3 a4")], "doc_id long, text string"
    )
    with pytest.raises(SparkRuntimeException, match="packing domain"):
        dd.chunk_dedup(df, chunk_tokens=5).collect()

    big = spark.createDataFrame(
        [(1 << 31, "b0 b1 b2 b3 b4")], "doc_id long, text string"
    )
    with pytest.raises(SparkRuntimeException, match="packing domain"):
        dd.chunk_dedup(big, chunk_tokens=5).collect()


def test_png_16bit_roundtrip_all_filters():
    """16-bit PNG closes a round-3 documented gap: uint16 gray and RGBA
    arrays round-trip bit-exactly through all five scanline filters
    (filters run on the big-endian byte expansion with doubled bpp)."""
    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for shape in [(11, 5), (9, 4, 3), (7, 6, 4), (6, 3, 2)]:
        px = rng.integers(0, 65536, size=shape, dtype=np.uint16)
        back = decode_png(encode_png(px, cycle_filters=True))
        want = px[:, :, None] if px.ndim == 2 else px
        assert back.dtype == np.uint16
        assert np.array_equal(back, want), shape
    # 8-bit path unchanged
    px8 = rng.integers(0, 256, size=(10, 8, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px8)), px8)


def _encode_png_adam7(px):
    """Test-side Adam7 encoder (filter 0 throughout): serialize the 7
    passes in spec order so decode_png's interlaced path is exercised
    against a ground-truth image."""
    import struct as st
    import zlib

    import numpy as np

    from lazy_frame_spark.operators.multimodal import _ADAM7

    if px.ndim == 2:
        px = px[:, :, None]
    h, w, channels = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    raw = bytearray()
    for xs, ys, xstep, ystep in _ADAM7:
        sub = px[ys::ystep, xs::xstep]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            raw.append(0)
            raw.extend(sub[y].reshape(-1).tobytes())

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return st.pack(">I", len(body)) + ctype + body + st.pack(">I", crc)

    ihdr = st.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)  # interlace=1
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_adam7_interlaced_decode():
    """Adam7 decode: every pass scatters onto the right lattice — decode
    of a 7-pass interlaced image equals the original, for dimensions
    that exercise empty and partial passes (1x1 up to 13x11 RGBA)."""
    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(11)
    for shape in [(1, 1), (3, 2), (8, 8, 3), (13, 11, 4), (5, 9, 2)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = decode_png(_encode_png_adam7(px))
        want = px[:, :, None] if px.ndim == 2 else px
        assert np.array_equal(got, want), shape


def test_bmp_rle8_decode():
    """BI_RLE8 BMP: runs, absolute mode (with word padding), EOL, delta
    skip and EOB all reconstruct against a hand-built reference image."""
    import struct as st

    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_pixels

    w, h = 7, 3
    # palette: index i -> (i, 2*i, 3*i)
    pal = b"".join(bytes([3 * i & 255, 2 * i & 255, i, 0]) for i in range(256))
    # stored bottom-up: build the three stored rows via RLE ops
    rle = bytearray()
    rle += bytes([7, 5, 0, 0])                   # row 0: run of 7 x idx5, EOL
    rle += bytes([2, 1, 0, 3, 9, 8, 7, 0, 2, 2, 0, 0])
    #              run 2x1 | abs mode 3 (9,8,7) + pad | run 2x2, EOL
    rle += bytes([3, 4, 0, 2, 2, 0, 0, 1])       # row 2: run 3x4, delta skip(2,0), EOB
    off = 14 + 40 + len(pal)
    hdr = (b"BM" + st.pack("<IHHI", off + len(rle), 0, 0, off)
           + st.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle), 0, 0, 256, 0))
    blob = hdr + pal + bytes(rle)

    px = decode_pixels(blob)
    assert px.shape == (h, w, 3)
    idx = np.zeros((h, w), dtype=int)
    idx[2] = 5                                   # stored row 0 = visual bottom
    idx[1] = [1, 1, 9, 8, 7, 2, 2]
    idx[0] = [4, 4, 4, 0, 0, 0, 0]               # delta leaves zeros
    want = np.stack([idx & 255, (2 * idx) & 255, (3 * idx) & 255], axis=-1)
    assert np.array_equal(px, want)


def test_netpbm_16bit_decode():
    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_pixels

    rng = np.random.default_rng(3)
    px = rng.integers(0, 65536, size=(4, 5, 3), dtype=np.uint16)
    blob = b"P6\n5 4\n65535\n" + px.astype(">u2").tobytes()
    got = decode_pixels(blob)
    assert got.dtype == np.uint16
    assert np.array_equal(got, px)
    gray = rng.integers(0, 65536, size=(3, 2), dtype=np.uint16)
    blob5 = b"P5\n2 3\n65535\n" + gray.astype(">u2").tobytes()
    assert np.array_equal(decode_pixels(blob5)[:, :, 0], gray)


def test_bmp_rle4_decode():
    """BI_RLE4: alternating-nibble runs, odd-length absolute mode with
    word padding, EOL and EOB against a hand-built reference."""
    import struct as st

    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_pixels

    w, h = 6, 2
    pal = b"".join(bytes([3 * i, 2 * i, i, 0]) for i in range(16))
    rle = bytearray()
    rle += bytes([5, 0x12, 0, 0])            # run 5 alternating 1,2 -> 1,2,1,2,1; EOL
    rle += bytes([0, 3, 0x45, 0x60, 0, 0])   # abs mode: 3 nibbles 4,5,6 + pad; EOL
    rle += bytes([0, 1])                     # EOB
    off = 14 + 40 + len(pal)
    hdr = (b"BM" + st.pack("<IHHI", off + len(rle), 0, 0, off)
           + st.pack("<IiiHHIIiiII", 40, w, h, 1, 4, 2, len(rle), 0, 0, 16, 0))
    px = decode_pixels(hdr + pal + bytes(rle))
    assert px.shape == (h, w, 3)
    idx = np.zeros((h, w), dtype=int)
    idx[1] = [1, 2, 1, 2, 1, 0]              # stored row 0 = visual bottom
    idx[0] = [4, 5, 6, 0, 0, 0]              # abs nibbles 0x45 0x60 -> 4,5,6
    # palette entry i stored BGRX=(3i,2i,i) -> RGB=(i,2i,3i)
    want = np.stack([idx, 2 * idx, 3 * idx], axis=-1)
    assert np.array_equal(px, want)


def test_bmp_rle_truncated_delta_raises_valueerror():
    """A RLE stream cut off mid-delta-escape raises the decoder's
    ValueError contract, not a raw IndexError from an unguarded
    data[i+1] read."""
    import pytest

    from lazy_frame_spark.operators.multimodal import (
        _bmp_rle4_indices,
        _bmp_rle8_indices,
    )

    # (0,2) announces a delta but the dx,dy bytes are missing
    with pytest.raises(ValueError, match="truncated RLE8"):
        _bmp_rle8_indices(bytes([0, 2]), 4, 4)
    with pytest.raises(ValueError, match="truncated RLE4"):
        _bmp_rle4_indices(bytes([0, 2]), 4, 4)
    # one of the two delta bytes present is still truncated
    with pytest.raises(ValueError, match="truncated RLE8"):
        _bmp_rle8_indices(bytes([2, 7, 0, 2, 1]), 4, 4)


def _encode_png_subbyte(samples, depth, color, plte=None, interlace=0,
                        up_filter_rows=()):
    """Test-side encoder for 1/2/4-bit grayscale (color=0) or palette
    (color=3) PNGs: packs samples MSB-first per scanline (zero-padded),
    filter 0 (or filter 2/Up on the packed bytes for rows listed in
    up_filter_rows — sub-byte filtering operates on packed bytes per
    the spec), sequential or Adam7."""
    import struct as st
    import zlib

    import numpy as np

    from lazy_frame_spark.operators.multimodal import _ADAM7

    h, w = samples.shape

    def pack_rows(grid):
        gh, gw = grid.shape
        bits = np.zeros((gh, gw * depth), dtype=np.uint8)
        for b in range(depth):
            bits[:, b::depth] = (grid >> (depth - 1 - b)) & 1
        stride = (gw * depth + 7) // 8
        padded = np.zeros((gh, stride * 8), dtype=np.uint8)
        padded[:, : gw * depth] = bits
        return np.packbits(padded, axis=1)

    raw = bytearray()
    if interlace == 0:
        rows = pack_rows(samples)
        prev = np.zeros(rows.shape[1], dtype=np.uint8)
        for y in range(h):
            if y in up_filter_rows:
                raw.append(2)
                raw.extend(((rows[y].astype(int) - prev) % 256)
                           .astype(np.uint8).tobytes())
            else:
                raw.append(0)
                raw.extend(rows[y].tobytes())
            prev = rows[y]
    else:
        for xs, ys, xstep, ystep in _ADAM7:
            sub = samples[ys::ystep, xs::xstep]
            if sub.size == 0:
                continue
            rows = pack_rows(sub)
            for y in range(rows.shape[0]):
                raw.append(0)
                raw.extend(rows[y].tobytes())

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return st.pack(">I", len(body)) + ctype + body + st.pack(">I", crc)

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", st.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace))
    if color == 3:
        out += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_subbyte_grayscale_decode():
    """1/2/4-bit grayscale PNGs decode with full-range scaling
    (255/(2^d-1)), including packed-byte Up filtering, odd widths with
    padding bits, and Adam7 interlace."""
    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(5)
    for depth in (1, 2, 4):
        maxv = (1 << depth) - 1
        for shape in [(3, 7), (5, 13), (1, 1), (8, 8)]:
            s = rng.integers(0, maxv + 1, size=shape, dtype=np.uint8)
            blob = _encode_png_subbyte(s, depth, color=0,
                                       up_filter_rows={1, 3})
            got = decode_png(blob)
            want = (s * (255 // maxv)).astype(np.uint8)[:, :, None]
            assert np.array_equal(got, want), (depth, shape)
            # Adam7 variant of the same image
            got7 = decode_png(_encode_png_subbyte(s, depth, color=0,
                                                  interlace=1))
            assert np.array_equal(got7, want), (depth, shape, "adam7")


def test_png_subbyte_palette_decode():
    """2/4-bit palette PNGs decode through PLTE lookup (no gray
    scaling) — sequential and Adam7."""
    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(9)
    for depth in (1, 2, 4):
        n = 1 << depth
        plte = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        s = rng.integers(0, n, size=(6, 11), dtype=np.uint8)
        got = decode_png(_encode_png_subbyte(s, depth, color=3, plte=plte))
        assert np.array_equal(got, plte[s]), depth
        got7 = decode_png(_encode_png_subbyte(s, depth, color=3, plte=plte,
                                              interlace=1))
        assert np.array_equal(got7, plte[s]), (depth, "adam7")


def test_png_subbyte_rgb_still_rejected():
    """Sub-byte depth with a truecolor color type is spec-illegal and
    must raise, not mis-decode."""
    import numpy as np
    import pytest

    from lazy_frame_spark.operators.multimodal import decode_png

    s = np.zeros((2, 2), dtype=np.uint8)
    blob = _encode_png_subbyte(s, 4, color=0)
    # corrupt the color type byte inside IHDR (offset: 8 sig + 8 hdr + 9)
    bad = bytearray(blob)
    bad[8 + 8 + 9] = 2  # truecolor
    with pytest.raises(ValueError, match="sub-byte"):
        decode_png(bytes(bad))


def test_quantize_int8_roundtrip_error_bound(spark, sf_dir):
    """Quantize -> dequantize must satisfy the per-dimension error
    bound |v - c*scale| <= scale/2, codes stay in [-127, 127], and
    all-zero vectors quantize to zeros with a nonzero scale."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    q = sim.dequantize_int8(sim.quantize_int8(e), out_col="back")
    rows = q.select("embedding", "q_codes", "q_scale", "back").collect()
    assert rows
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        c = np.asarray(r["q_codes"], dtype=np.int64)
        back = np.asarray(r["back"], dtype=np.float64)
        assert c.min() >= -127 and c.max() <= 127
        assert np.all(np.abs(v - back) <= r["q_scale"] / 2 + 1e-12)

    z = spark.createDataFrame([(1, [0.0, 0.0, 0.0])],
                              "vec_id long, embedding array<double>")
    zr = sim.quantize_int8(z).collect()[0]
    assert list(zr["q_codes"]) == [0, 0, 0] and zr["q_scale"] > 0


def test_cosine_topk_int8_close_to_full_precision(spark, sf_dir):
    """The quantized ranking must agree with full precision on at
    least 8 of the top 10 (64-dim int8 quantization distorts cosine by
    well under 1e-2), and its plan must stay TakeOrderedAndProject
    with zero Python nodes."""
    from lazy_frame_spark.operators import similarity as sim
    from lazy_frame_spark.plans import executed_plan, has_take_ordered

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = e.filter("vec_id = 0").select("embedding").collect()[0][0]
    full = [r["vec_id"] for r in sim.cosine_topk(e, qv, k=10).collect()]
    quant_df = sim.cosine_topk_int8(e, qv, k=10)
    quant = [r["vec_id"] for r in quant_df.collect()]
    assert len(set(full) & set(quant)) >= 8, (full, quant)
    assert quant[0] == 0  # the query vector itself still ranks first
    assert has_take_ordered(quant_df)
    assert "Python" not in executed_plan(quant_df)
    # the production path (pre-quantized code store) returns the exact
    # same ranking as inline quantization
    pre = sim.quantize_int8(e)
    got_pre = [(r["vec_id"], r["cos_sim_q"]) for r in
               sim.cosine_topk_int8(pre, qv, k=10, pre_quantized=True).collect()]
    got_inline = [(r["vec_id"], r["cos_sim_q"]) for r in quant_df.collect()]
    assert got_pre == got_inline


def _bmp_header(w, h, bits, comp, body, masks=b"", hdr_size=40):
    import struct as st

    # hdr_size 40: masks (if any) FOLLOW the header; hdr_size > 40
    # (V2/V3-style): the mask bytes are PART of the declared header size
    off = 14 + hdr_size + (len(masks) if hdr_size == 40 else 0)
    if hdr_size > 40:
        assert hdr_size == 40 + len(masks)
    return (b"BM" + st.pack("<IHHI", off + len(body), 0, 0, off)
            + st.pack("<IiiHHIIiiII", hdr_size, w, h, 1, bits, comp,
                      len(body), 0, 0, 0, 0)
            + masks + body)


def test_bmp_bitfields_565_and_555_decode():
    """BI_BITFIELDS 16bpp RGB565 masks and the comp=0 default XRGB555
    both decode with round-half-up channel scaling (equals bit
    replication for 5/6-bit widths) and bottom-up row order."""
    import struct as st

    import numpy as np

    from lazy_frame_spark.operators.multimodal import decode_pixels

    # --- RGB565 via explicit masks: pixels chosen to hit channel maxes
    # (r,g,b) 5/6/5-bit fields; w=3 -> stride 8 (2 pad bytes per row)
    def px565(r, g, b):
        return (r << 11) | (g << 5) | b

    rows = [
        [px565(31, 0, 0), px565(0, 63, 0), px565(0, 0, 31)],   # visual bottom
        [px565(16, 32, 8), px565(0, 0, 0), px565(31, 63, 31)],  # visual top
    ]
    body = bytearray()
    for r in rows:
        for p in r:
            body += st.pack("<H", p)
        body += b"\x00\x00"  # stride padding
    masks = st.pack("<III", 0xF800, 0x07E0, 0x001F)
    got = decode_pixels(_bmp_header(3, 2, 16, 3, bytes(body), masks))
    assert got.shape == (2, 3, 3)
    # scale: 5-bit v -> (v*255+15)//31, 6-bit v -> (v*255+31)//63
    assert list(got[1, 0]) == [255, 0, 0]
    assert list(got[1, 1]) == [0, 255, 0]
    assert list(got[1, 2]) == [0, 0, 255]
    assert list(got[0, 0]) == [(16 * 255 + 15) // 31, (32 * 255 + 31) // 63,
                               (8 * 255 + 15) // 31]
    assert list(got[0, 2]) == [255, 255, 255]

    # --- comp=0 16bpp defaults to XRGB555
    p555 = (31 << 10) | (16 << 5) | 1
    body5 = st.pack("<H", p555) + b"\x00\x00"
    got5 = decode_pixels(_bmp_header(1, 1, 16, 0, body5))
    assert list(got5[0, 0]) == [255, (16 * 255 + 15) // 31, (1 * 255 + 15) // 31]


def test_bmp_bitfields_32bpp_with_alpha():
    """32bpp BI_BITFIELDS with a V4-style alpha mask decodes to RGBA;
    a zero mask yields a zero channel; non-contiguous masks raise."""
    import struct as st

    import numpy as np
    import pytest

    from lazy_frame_spark.operators.multimodal import decode_pixels

    # BGRA8888 masks in a 56-byte (V3-style) header carrying alpha
    masks = st.pack("<IIII", 0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000)
    px = (0xAA << 24) | (0x11 << 16) | (0x22 << 8) | 0x33  # a,r,g,b
    body = st.pack("<I", px)
    blob = _bmp_header(1, 1, 32, 3, body, masks, hdr_size=56)
    # hdr_size=56 header: same fixed layout, masks appended at offset 54
    # (the struct above writes 40 header bytes; extend with 16 mask
    # bytes which double as the V3 extension)
    got = decode_pixels(blob)
    assert got.shape == (1, 1, 4)
    assert list(got[0, 0]) == [0x11, 0x22, 0x33, 0xAA]

    badmask = st.pack("<III", 0b101, 0x0000FF00, 0x000000FF)
    with pytest.raises(ValueError, match="non-contiguous"):
        decode_pixels(_bmp_header(1, 1, 16, 3, st.pack("<H", 0) + b"\x00\x00",
                                  badmask))


def test_canonicalize_url_rules(spark):
    """Rule-by-rule canonicalization: case, default ports (scheme-aware
    — :80 on https is NOT default and survives), fragments, tracking
    params, duplicate-param keep-first collapse, param sort, trailing
    slash, empty path, www strip toggle, percent-encoding normalization
    (unreserved decode + hex uppercase, malformed untouched),
    unparseable -> NULL."""
    from lazy_frame_spark.operators.urls import canonicalize_url

    cases = [
        ("HTTP://WWW.Ex.COM:80/A/b/?z=1&utm_source=m&a=2#f",
         "http://ex.com/A/b?a=2&z=1"),
        ("https://Ex.com:443", "https://ex.com/"),
        ("https://ex.com:80/x", "https://ex.com:80/x"),   # non-default port kept
        ("http://ex.com/x/", "http://ex.com/x"),
        ("http://ex.com/?fbclid=1&gclid=2&ref=3", "http://ex.com/"),
        # duplicate names collapse keep-first (b=2 precedes b=1), then sort
        ("http://ex.com/p?b=2&a=1&b=1", "http://ex.com/p?a=1&b=2"),
        ("ftp://Files.Ex.com/Pub/", "ftp://files.ex.com/Pub"),
        # percent normalization: %7E/%7e -> ~, %49 -> I, %41 -> A (so the
        # two spellings of the same URL unify); reserved escapes keep
        # their encoding with uppercased hex (%2f -> %2F); malformed
        # escapes (%zz, trailing %4) pass through untouched
        ("http://ex.com/%7Ealice", "http://ex.com/~alice"),
        ("http://ex.com/%7ealice", "http://ex.com/~alice"),
        ("http://ex.com/%49tems?q=%2fx", "http://ex.com/Items?q=%2Fx"),
        ("http://e%78.com/a", "http://ex.com/a"),   # escape inside host
        # host decodes LOWERCASE (case-insensitive component; an 'A'
        # decoded after lower() ran would break idempotence)
        ("http://e%58.com/a", "http://ex.com/a"),
        ("http://ex.com/%zz/%4", "http://ex.com/%zz/%4"),
        # idempotence guard: an escape directly after an INCOMPLETE
        # escape is NOT decoded — decoding %31 -> '1' after '%4' would
        # synthesize a brand-new %41 that the next pass decodes to 'A'
        # (dedup keys drifting across pipeline stages)
        ("http://ex.com/%4%31", "http://ex.com/%4%31"),
        ("http://ex.com/%4%41", "http://ex.com/%4%41"),
        ("http://ex.com/%%34%31", "http://ex.com/%%341"),
        # ...but an incomplete escape further back does not block: the
        # well-formed %34 tail between them keeps the decode safe
        ("http://ex.com/%4x%31", "http://ex.com/%4x1"),
        # RFC 3986 §5.2.4 dot-segment removal — after percent decode
        # (so /%2E%2E/ is caught), '..' never climbs above root, and
        # dotFILE segments are untouched
        ("http://ex.com/a/./b", "http://ex.com/a/b"),
        ("http://ex.com/a/b/../c", "http://ex.com/a/c"),
        ("http://ex.com/../../a", "http://ex.com/a"),
        ("http://ex.com/a/%2E%2E/b", "http://ex.com/b"),
        ("http://ex.com/a/..", "http://ex.com/"),
        ("http://ex.com/.well-known/x", "http://ex.com/.well-known/x"),
        ("http://ex.com/a//../b", "http://ex.com/a/b"),
        # an escaped 'www.' host prefix decodes, THEN strips (idempotence)
        ("http://%77ww.ex.com/a", "http://ex.com/a"),
        # tracking param spelled with an escape still drops
        ("http://ex.com/?%75tm_source=m&a=1", "http://ex.com/?a=1"),
        ("no scheme here", None),
        ("", None),
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in
           df.select("i", canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)

    # strip_www=False preserves the prefix
    one = spark.createDataFrame([("http://www.ex.com/a",)], "url string")
    kept = one.select(
        canonicalize_url(F.col("url"), strip_www=False).alias("c")).collect()[0]["c"]
    assert kept == "http://www.ex.com/a"


def test_dedup_canonical_url_first_wins_and_nulls_kept_out(spark):
    from lazy_frame_spark.operators.urls import dedup_canonical_url

    rows = [
        (3, "http://a.com/x?b=2&a=1"),
        (1, "HTTP://WWW.A.com:80/x/?a=1&b=2#top"),
        (2, "https://a.com/x?a=1&b=2"),   # different scheme: distinct
        (9, "garbage"),
        (8, "more garbage"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = dedup_canonical_url(df).collect()
    got = {r["canonical_url"]: (r["keep_id"], r["n_dupes"])
           for r in out if r["canonical_url"] is not None}
    assert got == {
        "http://a.com/x?a=1&b=2": (1, 2),   # min doc_id wins the merge
        "https://a.com/x?a=1&b=2": (2, 1),
    }
    # unparseable URLs survive as NULL-canonical singletons — never
    # merged with each other (not evidence of duplication)
    nulls = sorted((r["keep_id"], r["n_dupes"]) for r in out
                   if r["canonical_url"] is None)
    assert nulls == [(8, 1), (9, 1)]


def test_cap_per_group_pre_cut_equals_naive(spark, sf_dir):
    """Property: the skew-safe two-phase cap returns exactly the naive
    single-window result (every global top-n row survives its local
    cut), and no group exceeds the cap."""
    from lazy_frame_spark.operators.mixing import cap_per_group

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fast = cap_per_group(d, ["source"], 7, ["doc_id"], pre_cut=True)
    naive = cap_per_group(d, ["source"], 7, ["doc_id"], pre_cut=False)
    a = {(r["source"], r["doc_id"]) for r in fast.select("source", "doc_id").collect()}
    b = {(r["source"], r["doc_id"]) for r in naive.select("source", "doc_id").collect()}
    assert a == b and a
    import collections
    counts = collections.Counter(s for s, _ in a)
    assert max(counts.values()) <= 7


def test_with_canonical_url_staged_equals_column_form(spark):
    """The staged-projection canonicalizer must produce byte-identical
    results to the single-Column expression form on every rule case."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators.urls import (
        canonicalize_url,
        with_canonical_url,
    )

    urls = [
        "HTTP://WWW.Ex.COM:80/A/b/?z=1&utm_source=m&a=2#f",
        "https://Ex.com:443", "https://ex.com:80/x", "http://ex.com/x/",
        "http://ex.com/?fbclid=1", "http://ex.com/p?b=2&a=1&b=1",
        "ftp://Files.Ex.com/Pub/", "no scheme", "",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i long, url string")
    a = {r["i"]: r["c"] for r in
         df.select("i", canonicalize_url(F.col("url")).alias("c")).collect()}
    b = {r["i"]: r["c"] for r in
         with_canonical_url(df, "url", "c").select("i", "c").collect()}
    assert a == b


def test_model_quality_score_matches_numpy(spark):
    """The Catalyst logistic must match a numpy reference on hand-built
    docs spanning empty, punctuation-heavy, and stopword-rich text, and
    keep must be score >= threshold exactly."""
    import math

    from lazy_frame_spark.operators.text import model_quality_score

    rows = [
        (1, "the cat sat on the mat and that is that"),
        (2, "!!!???;;;...,,,"),
        (3, ""),
        (4, "alpha beta gamma delta epsilon zeta eta theta " * 30),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["model_score"], r["keep"])
           for r in model_quality_score(df).collect()}

    from lazy_frame_spark.operators.text import quality_features
    feats = {r["doc_id"]: r for r in quality_features(df).collect()}
    for doc_id, f in feats.items():
        z = (2.0 * f["alpha_bp"] / 10000.0 + 1.5 * f["stopword_bp"] / 10000.0
             - 3.0 * f["punct_bp"] / 10000.0
             + 0.5 * math.log(1.0 + f["n_tokens"]) - 2.0)
        want = 1.0 / (1.0 + math.exp(-z))
        assert abs(got[doc_id][0] - round(want, 6)) < 1e-9, doc_id
        assert got[doc_id][1] == (want >= 0.5), doc_id
    # the garbage/empty docs score below the real ones
    assert got[2][0] < got[1][0] and got[3][0] < got[1][0]


def test_pq_encode_matches_numpy_and_adc_ranks_query_first(spark, sf_dir):
    """PQ encode must equal a numpy argmin per subspace; ADC must rank
    the query vector itself first (its code distance is the per-
    subspace minimum by construction), and codebook shape errors raise."""
    import numpy as np
    import pytest

    from lazy_frame_spark.operators import similarity as sim

    books = sim.pq_codebooks(dim=64, n_sub=8, k=16, seed=7)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    enc = sim.pq_encode(e, books)
    rows = enc.orderBy("vec_id").limit(20).select("vec_id", "embedding",
                                                  "pq_codes").collect()
    cb = np.array(books)          # (8, 16, 8)
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64).reshape(8, 8)
        want = [int(np.argmin(((cb[s] - v[s]) ** 2).sum(axis=1))) + 1
                for s in range(8)]
        assert list(r["pq_codes"]) == want, r["vec_id"]

    qv = e.filter("vec_id = 0").select("embedding").collect()[0][0]
    top = sim.pq_adc_topk(enc, qv, books, k=5).collect()
    assert top[0]["vec_id"] == 0
    assert all(a["pq_dist"] <= b["pq_dist"] for a, b in zip(top, top[1:]))

    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_codebooks(dim=65, n_sub=8)


def test_pq_encode_arrow_bit_identical_to_catalyst(spark, sf_dir):
    """The Arrow/numpy encode must produce the EXACT codes of the
    Catalyst expression form on the full sf table (same float64
    arithmetic in the same order — not just approximately)."""
    from lazy_frame_spark.operators import similarity as sim

    books = sim.pq_codebooks(dim=64, n_sub=8, k=16, seed=7)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {r["vec_id"]: list(r["pq_codes"])
         for r in sim.pq_encode(e, books).collect()}
    b = {r["vec_id"]: list(r["pq_codes"])
         for r in sim.pq_encode_arrow(e, books).collect()}
    assert a == b and len(a) > 0


def test_bpe_apply_hand_verified(spark):
    """BPE apply against HAND-computed expectations (the parity
    oracle's expected strings are generated from this same encoder, so
    these cases are what actually pin the algorithm): greedy best-RANK
    merge of all occurrences, rank order decides between overlapping
    pairs, unknown characters stay single, empty/None texts behave."""
    from lazy_frame_spark.operators.text import _bpe_word, bpe_apply

    # rank order decides: es before st -> 'est' = [es, t]; reversed ->
    # [e, st]
    assert _bpe_word("est", {("e", "s"): 0, ("s", "t"): 1}) == ["es", "t"]
    assert _bpe_word("est", {("s", "t"): 0, ("e", "s"): 1}) == ["e", "st"]
    # all occurrences of the best pair merge in one step
    assert _bpe_word("lowlow", {("l", "o"): 0, ("lo", "w"): 1}) == \
        ["low", "low"]
    # cascading merges
    r = {("l", "o"): 0, ("lo", "w"): 1, ("e", "s"): 2, ("es", "t"): 3,
         ("low", "est"): 4}
    assert _bpe_word("lowest", r) == ["lowest"]
    assert _bpe_word("xyz", r) == ["x", "y", "z"]
    assert _bpe_word("", r) == []

    df = spark.createDataFrame(
        [(0, "lowest low xyz"), (1, ""), (2, None), (3, "low low low")],
        "doc_id long, text string")
    got = {row["doc_id"]: row["bpe_tokens"]
           for row in bpe_apply(df, list(r)).collect()}
    assert got[0] == ["lowest", "low", "x", "y", "z"]
    assert got[1] == []
    assert got[2] is None
    assert got[3] == ["low", "low", "low"]   # word cache returns copies


def _bpe_train_naive(word_counts, n_merges):
    """Reference trainer twin for the incremental _bpe_train_counts:
    the textbook Sennrich loop — recount EVERY adjacent pair from
    scratch each generation, pick (max count, lexicographically
    smallest pair), merge left-to-right non-overlapping in all words.
    Deliberately O(generations x vocabulary): its only job is to be
    obviously correct."""
    words = [[list(w), int(c)] for w, c in word_counts
             if len(w) > 1 and c > 0]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, c in words:
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + c
        live = [(p, n) for p, n in counts.items() if n > 0]
        if not live:
            break
        best = min(live, key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for wrec in words:
            syms = wrec[0]
            merged, j = [], 0
            while j < len(syms):
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    merged.append(a + b)
                    j += 2
                else:
                    merged.append(syms[j])
                    j += 1
            wrec[0] = merged
    return merges


def test_bpe_train_incremental_equals_naive():
    """The incremental trainer (pair-count deltas + inverted index)
    must produce EXACTLY the merge list of the naive recount-everything
    reference on the same word counts — hand case plus randomized
    corpora exercising ties, overlapping pairs ('aaa'), and singleton
    words."""
    import random

    from lazy_frame_spark.operators.text import _bpe_train_counts

    wc = [("lowest", 5), ("lower", 4), ("low", 7), ("newest", 3),
          ("widest", 2), ("aaa", 6), ("a", 9)]
    for n in (1, 3, 8, 50):
        assert _bpe_train_counts(wc, n) == _bpe_train_naive(wc, n)

    rng = random.Random(7)
    alphabet = "abcde"
    for trial in range(20):
        vocab = {}
        for _ in range(rng.randint(3, 40)):
            w = "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 10)))
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        wc = sorted(vocab.items())
        n = rng.randint(1, 30)
        inc, naive = _bpe_train_counts(wc, n), _bpe_train_naive(wc, n)
        assert inc == naive, (trial, wc, n, inc, naive)


def test_bpe_train_spark_roundtrip(spark):
    """End-to-end train -> apply on a Spark corpus: bpe_train's merge
    list equals the reference Python trainer run on the same word
    counts, applying the trained list reproduces each training word's
    final segmentation (greedy rank-order apply == training state, the
    Sennrich property), and detokenization is lossless."""
    from lazy_frame_spark.operators.text import (
        _bpe_word,
        bpe_apply,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest wide widest",
        "the low road and the wide road",
        "newest newest lowest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = bpe_train(df, n_merges=12, min_count=1, vocab_max_rows=1000)

    # twin: word counts from plain Python on the same corpus
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    assert merges == _bpe_train_naive(sorted(wc.items()), 12)

    # trained-state reproduction: rank-order apply == training segments
    words = {w: [list(w), c] for w, c in sorted(wc.items())}
    for a, b in merges:  # replay training merges over the vocab
        for rec in words.values():
            syms, j, out = rec[0], 0, []
            while j < len(syms):
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            rec[0] = out
    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    for w, (segs, _c) in words.items():
        assert _bpe_word(w, ranks) == segs, w

    # lossless detokenization through the Spark apply path
    got = bpe_apply(df, merges).select("doc_id", "text", "bpe_tokens")
    for r in got.collect():
        assert "".join(r["bpe_tokens"]) == r["text"].replace(" ", "")


def test_with_idn_hosts_rules(spark):
    """IDN host folding: Unicode hosts (any case) fold to punycode,
    punycode and ASCII hosts pass unchanged, ports survive, URLs the
    codec rejects (empty label) or without a scheme pass through, and
    the pass is idempotent. Composed with canonicalization, the three
    spellings of one IDN host share a dedup key."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators.urls import (
        canonicalize_url,
        with_idn_hosts,
    )

    cases = [
        ("http://bücher.example/x", "http://xn--bcher-kva.example/x"),
        ("http://BÜcher.example/x", "http://xn--bcher-kva.example/x"),
        ("https://日本語.jp:8443/a?b=1", "https://xn--wgv71a119e.jp:8443/a?b=1"),
        ("http://xn--bcher-kva.example/x", "http://xn--bcher-kva.example/x"),
        ("http://ascii.example/ü-in-path", "http://ascii.example/ü-in-path"),
        ("http://a..b/ü", "http://a..b/ü"),       # codec rejects: unchanged
        ("no scheme ü here", "no scheme ü here"),
        # userinfo: the host (not 'user') folds; credentials survive
        ("http://user:pw@bücher.example/x",
         "http://user:pw@xn--bcher-kva.example/x"),
        ("ftp://ü@bücher.example:21/f",
         "ftp://ü@xn--bcher-kva.example:21/f"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["url"]
           for r in with_idn_hosts(df, "url").select("i", "url").collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)
    # idempotent
    again = {r["i"]: r["url"]
             for r in with_idn_hosts(
                 with_idn_hosts(df, "url"), "url").select("i", "url").collect()}
    assert again == got
    # composition: all three spellings -> one canonical key
    tri = spark.createDataFrame(
        [(1, "http://MÜnchen.example/d"), (2, "http://münchen.example/d"),
         (3, "http://xn--mnchen-3ya.example/d")], "i long, url string")
    keys = {r["c"] for r in with_idn_hosts(tri, "url").select(
        canonicalize_url(F.col("url")).alias("c")).collect()}
    assert keys == {"http://xn--mnchen-3ya.example/d"}


def test_html_extraction_rules(spark):
    """html_to_text / html_main_text rules: script and style CONTENTS
    vanish (including a fake '</div>' inside a script string), comments
    vanish, entities decode ('&amp;lt;' stays '&lt;' — amp decodes
    last), whitespace collapses, and the link-density heuristic drops
    nav/footer/short blocks while keeping article blocks. Staged and
    Column forms agree."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import text as T

    html = (
        '<html><head><title>T</title><script>var x="</div>";</script>'
        '<style>p{color:red}</style></head><body>'
        '<nav><a href="/">Home</a> <a href="/about">About &amp; more</a></nav>'
        '<div>The   quick brown fox jumps over the lazy dog and keeps'
        ' running far away today.</div>'
        '<div>Short.</div>'
        '<p>Another good paragraph with plenty of visible text &lt;tag&gt;'
        ' and a double-escaped &amp;lt; included here.</p>'
        '<footer><a href="/privacy">Privacy</a> | <a href="/tos">Terms</a>'
        '</footer><!-- hidden --></body></html>'
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    r = df.select(
        T.html_to_text(F.col("html")).alias("all_text"),
        T.html_main_text(F.col("html")).alias("main"),
    ).collect()[0]
    assert "var x" not in r["all_text"] and "color:red" not in r["all_text"]
    assert "hidden" not in r["all_text"]
    assert "About & more" in r["all_text"]          # &amp; decoded
    assert r["main"] == (
        "The quick brown fox jumps over the lazy dog and keeps running"
        " far away today.\n\n"
        "Another good paragraph with plenty of visible text <tag>"
        " and a double-escaped &lt; included here."
    )
    staged = T.with_html_text(df, "html", "text").select("text") \
        .collect()[0]["text"]
    assert staged == r["main"]
    # a link-HEAVY long block still drops (tag cloud shape)
    cloud = "<div>" + " ".join(
        f'<a href="/t{i}">topic{i} word</a>' for i in range(12)) + "</div>"
    df2 = spark.createDataFrame(
        [(1, f"<html><body>{cloud}<p>A real paragraph of twenty words "
             "that should certainly survive the density filter intact "
             "here.</p></body></html>")],
        "id long, html string")
    m2 = df2.select(T.html_main_text(F.col("html")).alias("m")) \
        .collect()[0]["m"]
    assert "topic3" not in m2 and "real paragraph" in m2


def test_pq_train_refines_hash_codebooks(spark, sf_dir):
    """Lloyd training from the hash init must keep codebook shape,
    STRICTLY reduce quantization error on the training data (each Lloyd
    step is non-increasing from its init; on real data the first
    assignment already improves), and exclude non-finite vectors from
    training (one NaN row must not poison any centroid)."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    hash_books = sim.pq_codebooks(dim=64, n_sub=8, k=16, seed=7)
    trained = sim.pq_train(e, 64, 8, 16, n_iter=3, seed=7, init=hash_books)
    assert (len(trained), len(trained[0]), len(trained[0][0])) == (8, 16, 8)
    assert np.isfinite(np.array(trained)).all()

    V = np.array([r["embedding"] for r in e.select("embedding").collect()],
                 dtype=np.float64)

    def qerr(books):
        cb = np.array(books)
        total = 0.0
        for s in range(8):
            sub = V[:, s * 8:(s + 1) * 8]
            d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return total / len(V)

    assert qerr(trained) < qerr(hash_books)

    # a NaN vector in the training data is excluded, not averaged in
    poisoned = e.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(999999, [float("nan")] * 64)],
            "vec_id long, embedding array<double>",
        )
    )
    t2 = sim.pq_train(poisoned, 64, 8, 16, n_iter=2, seed=7, init=hash_books)
    assert np.isfinite(np.array(t2)).all()


def test_ivfpq_encode_and_topk_match_numpy(spark, sf_dir):
    """IVF-PQ: cell assignment equals the numpy cosine argmax (first
    cell on ties), residual codes equal a numpy recomputation against
    the same codebooks, and ADC top-k ranks the query's own vector
    first when its cell is probed."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # rotation-free: this test's numpy model mirrors the UNROTATED
    # per-dimension folds (the rotation path has its own parity tests)
    idx = sim.IVFPQIndex.fit(e, n_cells=8, n_sub=8, k=16, seed=7,
                             train_rotation=False)
    enc = idx.encode(e)
    rows = enc.orderBy("vec_id").limit(25).select(
        "vec_id", "embedding", "__ivf_cell__", "pq_codes").collect()
    C = np.array(idx.coarse, dtype=np.float64)              # (cells, 64)
    cb = np.array(idx.codebooks, dtype=np.float64)          # (8, 16, 8)
    # mirror encode's ascending left-associated per-dimension folds
    # exactly (NOT numpy's pairwise `@`/`.sum()` summation) so a
    # last-ulp difference can never flip an argmax/argmin tie
    dim, n_cells = C.shape[1], C.shape[0]
    cn = np.zeros(n_cells)
    for i in range(dim):
        cn = cn + C[:, i] * C[:, i]
    cn = np.sqrt(cn)
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        nv = 0.0
        for i in range(dim):
            nv = nv + v[i] * v[i]
        dots = np.zeros(n_cells)
        for i in range(dim):
            dots = dots + v[i] * C[:, i]
        cos = dots / (np.sqrt(nv) * cn)
        assert r["__ivf_cell__"] == int(np.argmax(cos))
        resid = v - C[r["__ivf_cell__"]]
        want = []
        for s in range(8):
            acc = np.zeros(16)
            for i in range(8):
                diff = resid[s * 8 + i] - cb[s, :, i]
                acc = acc + diff * diff
            want.append(int(np.argmin(acc)) + 1)
        assert list(r["pq_codes"]) == want, r["vec_id"]

    qv = [float(x) for x in
          e.filter("vec_id = 0").select("embedding").collect()[0][0]]
    top = idx.topk(enc, qv, k=5, n_probe=3).collect()
    assert top[0]["vec_id"] == 0
    assert all(a["pq_dist"] <= b["pq_dist"] for a, b in zip(top, top[1:]))
    # trained-codebook variant drops in without changing the query path
    idx_t = sim.IVFPQIndex.fit(e, n_cells=8, n_sub=8, k=16, seed=7,
                               train_iters=2)
    enc_t = idx_t.encode(e)
    top_t = idx_t.topk(enc_t, qv, k=5, n_probe=3).collect()
    assert top_t[0]["vec_id"] == 0


def test_ivfpq_trained_default_and_refine(spark, sf_dir):
    """The DEFAULT fit path trains residual codebooks (train_iters=4):
    books move away from their hash init, and the bounded-sample knob
    (train_max_rows below the corpus size) still produces a working
    index. The refine stage re-ranks the ADC shortlist by exact L2:
    the query's own vector comes back first at distance 0, the output
    is exact-distance ordered, and every refined id sits inside the
    ADC shortlist."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = sim.IVFPQIndex.fit(e, n_cells=8, n_sub=8, k=16, seed=7,
                             train_iters=2, train_max_rows=200)
    hash_books = sim.pq_codebooks(64, 8, 16, seed=7)
    assert not np.allclose(np.asarray(idx.codebooks),
                           np.asarray(hash_books))
    enc = idx.encode(e)
    qv = [float(x) for x in
          e.filter("vec_id = 7").select("embedding").collect()[0][0]]
    refined = idx.topk(enc, qv, k=5, n_probe=3, refine=30).collect()
    assert refined[0]["vec_id"] == 7 and refined[0]["dist"] == 0.0
    assert all(a["dist"] <= b["dist"] for a, b in zip(refined, refined[1:]))
    shortlist = {r["vec_id"] for r in
                 idx.topk(enc, qv, k=30, n_probe=3).collect()}
    assert {r["vec_id"] for r in refined} <= shortlist


def test_ivfpq_save_load_roundtrip(spark, sf_dir, tmp_path):
    """The persisted serving layout: save() writes the cell-partitioned
    store + geometry sidecar, load() reopens both, and search results —
    plain ADC and refine — are IDENTICAL to the in-memory index. The
    sidecar must be invisible to the parquet reader."""
    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = sim.IVFPQIndex.fit(e, n_cells=8, n_sub=8, k=16, seed=7,
                             train_iters=2)
    enc = idx.encode(e)
    store = str(tmp_path / "ivfpq_store")
    idx.save(enc.select("vec_id", "embedding", "__ivf_cell__", "pq_codes"),
             store)
    idx2, stored = sim.IVFPQIndex.load(spark, store)
    assert idx2.coarse == idx.coarse and idx2.codebooks == idx.codebooks
    assert set(stored.columns) == {"vec_id", "embedding", "__ivf_cell__",
                                   "pq_codes"}
    qv = [float(x) for x in
          e.filter("vec_id = 3").select("embedding").collect()[0][0]]
    want = [tuple(r) for r in idx.topk(enc, qv, k=5, n_probe=3).collect()]
    got = [tuple(r) for r in idx2.topk(stored, qv, k=5, n_probe=3).collect()]
    assert got == want
    want_r = [tuple(r) for r in
              idx.topk(enc, qv, k=5, n_probe=3, refine=20).collect()]
    got_r = [tuple(r) for r in
             idx2.topk(stored, qv, k=5, n_probe=3, refine=20).collect()]
    assert got_r == want_r


def test_ivfpq_trained_recall_bar_sf01(spark):
    """The round-9 recall bar at sf0.1 (VERDICT round-8 task 1): the
    DEFAULT fit — Lloyd residual books + cosine-Lloyd coarse centroids
    (training assigns cells with the exact serving cosine argmax) —
    at cells=32 / sub=16 / k=64 must reach recall@10 >= 0.7 at
    probe 16 / refine 100 on a 20-query panel (measured 0.775), and
    must BEAT the deterministic coarse pick at the same operating
    point (measured 0.700) — the probe ceiling is what coarse training
    buys. Runs on /root/testdata/sf0.1 directly — the bar is a scale
    statement, not a fixture toy."""
    import pyspark.sql.functions as F

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding")
    idx = sim.IVFPQIndex.fit(e, n_cells=32, n_sub=16, k=64, seed=7)
    enc = idx.encode(e)
    panel = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
             for r in e.filter(F.col("vec_id") < 20).collect()]
    truth = sim.exact_l2_topk_panel(e, panel, k=10)
    hits = sim.ivfpq_panel_hits(
        enc, idx, panel, truth, k=10, n_probe=16, refine=100,
        label="hits").collect()[0]["hits"]
    recall = hits / (10 * len(panel))
    assert recall >= 0.7, f"recall@10 {recall:.3f} below the 0.7 bar"

    # the deterministic-pick escape (SQL-reproducible fits) sits BELOW
    # the trained default at the same probe/refine
    idx_u = sim.IVFPQIndex.fit(e, n_cells=32, n_sub=16, k=64, seed=7,
                               train_coarse=False)
    enc_u = idx_u.encode(e)
    hits_u = sim.ivfpq_panel_hits(
        enc_u, idx_u, panel, sim.exact_l2_topk_panel(e, panel, k=10),
        k=10, n_probe=16, refine=100, label="hits").collect()[0]["hits"]
    recall_u = hits_u / (10 * len(panel))
    assert recall > recall_u, (recall, recall_u)


def test_similarity_zero_vectors_and_collision_guards(spark):
    """Review regressions: (a) a zero-norm vector (or centroid) must
    not blow up the scan under Spark 4's default ANSI mode — cosine
    maps it to NULL (try_divide) and cell assignment lands it in cell
    0 on both the expression and Arrow paths; (b) with_cells/encode
    raise on column collisions instead of silently destroying user
    columns."""
    import pytest

    from lazy_frame_spark.operators import similarity as sim

    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),        # zero vector
            (2, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]

    cells = sim.IVFIndex(coarse).with_cells(df)
    got = {r["vec_id"]: r["__ivf_cell__"] for r in cells.collect()}
    assert got == {0: 0, 1: 0, 2: 1}

    idx = sim.IVFPQIndex(coarse, sim.pq_codebooks(4, 2, 3, 1))
    enc = {r["vec_id"]: (r["__ivf_cell__"], r["pq_codes"])
           for r in idx.encode(df).collect()}
    assert enc[1] == (0, None)      # unindexable: no defined similarity
    assert enc[0][0] == 0 and enc[0][1] is not None
    assert enc[2][0] == 1

    # exact top-k over a corpus containing the zero vector: no ANSI
    # error; the undefined similarity sorts after real ones
    top = sim.cosine_topk(df, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos_sim"] == 1.0

    with pytest.raises(ValueError, match="collide"):
        sim.IVFIndex(coarse).with_cells(df.withColumn("__ivf_cell__", F.lit(1)))
    with pytest.raises(ValueError, match="collide"):
        idx.encode(df.withColumn("pq_codes", F.lit(1)))


def test_coarse_train_cosine_properties(spark):
    """The spherical-Lloyd coarse trainer: (1) its objective — mean
    best-cosine to the assigned centroid, the quantity the SERVING
    assignment maximizes — never decreases across iterations (mean
    update = spherical k-means update, since the cosine divides out
    centroid scale); (2) a centroid no vector ever picks (a 'dead'
    cell) keeps its previous value; (3) the assignment used in
    training IS _cell_assign_batch, so post-training encode cells are
    reproducible from the returned centroids."""
    import numpy as np

    from lazy_frame_spark.operators.similarity import (
        _cell_assign_batch,
        coarse_train_cosine,
    )

    rng = np.random.default_rng(7)
    a = rng.normal(0, 0.05, (60, 8)) + np.array([1, 0, 0, 0, 0, 0, 0, 0.0])
    b = rng.normal(0, 0.05, (60, 8)) + np.array([0, 1, 0, 0, 0, 0, 0, 0.0])
    V = np.vstack([a, b])
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id int, embedding array<double>",
    )
    # inits: two slightly-off live centroids + one dead centroid
    # pointing AWAY from all data (cosine < 0 to every vector)
    init = [[0.9, 0.1, 0, 0, 0, 0, 0, 0],
            [0.1, 0.9, 0, 0, 0, 0, 0, 0],
            [0, 0, 0, 0, 0, 0, 0, -1.0]]

    def objective(C):
        C = np.asarray(C, dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        vn = np.sqrt((V * V).sum(axis=1))
        sims = (V @ C.T) / (vn[:, None] * cn[None, :])
        return float(sims.max(axis=1).mean())

    prev, obj = init, objective(init)
    for _ in range(3):
        cur = coarse_train_cosine(df, prev, n_iter=1)
        cur_obj = objective(cur)
        assert cur_obj >= obj - 1e-12, (cur_obj, obj)
        prev, obj = cur, cur_obj
    assert prev[2] == init[2]  # dead cell untouched

    # serving parity: assignments from the trained centroids match
    # _cell_assign_batch exactly (training used the same code)
    C = np.asarray(prev, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cells, finite, _nv = _cell_assign_batch(V, C, cn)
    assert finite.all()
    assert set(cells[:60]) == {0} and set(cells[60:]) == {1}


def test_cosine_coarse_training_transfers_on_unnormalized(spark):
    """The round-8 ADVICE scenario made concrete on vectors whose norms
    spread 100x: (1) the L2-argmin partition the old opt-in trainer
    optimized DISAGREES with the cosine-argmax partition serving uses
    (small-norm vectors sit closer to the wrong centroid in L2), so
    its objective was the wrong one; (2) L2 Lloyd materializes that
    mismatch by splitting same-direction cells into MAGNITUDE bands
    (trained centroid norms diverge >=2x within a direction), while
    the cosine trainer's same-direction centroids split by angle and
    keep comparable norms — magnitude is invisible to the objective it
    shares with serving."""
    import numpy as np

    from lazy_frame_spark.operators.similarity import (
        coarse_train_cosine,
        pq_train,
    )

    rng = np.random.default_rng(11)
    dirs = np.array([[1, 0, 0, 0], [0, 1, 0, 0.0]])
    rows = []
    for d in dirs:
        for _ in range(80):
            v = d + rng.normal(0, 0.05, 4)
            v = v / np.linalg.norm(v) * rng.uniform(0.1, 10.0)
            rows.append([float(x) for x in v])
    V = np.asarray(rows)
    df = spark.createDataFrame(
        [(r,) for r in rows], "embedding array<double>")
    init = [[0.99, 0.05, 0.05, 0], [0.99, -0.05, -0.05, 0],
            [0.05, 0.99, 0.05, 0], [-0.05, 0.99, -0.05, 0.0]]

    def banding(C):
        """max/min trained-centroid norm within each direction group."""
        C = np.asarray(C, dtype=np.float64)
        out = []
        for axis in (0, 1):
            ns = [np.linalg.norm(c) for c in C if abs(c[axis]) == max(
                abs(c[0]), abs(c[1]))]
            out.append(max(ns) / min(ns))
        return out

    cos_c = coarse_train_cosine(df, init, n_iter=6)
    l2_c = pq_train(df, 4, n_sub=1, k=4, n_iter=6, init=[init])[0]
    # (2) L2 bands by magnitude somewhere; cosine never does
    assert max(banding(l2_c)) >= 2.0, banding(l2_c)
    assert max(banding(cos_c)) < 1.5, banding(cos_c)

    # (1) and the partition L2 training OPTIMIZED disagrees with how
    # serving will read its centroids: with the unequal-norm trained
    # bands, L2-argmin (band membership) and cosine-argmax (angular
    # membership) place a large fraction of vectors in different cells
    C = np.asarray(l2_c, dtype=np.float64)
    l2_cells = np.argmin(
        ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1)
    cn = np.sqrt((C * C).sum(axis=1))
    vn = np.sqrt((V * V).sum(axis=1))
    cos_cells = np.argmax((V @ C.T) / (vn[:, None] * cn[None, :]), axis=1)
    assert (l2_cells != cos_cells).mean() > 0.1, (
        (l2_cells != cos_cells).mean())


def test_pq_non_finite_vectors_null_codes_on_both_paths(spark):
    """Finite-vector contract: NaN/Inf/NULL-bearing vectors encode to
    NULL codes on BOTH encode paths (without the guard, Catalyst's
    array_position returns 0 on NaN distances — ADC then throws — while
    numpy argmin silently picks a code), and ADC search excludes them
    instead of erroring."""
    from lazy_frame_spark.operators import similarity as sim

    books = sim.pq_codebooks(dim=4, n_sub=2, k=3, seed=1)
    rows = [
        (0, [0.1, 0.2, 0.3, 0.4]),
        (1, [float("nan"), 0.2, 0.3, 0.4]),
        (2, [0.1, float("inf"), 0.3, 0.4]),
        (3, [0.1, 0.2, None, 0.4]),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cat = {r["vec_id"]: r["pq_codes"] for r in sim.pq_encode(df, books).collect()}
    arw = {r["vec_id"]: (None if r["pq_codes"] is None else list(r["pq_codes"]))
           for r in sim.pq_encode_arrow(df, books).collect()}
    assert cat[0] is not None
    assert all(cat[i] is None for i in (1, 2, 3, 4))
    assert {k: (None if v is None else list(v)) for k, v in cat.items()} == arw
    top = sim.pq_adc_topk(sim.pq_encode(df, books), [0.1, 0.2, 0.3, 0.4],
                          books, k=5).collect()
    assert [r["vec_id"] for r in top] == [0]


def test_temperature_mixing(spark):
    """count^alpha temperature reweighting: alpha=1 keeps the natural
    mix (all rates 10000 — proportional targets need no downsampling),
    alpha=0 downsamples every head to the tail's size, and alpha=0.5
    lands between, matching an in-process Python replication of the
    whole rate chain exactly (same floats — no cross-engine ulp
    hazard). The kept sets are deterministic (seeded md5 draws)."""
    import hashlib

    from lazy_frame_spark.operators.mixing import (
        mix_temperature,
        rates_for_target_mix,
        temperature_weights,
    )

    rows = [(i, "big" if i < 800 else ("mid" if i < 900 else "small"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    counts = {"big": 800, "mid": 100, "small": 100}

    # alpha=1: natural mix == no downsampling anywhere
    assert rates_for_target_mix(
        counts, temperature_weights(counts, 1.0)) == {
        "big": 10000, "mid": 10000, "small": 10000}
    # alpha=0: heads cut to the tail's size
    assert rates_for_target_mix(
        counts, temperature_weights(counts, 0.0)) == {
        "big": 1250, "mid": 10000, "small": 10000}

    for alpha in (0.0, 0.5):
        rates = rates_for_target_mix(
            counts, temperature_weights(counts, alpha))
        got = {(r["doc_id"], r["dom"]) for r in
               mix_temperature(df, "dom", alpha, ["doc_id"],
                               seed=23).collect()}
        want = set()
        for i, dom in rows:
            h = int(hashlib.md5(f"23:{i}".encode()).hexdigest()[:15], 16)
            if h % 10000 < rates[dom]:
                want.add((i, dom))
        assert got == want, alpha
    with pytest.raises(ValueError):
        temperature_weights(counts, -0.1)


def test_mixing_distributed_rates_edge_cases(spark):
    """The DataFrame-native rate chain must handle the degenerate
    inputs the old driver-side path crashed on: an empty / all-NULL
    domain corpus yields the empty frame (no ZeroDivisionError), an
    absent target domain yields the empty corpus (mirroring
    rates_for_target_mix's s=0 semantics), and all-zero target weights
    raise the documented ValueError."""
    empty = spark.createDataFrame([], "doc_id long, dom string")
    assert mx.mix_temperature(empty, "dom", 0.5, ["doc_id"]).count() == 0
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, dom string")
    assert mx.mix_temperature(nulls, "dom", 0.5, ["doc_id"]).count() == 0

    df = spark.createDataFrame(
        [(i, "web") for i in range(100)], "doc_id long, dom string")
    assert mx.mix_corpora(df, "dom", {"web": 3, "code": 1},
                          ["doc_id"]).count() == 0
    with pytest.raises(ValueError):
        mx.mix_corpora(df, "dom", {"web": 0.0}, ["doc_id"])
    with pytest.raises(ValueError):
        mx.rates_for_target_mix({"web": 5}, {"web": 0.0})
    with pytest.raises(ValueError):
        mx.temperature_rates(df, "dom", alpha=-0.5)


def test_mix_corpora_df_rates_match_driver_helper(spark):
    """mix_corpora's DataFrame rate chain must keep EXACTLY the rows
    that sample_by_rates keeps under driver-computed
    rates_for_target_mix rates — same formula, two evaluation engines
    (weights chosen so every rate is exact in float: no ulp slack in
    the comparison)."""
    rows = [(i, "big" if i < 800 else ("mid" if i < 900 else "small"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    weights = {"big": 1.0, "mid": 1.0, "small": 2.0}
    rates = mx.rates_for_target_mix(
        {"big": 800, "mid": 100, "small": 100}, weights)
    assert rates == {"big": 625, "mid": 5000, "small": 10000}
    want = {r["doc_id"] for r in mx.sample_by_rates(
        df, "dom", rates, ["doc_id"], seed=31).collect()}
    got = {r["doc_id"] for r in mx.mix_corpora(
        df, "dom", weights, ["doc_id"], seed=31).collect()}
    assert got == want and want


def test_sample_by_rates_join_path_matches_when_chain(spark):
    """Above WHEN_CHAIN_MAX_DOMAINS the rate lookup becomes a broadcast
    join; membership must be IDENTICAL to the literal when-chain on the
    same mapping — including NULL domains and unmapped domains falling
    back to default_bp on both paths."""
    d = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 160).cast("string")).alias("dom"),
    )
    rates = {str(i): (i * 17) % 10001 for i in range(150)}  # 150..159 unmapped
    assert len(rates) > mx.WHEN_CHAIN_MAX_DOMAINS
    joined = {r["doc_id"] for r in mx.sample_by_rates(
        d, "dom", rates, ["doc_id"], seed=5, default_bp=2500).collect()}
    orig = mx.WHEN_CHAIN_MAX_DOMAINS
    try:
        mx.WHEN_CHAIN_MAX_DOMAINS = 256
        chained = {r["doc_id"] for r in mx.sample_by_rates(
            d, "dom", rates, ["doc_id"], seed=5, default_bp=2500).collect()}
    finally:
        mx.WHEN_CHAIN_MAX_DOMAINS = orig
    assert joined == chained and joined


def test_ivfpq_topk_batch_matches_sequential(spark, sf_dir):
    """The batched serving API returns, per query, EXACTLY the rows of
    topk() called one vector at a time — plain ADC and refined — over
    both the trained-default and hash-book indexes."""
    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    for iters in (0, 2):
        idx = sim.IVFPQIndex.fit(e, n_cells=8, n_sub=8, k=16, seed=7,
                                 train_iters=iters)
        enc = idx.encode(e).cache()
        panel = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                 for r in e.filter("vec_id IN (0, 7, 13)").collect()]
        for refine in (0, 25):
            batch = idx.topk_batch(enc, panel, k=5, n_probe=3,
                                   refine=refine)
            dcol = "dist" if refine else "pq_dist"
            got = {}
            for r in batch.collect():
                got.setdefault(r["qid"], []).append(
                    (r["vec_id"], r[dcol]))
            for qid, qv in panel:
                want = [(r["vec_id"], r[dcol]) for r in
                        idx.topk(enc, qv, k=5, n_probe=3,
                                 refine=refine).collect()]
                assert sorted(got[qid]) == sorted(want), (iters, refine,
                                                          qid)
        enc.unpersist()


def test_script_profile_rules(spark):
    """Script detection corners: dominance per script, the first-listed
    tie-break, the 'none' fallback for digits/punctuation-only text,
    NULL text, and the mixed-script homoglyph signal (nonzero Cyrillic
    inside latin-dominant text)."""
    from lazy_frame_spark.operators.text import script_profile

    cases = [
        (0, "hello world"),
        (1, "привет мир"),
        (2, "你好世界"),
        (3, "ひらがなとカタカナ"),
        (4, "12345 !!! ..."),
        (5, None),
        (6, "pаypаl alеrt"),          # Cyrillic а/е homoglyphs inside
        (7, "ab ой"),                  # 2 latin vs 2 cyrillic: tie
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in script_profile(df).collect()}
    assert got[0]["dominant_script"] == "latin"
    assert got[1]["dominant_script"] == "cyrillic"
    assert got[2]["dominant_script"] == "han" and got[2]["n_han"] == 4
    assert got[3]["dominant_script"] == "hiragana"  # 6 hira vs 4 kata
    assert got[3]["n_katakana"] == 4
    assert got[4]["dominant_script"] == "none"
    assert got[5]["dominant_script"] == "none"
    assert got[6]["dominant_script"] == "latin" and got[6]["n_cyrillic"] > 0
    assert got[7]["dominant_script"] == "latin"     # tie -> first listed


def test_sentence_chunks_rules(spark):
    """Sentence-chunking corners: sentences never split across chunks,
    a chunk overflows by at most one sentence, abbreviation-free
    boundary rule ([.!?]+ + whitespace), no-boundary documents yield
    one chunk, empty/None behave, and reassembling chunks in order
    reproduces the sentence stream."""
    from lazy_frame_spark.operators.packing import sentence_chunks

    docs = [
        (0, "one two three. four five six! seven eight? nine ten."),
        (1, "no boundary here just words"),
        (2, "a. b. c. d. e. f. g. h."),
        (3, ""),
        (4, None),
        (5, "ends mid sentence"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = sentence_chunks(df, target_tokens=6).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: sentences of 3/3/2/2 tokens; chunks at before//6:
    # [0,3)->0, [3,6)->0, [6,8)->1, [8,10)->1
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [(r["chunk_id"], r["n_sentences"], r["n_tokens"]) for r in c0] \
        == [(0, 2, 6), (1, 2, 4)]
    assert c0[0]["chunk_text"] == "one two three. four five six!"
    assert c0[1]["chunk_text"] == "seven eight? nine ten."
    # no boundary -> single chunk, intact
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == docs[1][1]
    # 8 single-token sentences at target 6 -> chunks of 6 and 2
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [(r["n_sentences"], r["n_tokens"]) for r in c2] == [(6, 6), (2, 2)]
    # empty / NULL produce no rows
    assert 3 not in by_doc and 4 not in by_doc
    assert by_doc[5][0]["chunk_text"] == "ends mid sentence"


def test_opq_rotation_orthonormal_balanced_and_scaled():
    """opq_rotation_from_cov (parametric OPQ, Ge et al. CVPR 2013):
    the returned transform is orthonormal (so L2/ADC distances are
    preserved exactly), its rows are eigenvectors allocated to
    subspaces balancing the eigenvalue log-product (no starved
    codebook), and the returned scales are the rotated space's
    per-dim stddevs — the quantity the Lloyd init must be rescaled by
    (unscaled hash inits strand dead codewords and measurably HURT
    recall; see tools/opq_adjudicate.py)."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    # rank-4 covariance in 16 dims + jitter: strongly anisotropic
    W = rng.normal(size=(4, 16)) * np.array([8.0, 4.0, 2.0, 1.0])[:, None]
    cov = W.T @ W + 0.01 * np.eye(16)
    n_sub = 4
    R, scales = sim.opq_rotation_from_cov(cov, n_sub)
    assert R.shape == (16, 16) and scales.shape == (16,)
    assert np.allclose(R @ R.T, np.eye(16), atol=1e-9)
    # rotated covariance is diagonal with the permuted eigenvalues;
    # scales are their sqrts
    rc = R @ cov @ R.T
    assert np.allclose(rc, np.diag(np.diag(rc)), atol=1e-8)
    assert np.allclose(np.sqrt(np.diag(rc)), scales, atol=1e-9)
    # balanced allocation: the subspace variance log-products are far
    # closer to each other than a contiguous descending split's
    d_sub = 16 // n_sub
    ev = np.sort(np.linalg.eigvalsh((cov + cov.T) / 2))[::-1]
    logs_bal = [
        float(np.log(np.maximum(scales[s * d_sub:(s + 1) * d_sub] ** 2,
                                1e-12)).sum())
        for s in range(n_sub)
    ]
    logs_contig = [
        float(np.log(np.maximum(ev[s * d_sub:(s + 1) * d_sub], 1e-12)).sum())
        for s in range(n_sub)
    ]
    assert (max(logs_bal) - min(logs_bal)) < \
        (max(logs_contig) - min(logs_contig)) / 4
    # non-divisible dim is an explicit error
    import pytest

    with pytest.raises(ValueError):
        sim.opq_rotation_from_cov(cov, 3)


def test_vector_covariance_matches_numpy(spark):
    """vector_covariance: one mapInPandas pass of mergeable
    (count, sum, outer-product) partials equals numpy's biased
    covariance; non-finite and NULL vectors are excluded; empty input
    returns None."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    X = rng.normal(size=(500, 6)) @ np.diag([5, 3, 1, 1, 0.5, 0.1])
    rows = [([float(x) for x in v],) for v in X]
    rows += [(None,), ([float("nan")] * 6,)]
    df = spark.createDataFrame(rows, "__resid__ array<double>").repartition(7)
    cov = sim.vector_covariance(df, "__resid__")
    want = np.cov(X, rowvar=False, bias=True)
    assert np.allclose(cov, want, atol=1e-9)
    empty = spark.createDataFrame([], "__resid__ array<double>")
    assert sim.vector_covariance(empty, "__resid__") is None


def test_ivfpq_opq_save_load_and_self_rank(spark, sf_dir, tmp_path):
    """The OPQ-rotated index round-trips: fit(train_rotation=True)
    installs an orthonormal rotation, encode/search stay consistent
    (a query's own vector ranks first when its cell is probed), and
    save()/load() preserve the rotation so the reopened index returns
    IDENTICAL search results — plain ADC and refine."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = sim.IVFPQIndex.fit(e, n_cells=8, n_sub=8, k=16, seed=7,
                             train_iters=2, train_rotation=True)
    assert idx.rotation is not None
    R = np.asarray(idx.rotation)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)
    enc = idx.encode(e)
    qv = [float(x) for x in
          e.filter("vec_id = 5").select("embedding").collect()[0][0]]
    top = idx.topk(enc, qv, k=3, n_probe=8).collect()
    assert top[0]["vec_id"] == 5
    store = str(tmp_path / "ivfpq_opq_store")
    idx.save(enc.select("vec_id", "embedding", "__ivf_cell__", "pq_codes"),
             store)
    idx2, stored = sim.IVFPQIndex.load(spark, store)
    assert idx2.rotation == idx.rotation
    want = [tuple(r) for r in
            idx.topk(enc, qv, k=5, n_probe=3, refine=20).collect()]
    got = [tuple(r) for r in
           idx2.topk(stored, qv, k=5, n_probe=3, refine=20).collect()]
    assert got == want
    # the rotated Lloyd init was rescaled: codebook coordinate spread
    # tracks the rotated per-dim stddev, so the dominant subspace's
    # codewords are NOT confined to the hash anchor's [-1, 1) cube
    # whenever the data itself exceeds it
    cb = np.asarray(idx.codebooks)
    enc_r = idx._with_residual(e.limit(512), "embedding").select(
        "__resid__").collect()
    V = np.stack([np.asarray(r[0]) for r in enc_r if r[0] is not None])
    if float(np.abs(V[:, 0]).max()) > 1.5:
        assert float(np.abs(cb[0]).max()) > 1.0
    # the batch path rotates its per-query LUTs identically: one-query
    # topk_batch returns the same ids, same order, as topk
    batch = [
        (r["qid"], r["vec_id"])
        for r in idx.topk_batch(enc, [(5, qv)], k=3, n_probe=8)
        .orderBy("qid", "pq_dist", "vec_id").collect()
    ]
    assert [b[1] for b in batch] == [r["vec_id"] for r in top]


def test_semantic_dedup_rules_and_cell_scoping(spark):
    """semantic_dedup (SemDeDup): first-occurrence-wins within a cell,
    single-hop (chain A~B~C with A!~C keeps only A), and CLUSTER-scoped
    — a near-identical pair split across cells survives intact. The
    pre-fit index path skips the deterministic pick."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    # two orthogonal cell anchors; vectors cluster tightly around them
    ax = [1.0, 0.0, 0.0, 0.0]
    ay = [0.0, 1.0, 0.0, 0.0]
    idx = sim.IVFIndex([ax, ay])

    def mix(a, b, t):
        v = np.array(a) * (1 - t) + np.array(b) * t
        return [float(x) for x in v / np.linalg.norm(v)]

    # vectors on the unit circle spanned by (ax, ay), placed by angle;
    # threshold 0.97 == a ~14.07-degree radius
    def at(deg):
        r = np.deg2rad(deg)
        return [float(np.cos(r)), float(np.sin(r)), 0.0, 0.0]

    rows = [
        (0, at(0)),     # cell 0, survives
        (1, at(3)),     # ~dup of 0 (3 deg) -> dropped
        (2, at(16)),    # ~dup of 1 (13 deg) but NOT of 0 -> dropped too
        (3, at(90)),    # cell 1, survives
        (4, at(88)),    # ~dup of 3 -> dropped
        (5, at(46)),    # cell 1, near the boundary
        (6, at(44)),    # cell 0; 5~6 is a CROSS-cell near-dup pair
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>"
    )
    out = sorted(
        r["vec_id"]
        for r in sim.semantic_dedup(df, n_cells=2, threshold=0.97,
                                    index=idx).collect()
    )

    # verify the intended geometry before asserting the result
    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    cells = {i: (0 if cos(v, ax) >= cos(v, ay) else 1) for i, v in rows}
    assert cells == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 0}
    assert cos(rows[1][1], rows[0][1]) >= 0.97       # 1 dup of 0
    assert cos(rows[2][1], rows[0][1]) < 0.97        # 2 not dup of 0
    assert cos(rows[2][1], rows[1][1]) >= 0.97       # but dup of 1
    assert cos(rows[5][1], rows[6][1]) >= 0.97       # cross-cell pair
    assert all(cos(rows[5][1], rows[j][1]) < 0.97 for j in (3, 4))
    assert all(cos(rows[6][1], rows[j][1]) < 0.97 for j in (0, 1, 2))

    # single-hop: 2 dropped via 1 even though 1 itself is dropped;
    # 5 and 6 both survive: their only >=0.97 neighbor is in the
    # OTHER cell (cluster scoping)
    assert out == [0, 3, 5, 6]


def test_semantic_dedup_arrow_screen_round_boundary(spark):
    """The Arrow pair screen must admit every pair the exact verdict
    (round(cos,4) >= threshold) accepts — including cosines JUST UNDER
    the threshold that round up to it. cos = 0.89996 at threshold 0.9
    rounds to 0.9 and must drop the higher id; a screen bound tighter
    than the round-half-up boundary (threshold - 5e-5) silently keeps
    it, diverging from the all-Catalyst path and the SQL oracle rule."""
    import math

    from lazy_frame_spark.operators import similarity as sim

    c = 0.89996  # in [0.9 - 5e-5, 0.9): round(c, 4) == 0.9
    s = math.sqrt(1.0 - c * c)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [c, s, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    idx = sim.IVFIndex([[1.0, 0.0, 0.0, 0.0]])  # one cell: pair meets
    out = sorted(
        r["vec_id"]
        for r in sim.semantic_dedup(df, threshold=0.9, index=idx).collect()
    )
    assert out == [0], f"knife-edge pair not dropped: survivors {out}"


def test_packing_efficiency_spans_and_fill(spark):
    """bin_stats: docs charge the bin they START in, fills are exact
    basis points vs the budget (overflow >10000 allowed), and
    n_split_docs counts boundary-crossing docs (fragmentation)."""
    from lazy_frame_spark.operators.packing import bin_stats

    # budget 10: doc A tokens 0..7 (bin 0), doc B 7..19 (starts bin 0,
    # crosses), doc C 19..23 (starts bin 1, crosses), doc D empty
    packed = spark.createDataFrame(
        [(1, 7, 0, 0), (2, 12, 7, 0), (3, 4, 19, 1), (4, 0, 23, 2)],
        "doc_id long, n_tokens bigint, start_offset bigint, bin_id bigint",
    )
    rows = {r["bin_id"]: r for r in
            bin_stats(packed, budget_tokens=10).collect()}
    assert rows[0]["n_docs"] == 2 and rows[0]["n_tokens"] == 19
    assert rows[0]["fill_bp"] == 19000          # overflow visible
    assert rows[0]["n_split_docs"] == 1         # doc B crosses
    assert rows[1]["n_docs"] == 1 and rows[1]["fill_bp"] == 4000
    assert rows[1]["n_split_docs"] == 1         # doc C crosses
    assert rows[2]["n_docs"] == 1 and rows[2]["n_tokens"] == 0
    assert rows[2]["n_split_docs"] == 0


def test_semantic_dedup_arrow_assignment_bit_parity(spark, sf_dir):
    """The large-n_cells Arrow assignment path returns the SAME
    (cell, norm) per vector as the Catalyst expression path — the
    pinned bit-parity that lets semantic_dedup route by n_cells
    without changing results or oracles."""
    from pyspark.sql import functions as F

    from lazy_frame_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__sd_v__"))
    idx = sim.IVFIndex.fit_deterministic(e, k=8, vec_col="__sd_v__")
    expr = {
        r["vec_id"]: (r["__ivf_cell__"], r["__sd_n__"])
        for r in idx.with_cells(e, vec_col="__sd_v__")
        .withColumn("__sd_n__", sim.norm(F.col("__sd_v__"))).collect()
    }
    arrow = {
        r["vec_id"]: (r["__ivf_cell__"], r["__sd_n__"])
        for r in sim._with_cells_arrow(
            e, idx.centroids, "__sd_v__").collect()
    }
    assert expr == arrow  # exact: same cells, bit-identical norms

    # NULL contract parity: a NULL vector gets cell 0 + NULL norm (not
    # NaN) on BOTH paths; a NaN-element vector gets cell 0 + NaN norm
    import math

    weird = e.limit(0).sparkSession.createDataFrame(
        [(9001, None), (9002, [float("nan")] * 64)],
        "vec_id long, __sd_v__ array<double>",
    )
    got = {r["vec_id"]: (r["__ivf_cell__"], r["__sd_n__"])
           for r in sim._with_cells_arrow(
               weird, idx.centroids, "__sd_v__").collect()}
    assert got[9001] == (0, None)
    assert got[9002][0] == 0 and math.isnan(got[9002][1])


def test_semantic_dedup_against_frozen_geometry(spark):
    """semantic_dedup_against: corpus matches drop batch rows across the
    shared cells, in-batch first-winner runs among the survivors, the
    geometry is the CALLER's frozen index (a batch vector near a corpus
    vector in a DIFFERENT cell survives), and corpus rows are never
    returned."""
    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    ax, ay = [1.0, 0, 0, 0], [0.0, 1, 0, 0]
    idx = sim.IVFIndex([ax, ay])

    def at(deg):
        r = np.deg2rad(deg)
        return [float(np.cos(r)), float(np.sin(r)), 0.0, 0.0]

    corpus = spark.createDataFrame(
        [(0, at(0)), (2, at(90))],
        "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [
            (11, at(2)),    # ~corpus 0 (same cell)       -> dropped
            (13, at(44)),   # cell 0; nearest corpus (90) is cell 1
                            # and far -> survives
            (15, at(46)),   # cell 1; ~13 across cells    -> survives
            (17, at(47)),   # cell 1; ~15 in-batch        -> dropped
            (19, at(88)),   # ~corpus 2 (cell 1)          -> dropped
        ],
        "vec_id long, embedding array<double>")
    out = sorted(
        r["vec_id"]
        for r in sim.semantic_dedup_against(
            batch, corpus, n_cells=2, threshold=0.97, index=idx
        ).collect()
    )
    assert out == [13, 15]


def test_z_value_dilation_all_widths(spark):
    """The O(log bits) bit-dilation form of z_value is bit-for-bit the
    per-bit interleave at every supported (n_cols, bits) shape the
    engine uses — including the 3-column and single-column edges."""
    import random

    from lazy_frame_spark.operators.layout import z_value

    rng = random.Random(7)

    def ref(vals, bits):
        n = len(vals)
        return sum(((v >> i) & 1) << (i * n + c)
                   for c, v in enumerate(vals) for i in range(bits))

    for n, bits in [(1, 16), (2, 16), (3, 16), (3, 21), (2, 31)]:
        rows = [tuple(rng.getrandbits(bits) for _ in range(n))
                for _ in range(50)]
        cols = [f"c{i}" for i in range(n)]
        df = spark.createDataFrame(rows, cols)
        got = df.select(*cols, z_value(cols, bits=bits).alias("z")).collect()
        for r in got:
            assert r["z"] == ref([r[c] for c in cols], bits), (n, bits, r)


def test_codegen_gate_on_previously_fallen_queries(sf_dir):
    """Regression wire for the silent janino 64 KB fallbacks: run the
    queries that used to compile-fail (text_script_profile's
    exponential when-fold; the cluster rows' per-bit z interleave)
    through the sweep harness in a subprocess and assert the JVM
    logged ZERO 'Failed to compile' lines. Spark answers such queries
    correctly in interpreted mode, so only the stderr signal catches
    the regression."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from codegen_gate import run_gate

    code, n_fail, tail = run_gate(
        sf_dir, ["text_script_profile", "sink_cluster_layout"])
    assert code == 0, f"sweep failed under the gate: {tail}"
    assert n_fail == 0, (
        f"{n_fail} whole-stage codegen compile failure(s) — an "
        "expression grew past janino's method limit again")


def test_semantic_dedup_against_arrow_equals_catalyst(spark, monkeypatch):
    """The incremental (against) shape's Arrow pair stages must return
    EXACTLY the all-Catalyst survivors — same frozen geometry, same
    round(cos,4) verdicts, both drop stages — including a knife-edge
    corpus pair that only rounds up to the threshold."""
    import math

    import numpy as np

    from lazy_frame_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 6)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    # a knife-edge batch row: cos vs row 0's direction in
    # [0.9 - 5e-5, 0.9) so round(cos, 4) == 0.9 exactly
    base = vecs[0] / np.linalg.norm(vecs[0])
    perp = vecs[1] - (vecs[1] @ base) * base
    perp = perp / np.linalg.norm(perp)
    c = 0.89996
    knife = c * base + math.sqrt(1 - c * c) * perp
    rows.append((41, [float(x) for x in knife]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter("vec_id % 2 = 0")
    batch = df.filter("vec_id % 2 = 1")

    def run():
        return sorted(
            r["vec_id"]
            for r in sim.semantic_dedup_against(
                batch, corpus, n_cells=3, threshold=0.9).collect()
        )

    got_arrow = run()
    real = sim._fixed_dim
    monkeypatch.setattr(sim, "_fixed_dim", lambda df, c: None)
    got_catalyst = run()
    monkeypatch.setattr(sim, "_fixed_dim", real)
    assert got_arrow == got_catalyst
    # the knife-edge batch row shares cell 0 with corpus row 0
    # (verified against the deterministic pick), and its cosine rounds
    # UP to the threshold — a screen tighter than the round-half-up
    # boundary would keep it and diverge from the Catalyst path
    assert 41 not in got_arrow


def test_semantic_dedup_against_releases_its_pin(spark, monkeypatch):
    """The Arrow path reads its doomed ids twice. A small id set comes
    back as a local relation, so after the call (and its result's
    collect) the persistent-RDD count is back to its pre-call value. A
    set over the cap stays pinned in the dedup pin registry, and
    ``release_sketches()`` drops it; both give the same survivors."""
    import numpy as np

    from lazy_frame_spark.operators import dedup
    from lazy_frame_spark.operators import similarity as sim

    rng = np.random.RandomState(3)
    base = rng.randn(9, 8)
    # ids 0-59 repeat directions 0-5 (corpus: ids < 20); ids 60-65 pair
    # up on directions 6-8, which only the batch holds
    rows = [(i, [float(x) for x in base[i % 6] + 1e-4 * rng.randn(8)])
            for i in range(60)]
    rows += [(i, [float(x) for x in base[6 + (i - 60) // 2]
                  + 1e-4 * rng.randn(8)]) for i in range(60, 66)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter("vec_id < 20")
    batch = df.filter("vec_id >= 20")
    jsc = spark.sparkContext._jsc

    def run():
        return sorted(r["vec_id"] for r in sim.semantic_dedup_against(
            batch, corpus, n_cells=2, threshold=0.9).collect())

    before = jsc.getPersistentRDDs().size()
    small = run()
    assert jsc.getPersistentRDDs().size() == before
    assert small == [60, 62, 64]  # the first of each batch-only pair

    monkeypatch.setattr(sim, "_DOOMED_LOCAL_MAX", 0)
    assert run() == small
    assert jsc.getPersistentRDDs().size() == before + 1
    dedup.release_sketches()
    assert jsc.getPersistentRDDs().size() == before
