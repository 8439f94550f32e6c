"""Seeded input generators, one per workload: pure numpy/pyarrow in the
benchmark's own process. The same seed gives the same inputs; the
program under test receives only the files and frames made here.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------- #
# lazy_scan: the reference's "medium" schema
# --------------------------------------------------------------------- #

#: share of rows with col20 > 0 in the reference's medium benchmark
#: (95,166 of 18M rows)
COL20_SELECTIVITY = 95_166 / 18_000_000

STRING_COLS = ("col1", "col2")
DOUBLE_COLS = ("col3", "col4", "col5")
INT_COLS = tuple(f"col{i}" for i in range(6, 28))
MEDIUM_COLS = STRING_COLS + DOUBLE_COLS + INT_COLS  # 2 string, 3 double, 22 int


def medium_table(seed: int, n_rows: int) -> pa.Table:
    """``n_rows`` rows of the medium schema; col20 is positive in about
    0.53 % of rows, like the reference's ``col20 > 0`` scan."""
    rng = np.random.default_rng([seed, 1])
    cols: dict[str, np.ndarray] = {
        "col1": np.char.add("cat", rng.integers(0, 97, n_rows).astype(str)),
        "col2": np.char.add("grp", rng.integers(0, 13, n_rows).astype(str)),
        "col3": np.round(rng.random(n_rows) * 1000, 4),
        "col4": np.round(rng.random(n_rows), 6),
        "col5": np.round(rng.random(n_rows) * 1e6, 2),
    }
    for name in INT_COLS:
        cols[name] = rng.integers(-1000, 1000, n_rows, dtype=np.int32)
    pos = rng.random(n_rows) < COL20_SELECTIVITY
    cols["col20"] = np.where(pos, rng.integers(1, 101, n_rows),
                             -rng.integers(1, 101, n_rows)).astype(np.int32)
    return pa.table({name: cols[name] for name in MEDIUM_COLS})


def parquet_bytes(table: pa.Table) -> int:
    """Size of one fresh single-file parquet write of ``table`` — the
    compact representation space amplification is measured against."""
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().size


# --------------------------------------------------------------------- #
# keyed tables: key + value table and keyed batches
# --------------------------------------------------------------------- #

def keyed_base(seed: int, n_rows: int) -> pd.DataFrame:
    """Even keys 0, 2, …; odd keys are left free for inserts."""
    rng = np.random.default_rng([seed, 2])
    return pd.DataFrame({
        "k": np.arange(n_rows, dtype=np.int64) * 2,
        "a": rng.integers(0, 1_000_000, n_rows, dtype=np.int64),
        "b": rng.random(n_rows),
        "s": np.char.add("s", rng.integers(0, 10_000, n_rows).astype(str)),
    })


def _values(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame({
        "k": keys.astype(np.int64),
        "a": rng.integers(0, 1_000_000, n, dtype=np.int64),
        "b": rng.random(n),
        "s": np.char.add("u", rng.integers(0, 10_000, n).astype(str)),
    })


def _window(rng: np.random.Generator, keys: np.ndarray, clustered: bool,
            width: int) -> tuple[int, int]:
    """Key interval a batch draws from: a narrow window (clustered) or
    the whole key space (scattered)."""
    lo_all, hi_all = int(keys.min()), int(keys.max()) + 1
    if not clustered or width >= hi_all - lo_all:
        return lo_all, hi_all
    lo = int(rng.integers(lo_all, hi_all - width))
    return lo, lo + width


def _new_keys(rng, existing: np.ndarray, lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` distinct odd keys in [lo, hi) that are not in ``existing``."""
    taken = np.count_nonzero((existing >= lo) & (existing < hi) & (existing % 2 == 1))
    if n > (hi - lo) // 2 - taken:
        raise ValueError(f"no room for {n} new keys in [{lo}, {hi})")
    out = np.empty(0, dtype=np.int64)
    while len(out) < n:
        cand = rng.integers(lo // 2, max(lo // 2 + 1, hi // 2), 2 * n) * 2 + 1
        cand = np.setdiff1d(np.unique(cand), existing, assume_unique=False)
        out = np.union1d(out, cand)
    return rng.permutation(out)[:n]


def _old_keys(rng, existing: np.ndarray, lo: int, hi: int, n: int) -> np.ndarray:
    pool = existing[(existing >= lo) & (existing < hi)]
    return rng.choice(pool, size=min(n, len(pool)), replace=False)


def merge_batch(rng, existing: np.ndarray, n: int, clustered: bool,
                width: int) -> pd.DataFrame:
    """Upsert batch: about 2/3 of the keys exist, the rest are new. A
    clustered batch draws its keys from a window of ``width`` keys (at
    least ``4 n``, so both kinds fit), a scattered one from all keys."""
    lo, hi = _window(rng, existing, clustered, max(width, 4 * n))
    old = _old_keys(rng, existing, lo, hi, (2 * n) // 3)
    new = _new_keys(rng, existing, lo, hi, n - len(old))
    return _values(rng, np.concatenate([old, new]))


def cdc_batch(rng, existing: np.ndarray, n: int, clustered: bool,
              width: int) -> pd.DataFrame:
    """I/U/D batch with unique keys: 40 % updates and 30 % deletes of
    existing keys, 30 % inserts of new keys. Delete rows carry NULL
    values, as apply_cdc's mixed-batch contract requires."""
    lo, hi = _window(rng, existing, clustered, max(width, 4 * n))
    old = _old_keys(rng, existing, lo, hi, (7 * n) // 10)
    n_upd = (4 * len(old)) // 7
    new = _new_keys(rng, existing, lo, hi, n - len(old))
    df = _values(rng, np.concatenate([old, new]))
    df["op"] = ["U"] * n_upd + ["D"] * (len(old) - n_upd) + ["I"] * len(new)
    dele = df["op"] == "D"
    df["a"] = df["a"].astype("Int64")
    df.loc[dele, ["a", "b", "s"]] = None
    return df


# --------------------------------------------------------------------- #
# corpus dedup: short documents with embeddings and planted duplicates
# --------------------------------------------------------------------- #

VOCAB = 20_000
DOC_WORDS = 30
DIM = 64


@dataclass
class CorpusBatch:
    frame: pd.DataFrame          # doc_id, text, embedding
    originals: np.ndarray        # ids that must survive every stage
    exact: dict[int, int]        # planted exact duplicate id -> source id
    near_text: dict[int, int]    # planted near-duplicate text -> source id
    near_vec: dict[int, int]     # planted near-duplicate vector -> source id


def corpus(seed: int, n_batches: int, batch_size: int, plant: float = 0.05):
    """``n_batches`` batches of short documents. From the second batch on,
    each carries ``plant`` × size planted exact duplicates, near-duplicate
    texts (one word of 30 replaced: 3-shingle Jaccard ≈ 0.8) and
    near-duplicate vectors (cosine ≈ 0.999) of originals from earlier
    batches, at known ids. Returns the batches; texts of the originals
    are drawn so that unrelated documents share almost no shingles."""
    rng = np.random.default_rng([seed, 3])
    words: list[np.ndarray] = []
    vecs: list[np.ndarray] = []
    batches: list[CorpusBatch] = []
    next_id = 0
    for b in range(n_batches):
        n_plant = int(batch_size * plant) if b else 0
        n_orig = batch_size - 3 * n_plant
        w = rng.integers(0, VOCAB, (batch_size, DOC_WORDS))
        v = rng.standard_normal((batch_size, DIM))
        ids = np.arange(next_id, next_id + batch_size, dtype=np.int64)
        exact: dict[int, int] = {}
        near_text: dict[int, int] = {}
        near_vec: dict[int, int] = {}
        if n_plant:
            prev_orig = np.concatenate([x.originals for x in batches])
            src = rng.choice(prev_orig, size=3 * n_plant, replace=False)
            for j, s in enumerate(src):
                row = n_orig + j
                sw, sv = words[s], vecs[s]
                if j < n_plant:                       # exact duplicate
                    w[row], v[row] = sw, sv
                    exact[int(ids[row])] = int(s)
                elif j < 2 * n_plant:                 # near-duplicate text
                    w[row] = sw
                    w[row, rng.integers(0, DOC_WORDS)] = VOCAB + int(ids[row])
                    near_text[int(ids[row])] = int(s)
                else:                                 # near-duplicate vector
                    v[row] = sv + rng.standard_normal(DIM) * 0.05
                    near_vec[int(ids[row])] = int(s)
        words.extend(w)
        vecs.extend(v)
        text = [" ".join(f"w{t}" for t in row) for row in w]
        frame = pd.DataFrame({"doc_id": ids, "text": text,
                              "embedding": list(v.astype(np.float64))})
        batches.append(CorpusBatch(frame, ids[:n_orig], exact, near_text, near_vec))
        next_id += batch_size
    return batches


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0
