"""The append side of table_maintenance — incremental corpus
deduplication: each arriving batch of short documents goes through
exact dedup against the kept corpus, MinHash near-duplicate matching
against the kept corpus's signature table, and semantic (embedding)
dedup against the kept corpus; the survivors and their signatures are
committed with ``append_versioned`` (blind appends only).

Planted exact duplicates, near-duplicate texts and near-duplicate
vectors have known ids. Every MinHash candidate pair is re-verified by
exact Jaccard before it drops a document, and every document the
semantic stage drops must have a partner at cosine >= the threshold.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import gen
from perfbench.harness import check, dir_stats

BATCH = 500
#: share of each batch planted as each kind of duplicate (50 of 500)
PLANT = 0.1
N_BATCHES = 10
JACCARD = 0.5              # incremental_near_dups' default estimate floor
COSINE = 0.9               # semantic_dedup_against's default threshold
#: recall floors for the 50 planted near-duplicates of each kind per
#: batch (measured at the parent commit: 0.96-1.0 for MinHash with 12
#: permutations at Jaccard 0.8, 0.92-0.98 for vectors at cosine 0.999
#: through 8 IVF cells)
NEAR_TEXT_RECALL = 0.8
NEAR_VEC_RECALL = 0.8


class CorpusDedup:

    def __init__(self, spark, rec, work: str, seed: int) -> None:
        self.spark, self.rec, self.seed = spark, rec, seed
        self.dir = os.path.join(work, "dedup")
        self.docs = 0
        self.pipeline_s = 0.0
        self.batch_ms: list[float] = []
        self.candidates = 0
        self.true_candidates = 0
        self.amp_point: tuple[int, list[int]] | None = None
        self.passes = 0
        self.recall: dict[str, list[float]] = {"near_text": [], "near_vec": []}

    # -- inputs --------------------------------------------------------- #
    def generate(self) -> None:
        self.batches = gen.corpus(self.seed, N_BATCHES, BATCH, plant=PLANT)
        frames = [b.frame.set_index("doc_id") for b in self.batches]
        self.text = {i: t for f in frames for i, t in f["text"].items()}
        self.vec = {i: v for f in frames for i, v in f["embedding"].items()}

    def _build(self, tag: str) -> None:
        """Start the kept corpus and its signature table from batch 0."""
        from lazy_frame_spark.operators import dedup as D
        from lazy_frame_spark.sources import versioned as V

        root = os.path.join(self.dir, tag)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.kept_path = os.path.join(root, "kept")
        self.sig_path = os.path.join(root, "signatures")
        first = self.spark.createDataFrame(self.batches[0].frame)
        with self.rec.call("operators.dedup.exact_dedup", "operators.dedup"):
            kept = D.exact_dedup(first, ["text"]).persist()
            kept.count()
        with self.rec.call("sources.versioned.write", "sources.versioned"):
            V.write_versioned(kept, self.kept_path)
        kept.unpersist()
        with self.rec.call("operators.dedup.minhash_signatures", "operators.dedup"):
            sig = D.minhash_signatures(first).toPandas()
        V.write_versioned(self.spark.createDataFrame(sig), self.sig_path)
        self.kept_ids = set(self.batches[0].frame["doc_id"].tolist())
        self.next_batch = 1

    def build(self) -> None:
        self._build("pass0")

    def batch(self) -> None:
        from pyspark.sql import functions as F

        from lazy_frame_spark.operators import dedup as D
        from lazy_frame_spark.operators import similarity as S
        from lazy_frame_spark.sources import versioned as V

        rec, spark = self.rec, self.spark
        if self.next_batch == N_BATCHES:          # corpus exhausted: start over
            self.passes += 1
            self._build(f"pass{self.passes}")
        b = self.batches[self.next_batch]
        self.next_batch += 1
        ms = []
        with rec.op("batch"):
            df = spark.createDataFrame(b.frame)
            kept = V.read_versioned(spark, self.kept_path)
            with rec.call("operators.dedup.dedup_against", "operators.dedup") as c:
                ids1 = {r[0] for r in D.dedup_against(df, kept.select("text"), ["text"])
                        .select("doc_id").collect()}
            ms.append(c["ms"])
            check(not (ids1 & set(b.exact)), "exact: a planted duplicate survived")
            check(set(b.originals.tolist()) <= ids1, "exact: an original was dropped")
            all_ids = set(b.frame["doc_id"].tolist())
            df1 = _without(df, all_ids - ids1)

            with rec.call("operators.dedup.minhash_signatures", "operators.dedup") as c:
                sig = D.minhash_signatures(df1).toPandas()
            ms.append(c["ms"])
            with rec.call("operators.dedup.incremental_near_dups", "operators.dedup") as c:
                pairs = D.incremental_near_dups(
                    df1, V.read_versioned(spark, self.sig_path)).collect()
            ms.append(c["ms"])
            near = self._verify_text_pairs(b, pairs)
            df2 = _without(df1, near)
            ids2 = ids1 - near

            with rec.call("operators.similarity.semantic_dedup_against",
                          "operators.similarity") as c:
                ids3 = {r[0] for r in S.semantic_dedup_against(
                    df2, kept, vec_col="embedding", id_col="doc_id",
                    threshold=COSINE).select("doc_id").collect()}
            ms.append(c["ms"])
            self._verify_vec_drops(b, ids2, ids3)

            keep = sorted(ids3)
            with rec.call("sources.versioned.append", "sources.versioned") as c:
                V.append_versioned(_without(df, all_ids - ids3), self.kept_path)
            ms.append(c["ms"])
            sig = sig[sig["doc_id"].isin(keep)]
            with rec.call("sources.versioned.append", "sources.versioned") as c:
                V.append_versioned(spark.createDataFrame(sig), self.sig_path)
            ms.append(c["ms"])
            self.kept_ids |= ids3
            if rec.counting:
                self.batch_ms.append(sum(ms))
                self.docs += len(b.frame)
                self.pipeline_s += sum(ms) / 1e3
                if self.amp_point is None:
                    self.amp_point = (dir_stats(self.kept_path)[0], sorted(self.kept_ids))

    def _verify_text_pairs(self, b: gen.CorpusBatch, pairs) -> set[int]:
        """Exact Jaccard re-check of every candidate pair; returns the new
        ids with a verified partner in the kept corpus."""
        near: set[int] = set()
        for new_id, old_id, _est in pairs:
            check(old_id in self.kept_ids, f"minhash: partner {old_id} not in the corpus")
            if gen.jaccard(self.text[new_id], self.text[old_id]) >= JACCARD:
                near.add(int(new_id))
            if self.rec.counting:
                self.candidates += 1
                self.true_candidates += b.near_text.get(int(new_id)) == old_id
        check(not (near & set(b.originals.tolist())), "minhash: an original was dropped")
        planted = set(b.near_text)
        if planted:
            recall = len(near & planted) / len(planted)
            self.recall["near_text"].append(recall)
            check(recall >= NEAR_TEXT_RECALL, f"minhash recall {recall:.3f}")
        return near

    def _verify_vec_drops(self, b: gen.CorpusBatch, before: set[int], after: set[int]) -> None:
        """Every dropped vector has a partner — in the kept corpus or
        earlier in the batch — at cosine >= the threshold."""
        dropped = sorted(before - after)
        check(after <= before, "semantic: returned ids not in its input")
        check(not (set(dropped) & set(b.originals.tolist())), "semantic: an original was dropped")
        if dropped:
            pool = sorted(self.kept_ids | (before - set(dropped)))
            pv = np.stack([self.vec[i] for i in pool])
            pv /= np.linalg.norm(pv, axis=1, keepdims=True)
            dv = np.stack([self.vec[i] for i in dropped])
            dv /= np.linalg.norm(dv, axis=1, keepdims=True)
            best = (dv @ pv.T).max(axis=1)
            check(bool(np.all(np.round(best, 4) >= COSINE - 1e-4)),
                  f"semantic: dropped ids without a partner at cosine >= {COSINE}")
        planted = set(b.near_vec)
        if planted:
            recall = len(planted - after) / len(planted)
            self.recall["near_vec"].append(recall)
            check(recall >= NEAR_VEC_RECALL, f"semantic recall {recall:.3f}")

    # -- results ------------------------------------------------------- #
    def space(self) -> tuple[int, int]:
        """(kept-corpus bytes on disk, bytes of one fresh parquet write of
        the same documents) after the first measured batch."""
        import pandas as pd
        import pyarrow as pa

        held, ids = self.amp_point
        frame = pd.concat(b.frame for b in self.batches)
        kept = frame[frame["doc_id"].isin(ids)]
        return held, gen.parquet_bytes(pa.Table.from_pandas(kept, preserve_index=False))

    def candidate_precision(self) -> float:
        return self.true_candidates / self.candidates if self.candidates else 0.0

    def details(self) -> dict:
        from perfbench.harness import timing

        return {
            "batch_ms": timing(self.batch_ms),
            "dedup_docs_per_s": self.docs / self.pipeline_s,
            "minhash_candidate_precision": self.candidate_precision(),
            "recall": self.recall,
            "batches": len(self.batch_ms),
            "batch_docs": BATCH,
        }


def _without(df, ids: set[int]):
    """``df`` minus the documents in ``ids`` (a short exclusion list: the
    drops of one stage)."""
    from pyspark.sql import functions as F

    return df.filter(~F.col("doc_id").isin(sorted(ids))) if ids else df
