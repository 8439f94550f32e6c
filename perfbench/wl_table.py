"""table_maintenance — the versioned-table workload: keyed maintenance
of one table (clustered and scattered upserts, CDC, merge-on-read
deletes, pruned and time-travel reads, replica catch-up; ``wl_keyed``)
next to incremental dedup of a document corpus that only ever appends
to a second table (``wl_dedup``).

The closed loop runs whole rounds: a round is a merge, a CDC batch and a
merge-on-read delete on each keyed table plus a pruned and a time-travel
read of the clustered one, then, alternately, one corpus batch or a
replica catch-up.

Layers: sources.versioned, sources.filestats, operators.dedup,
operators.similarity. No CSV, row-index or frame work.
"""

from __future__ import annotations

from perfbench.wl_dedup import CorpusDedup
from perfbench.wl_keyed import KeyedTables

#: length of one measured round on a 4-vCPU host; a run measures
#: ``round(--seconds / ROUND_S)`` rounds (at least one), a count fixed by
#: ``--seconds`` alone, so every host runs the same calls
ROUND_S = 13.0


class TableMaintenance:
    name = "table_maintenance"

    def __init__(self, spark, rec, work: str, seed: int) -> None:
        self.rec = rec
        self.keyed = KeyedTables(spark, rec, work, seed)
        self.corpus = CorpusDedup(spark, rec, work, seed)
        self.rounds = 0

    def generate(self) -> None:
        self.keyed.generate()
        self.corpus.generate()

    def build(self) -> None:
        """The program's set-up step the runner repeats: the keyed base
        table's initial write."""
        self.keyed.write_base()

    def warmup(self) -> None:
        """The rest of the set-up, once — the scattered copy, the replica
        bootstrap, the kept corpus and its signature table — then one
        untimed pass over the commit, read and dedup calls (first-process
        JIT): a keyed round on the clustered table and a corpus batch."""
        self.keyed.prepare()
        self.corpus.build()
        self.keyed.table_round(self.keyed.tables[0])
        self.corpus.batch()

    def run(self) -> None:
        self.rounds = max(1, round(self.rec.seconds / ROUND_S))
        for i in range(self.rounds):
            self.keyed.pair()
            if i % 2 == 0:
                self.corpus.batch()
            else:
                self.keyed.replicate()

    def finish(self) -> None:
        self.keyed.finish()

    # -- end-to-end ----------------------------------------------------- #
    def call_samples(self) -> list[float]:
        """Keyed commits: merge, apply_cdc and merge-on-read delete."""
        return self.keyed.commit_samples()

    def rows_per_s(self) -> float:
        """Rows committed by keyed commits plus documents through the
        dedup pipeline, per second spent in those calls."""
        return ((self.keyed.commit_rows + self.corpus.docs)
                / (self.keyed.commit_s + self.corpus.pipeline_s))

    def space_amp(self) -> float:
        held_k, fresh_k = self.keyed.space()
        held_c, fresh_c = self.corpus.space()
        return (held_k + held_c) / (fresh_k + fresh_c)

    def candidate_precision(self) -> float:
        return self.corpus.candidate_precision()

    def details(self) -> dict:
        return {"rounds": self.rounds, **self.keyed.details(), **self.corpus.details()}
