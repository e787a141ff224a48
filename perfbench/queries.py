"""``queries``: the relational templates and the corpus stages in one mix.

A pass is one op per relational template (``interactive.py``) and one
per corpus stage (``corpus.py``), in that order. The relational ops are
planning-bound and collect small results; the stage ops are
executor-bound. Each op is checked: relational ops against DuckDB
answers computed before any timing, stage ops against the registry's
oracle on their first run and by fingerprint after it.
"""

from __future__ import annotations

from perfbench.corpus import STAGES, Corpus
from perfbench.interactive import Interactive


class Queries:
    #: passes run before the timed window, after the cold first pass
    warm_passes = 1

    def __init__(self, root, seed, tracer):
        self.root = root
        self.rel = Interactive(root, seed, tracer)
        self.corpus = Corpus(root, seed, tracer)
        self.ops_per_pass = self.rel.ops_per_pass + len(STAGES)

    def generate(self) -> None:
        self.rel.generate()
        self.corpus.generate()

    def register(self, ctx) -> None:
        self.rel.register(ctx)

    def prepare(self, duck) -> None:
        self.rel.prepare(duck)
        self.corpus.prepare(duck)

    def run_op(self, i: int, spark) -> dict:
        p, k = divmod(i, self.ops_per_pass)
        n_rel = self.rel.ops_per_pass
        if k < n_rel:
            return self.rel.run_op(p * n_rel + k, spark)
        return self.corpus.run_stage(STAGES[k - n_rel], spark)

    def rebuild(self, spark) -> list:
        return self.rel.rebuild(spark) + self.corpus.rebuild(spark)
