"""``dedup_docs``: near-duplicate collapse over a text corpus.

Each operation runs ``operators.ngram_jaccard_pairs``, then
``dedup_clusters`` with ``unigram_logprob`` scores (the
``canonical_by_quality`` composition), and collects cluster counts in
one action.  The skewed posting-list self-join inside the pair
operator is the target of the engine's candidate-pruning work, and no
other workload runs it.

The corpus is the first ``N_DOCS`` documents of the repository's sf0.1
``documents`` table (``data/documents.parquet``).  The seed picks
``PERMS`` permutations of the ids and of the row order, and the
operations take them in turn.  The work depends on the permutation
(the connected-components rounds follow how ids fall along a chain of
pairs), so a run covers several.  The expected clusters come from
``oracles.ngram_jaccard_rows``, the pure-Python pair recomputation,
computed once per seed on the first permutation: relabelling and
reordering the documents leaves the cluster and member counts as they
are.
"""

from __future__ import annotations

import json
import os
import random

import harness
from cache import run_procs, seed_dir

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "data", "documents.parquet")
N_DOCS = 2000
PAIRS = dict(n=2, min_jaccard=0.1, max_df=1000)
VOCAB = 500
#: permutations per seed: as many as a run times operations
PERMS = 4


def _components(edges) -> list:
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    return [g for g in groups.values() if len(g) > 1]


def build_corpus(tmp: str, seed: int) -> None:
    """Write the permuted corpora and the oracle cluster counts."""
    import oracles
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(CORPUS).slice(0, N_DOCS)
    ids = src.column("doc_id").to_pylist()
    for p in range(PERMS):
        rng = random.Random(seed * PERMS + p)
        new_id = list(range(N_DOCS))
        rng.shuffle(new_id)
        order = list(range(N_DOCS))
        rng.shuffle(order)
        table = pa.table({
            "doc_id": pa.array([new_id[ids[k]] for k in order], pa.int64()),
            "text": src.column("text").take(order),
        })
        os.makedirs(os.path.join(tmp, f"p{p}"))
        pq.write_table(table, os.path.join(tmp, f"p{p}", "documents.parquet"))
    pairs = oracles.ngram_jaccard_rows(os.path.join(tmp, "p0"), PAIRS["n"],
                                       PAIRS["min_jaccard"], PAIRS["max_df"])
    multi = _components((a, b) for a, b, _ in pairs)
    members = sum(len(g) for g in multi)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump({"clusters": N_DOCS - members + len(multi),
                   "members": members, "pairs": len(pairs)}, fh)


def generate(cache: str, seed: int) -> str:
    """The permuted corpus and its oracle cluster counts, built in a
    process of their own."""

    def build(tmp: str) -> None:
        run_procs([("dedup_docs", "build_corpus", (tmp, seed))])

    return seed_dir(cache, "dedup_docs", f"n{N_DOCS}x{PERMS}-s{seed}", build)


class Workload(harness.Workload):
    name = "dedup_docs"
    items = N_DOCS

    def generate(self, spark) -> None:
        self.dir = generate(self.cache, self.seed)
        with open(os.path.join(self.dir, "expected.json")) as fh:
            self.expected = json.load(fh)

    def open(self, spark) -> None:
        self.spark = spark
        self.corpora = [
            spark.read.parquet(os.path.join(self.dir, f"p{p}", "documents.parquet"))
            for p in range(PERMS)]
        self.docs = self.corpora[0]
        self.ops = 0

    def reset(self) -> None:
        from datatest_spark.operators.dedup import unpersist_cached

        unpersist_cached()
        harness.assert_storage_empty(self.spark)

    def op(self, tr):
        from datatest_spark.operators import (dedup_clusters,
                                              ngram_jaccard_pairs,
                                              unigram_logprob)
        from pyspark.sql import functions as F

        docs = self.corpora[self.ops % PERMS]
        self.ops += 1
        with tr.span("operators.dedup.pairs"):
            pairs = ngram_jaccard_pairs(docs, "text", id_col="doc_id", **PAIRS)
        with tr.span("operators.text.logprob"):
            scores = unigram_logprob(docs, "text", id_col="doc_id",
                                     vocab_size=VOCAB)
        with tr.span("operators.graph.components"):
            out = dedup_clusters(docs, pairs, id_col="doc_id",
                                 scores=scores, score_col="logprob_r")
        with tr.span("operators.execute"):
            return out.agg(
                F.count(F.lit(1)).alias("docs"),
                F.countDistinct("cluster_id").alias("clusters"),
                F.sum((F.col("cluster_size") > 1).cast("long")).alias("members"),
                F.sum(F.col("is_canonical").cast("long")).alias("canonical"),
            ).first().asDict()

    def check(self, got) -> str:
        want = {"docs": N_DOCS, "clusters": self.expected["clusters"],
                "members": self.expected["members"],
                "canonical": self.expected["clusters"]}
        return "" if got == want else f"clusters {got} != oracle {want}"

    def probes(self, tr) -> dict:
        """Each operator forced on its own; components reads persisted
        pairs and scores so it times the graph step alone."""
        from datatest_spark.operators import (dedup_clusters,
                                              ngram_jaccard_pairs,
                                              unigram_logprob)

        self.reset()
        with tr.span("operators.dedup.pairs") as s_pairs:
            pairs = ngram_jaccard_pairs(self.docs, "text", id_col="doc_id", **PAIRS)
            held = pairs.groupBy().count()
            n_pairs = held.collect()[0][0]
        # the posting self-join: an inner equi-join on the shingle hash
        joins = [n["metrics"].get("numOutputRows", 0.0)
                 for n in harness.plan_nodes(held)
                 if "Join" in n["cls"] and "[g#" in n["desc"]
                 and "Inner" in n["desc"]]
        candidates = max(joins, default=0.0)
        with tr.span("operators.text.logprob") as s_lp:
            scores = unigram_logprob(self.docs, "text", id_col="doc_id",
                                     vocab_size=VOCAB)
            scores.groupBy().count().collect()
        pairs = pairs.persist()
        scores = scores.persist()
        pairs.count()
        scores.count()
        with tr.span("operators.graph.components") as s_cc:
            out = dedup_clusters(self.docs, pairs, id_col="doc_id",
                                 scores=scores, score_col="logprob_r")
            out.groupBy().count().collect()
        pairs.unpersist()
        scores.unpersist()
        return {
            "operators.dedup.pairs_s": s_pairs["end"] - s_pairs["start"],
            "operators.dedup.candidates": candidates,
            "operators.dedup.pair_yield": n_pairs / candidates if candidates else 0.0,
            "operators.graph.components_s": s_cc["end"] - s_cc["start"],
            "operators.text.logprob_s": s_lp["end"] - s_lp["start"],
        }