"""connected_components / dedup_clusters vs a pure-Python union-find."""

import math
import random

import pytest
from pyspark.sql import functions as F

from datatest_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def uf_components(n_nodes, edges):
    """Reference union-find: node -> min id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def spark_labels(spark, edges, threshold=None):
    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")
    stats = {}
    kw = {} if threshold is None else {"small_graph_threshold": threshold}
    got = connected_components(pairs, stats=stats, **kw)
    return {r["node"]: r["component"] for r in got.collect()}, stats


class TestConnectedComponents:
    # threshold=None → size-gated driver union-find path (the default
    # for graphs this small); threshold=0 → forced distributed
    # large-star/small-star loop.  Both must label identically.
    @pytest.mark.parametrize("threshold", [None, 0])
    @pytest.mark.parametrize("seed,n,m", [(1, 30, 25), (2, 60, 40),
                                          (3, 100, 130)])
    def test_matches_union_find(self, spark, seed, n, m, threshold):
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        want = uf_components(n, edges)
        got, stats = spark_labels(spark, edges, threshold)
        touched = {a for e in edges for a in e if e[0] != e[1]}
        assert set(got) == touched
        for node in touched:
            assert got[node] == want[node], f"node {node}"
        if threshold is None:
            assert stats["rounds"] == 0  # the small-graph path ran
        else:
            assert stats["rounds"] >= 1  # the shuffle loop ran

    def test_chain_converges_fast(self, spark):
        # a 64-node path: diameter 63, but star-contraction needs
        # only O(log^2 n) rounds — the scale property under test
        # (threshold=0 forces the distributed loop)
        edges = [(i, i + 1) for i in range(63)]
        got, stats = spark_labels(spark, edges, threshold=0)
        assert all(v == 0 for v in got.values())
        assert 1 <= stats["rounds"] <= 12
        assert stats["edges"] == 63  # input canonical edge count

    @pytest.mark.parametrize("threshold", [None, 0])
    def test_two_components_and_self_loops(self, spark, threshold):
        edges = [(1, 2), (2, 3), (3, 3), (10, 11), (11, 10)]
        got, _ = spark_labels(spark, edges, threshold)
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a: long, id_b: long")
        assert connected_components(pairs).count() == 0

    @pytest.mark.parametrize("threshold", [None, 0])
    def test_string_ids(self, spark, threshold):
        edges = [("b", "a"), ("c", "b"), ("x", "y")]
        pairs = spark.createDataFrame(edges, "id_a: string, id_b: string")
        kw = {} if threshold is None else {"small_graph_threshold": 0}
        got = {r["node"]: r["component"]
               for r in connected_components(pairs, **kw).collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


class TestDedupClusters:
    @pytest.mark.parametrize("threshold", [2_000_000, 0])
    def test_corpus_join_back(self, spark, threshold):
        corpus = spark.createDataFrame(
            [(i,) for i in range(8)], "doc_id: long")
        pairs = spark.createDataFrame(
            [(1, 4), (4, 6), (2, 7)], "id_a: long, id_b: long")
        rows = {r["doc_id"]: r for r in
                dedup_clusters(corpus, pairs,
                               small_graph_threshold=threshold).collect()}
        assert len(rows) == 8
        # component {1,4,6} -> cluster 1; {2,7} -> cluster 2
        for d, cid, size in [(1, 1, 3), (4, 1, 3), (6, 1, 3),
                             (2, 2, 2), (7, 2, 2)]:
            assert rows[d]["cluster_id"] == cid
            assert rows[d]["cluster_size"] == size
            assert rows[d]["is_canonical"] == (d == cid)
        for d in (0, 3, 5):  # singletons
            assert rows[d]["cluster_id"] == d
            assert rows[d]["cluster_size"] == 1
            assert rows[d]["is_canonical"]

    def test_keep_canonical_is_one_per_cluster(self, spark):
        corpus = spark.createDataFrame(
            [(i,) for i in range(20)], "doc_id: long")
        rng = random.Random(7)
        pairs = spark.createDataFrame(
            [(rng.randrange(20), rng.randrange(20)) for _ in range(15)],
            "id_a: long, id_b: long")
        out = dedup_clusters(corpus, pairs)
        kept = out.where("is_canonical")
        assert kept.count() == out.select("cluster_id").distinct().count()
        # every cluster's canonical is its minimum member
        bad = (
            out.groupBy("cluster_id").agg(F.min("doc_id").alias("mn"))
            .where(F.col("mn") != F.col("cluster_id")).count()
        )
        assert bad == 0

    def test_quality_scored_canonical(self, spark):
        corpus = spark.createDataFrame(
            [(i,) for i in range(8)], "doc_id: long")
        pairs = spark.createDataFrame(
            [(1, 4), (4, 6), (2, 7)], "id_a: long, id_b: long")
        # cluster {1,4,6}: best score at 4; cluster {2,7}: tie → min id 2;
        # doc 6 unscored (null) → -inf
        scores = spark.createDataFrame(
            [(1, 0.1), (4, 0.9), (6, None), (2, 0.5), (7, 0.5), (0, 9.9)],
            "doc_id: long, score: double")
        rows = {r["doc_id"]: r for r in dedup_clusters(
            corpus, pairs, scores=scores).collect()}
        assert [d for d in (1, 4, 6) if rows[d]["is_canonical"]] == [4]
        assert [d for d in (2, 7) if rows[d]["is_canonical"]] == [2]
        for d in (0, 3, 5):  # singletons stay canonical regardless
            assert rows[d]["is_canonical"]
        # exactly one canonical per cluster
        kept = [d for d, r in rows.items() if r["is_canonical"]]
        assert sorted(kept) == [0, 2, 3, 4, 5]

    def test_quality_all_unscored_falls_back_to_min_id(self, spark):
        corpus = spark.createDataFrame(
            [(i,) for i in range(4)], "doc_id: long")
        pairs = spark.createDataFrame(
            [(1, 3)], "id_a: long, id_b: long")
        scores = spark.createDataFrame(
            [(0, 1.0)], "doc_id: long, score: double")  # cluster unscored
        rows = {r["doc_id"]: r for r in dedup_clusters(
            corpus, pairs, scores=scores).collect()}
        assert rows[1]["is_canonical"] and not rows[3]["is_canonical"]


def reference_clusters(ids, edges, scores):
    """Pure-Python dedup_clusters: doc id -> (cluster_id, size,
    is_canonical), keeping the best score per cluster (NULL and NaN
    rank as -inf, an id ranks by its best score row, ties to the min
    id)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best = {}
    for d, s in scores:
        s = float("-inf") if s is None or math.isnan(s) else s
        best[d] = max(best.get(d, s), s)
    members = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    out = {}
    for d in ids:
        if d not in parent:
            out[d] = (d, 1, True)
            continue
        group = members[find(d)]
        keep = min(group, key=lambda m: (-best.get(m, float("-inf")), m))
        out[d] = (find(d), len(group), d == keep)
    return out


class TestDedupClustersScoredParity:
    @pytest.mark.parametrize("threshold", [None, 0])
    @pytest.mark.parametrize("case", ["long", "string", "random"])
    def test_matches_reference(self, spark, case, threshold):
        nan, inf = float("nan"), float("inf")
        if case == "long":
            ids = list(range(14))
            edges = [(1, 4), (4, 6), (2, 7), (8, 9), (9, 10), (3, 11),
                     (5, 5), (12, 13)]
            # NaN beats nothing; -inf ties resolve to the min id; 10's
            # best of two rows wins; -0.0 ties 0.0; NULL is -inf
            scores = [(1, 0.1), (4, nan), (6, None), (2, 0.5), (7, 0.5),
                      (0, 9.9), (8, -inf), (9, -inf), (10, -1.0),
                      (10, 3.0), (3, 0.0), (11, -0.0), (11, -0.0),
                      (13, inf)]
            kind = "long"
        elif case == "string":
            ids = list("abcdxyz")
            edges = [("b", "a"), ("c", "b"), ("x", "y")]
            scores = [("a", 1.0), ("b", 2.0), ("c", 2.0), ("x", None),
                      ("y", nan)]
            kind = "string"
        else:
            rng = random.Random(5)
            ids = list(range(60))
            edges = [(rng.randrange(60), rng.randrange(60))
                     for _ in range(50)]
            scores = [(rng.randrange(60),
                       rng.choice([None, nan, -inf, 1.0, 2.0, rng.random()]))
                      for _ in range(90)]
            kind = "long"
        corpus = spark.createDataFrame([(d,) for d in ids], f"doc_id {kind}")
        pairs = spark.createDataFrame(edges, f"id_a {kind}, id_b {kind}")
        sc = spark.createDataFrame(scores, f"doc_id {kind}, score double")
        kw = {} if threshold is None else {"small_graph_threshold": 0}
        got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"],
                             r["is_canonical"])
               for r in dedup_clusters(corpus, pairs, scores=sc,
                                       **kw).collect()}
        assert got == reference_clusters(
            ids, [e for e in edges if e[0] != e[1]], scores)
