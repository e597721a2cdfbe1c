"""Distributed connected components + dedup cluster collapse.

The dedup operators in :mod:`.dedup` emit near-duplicate *pairs*
(``minhash_neardup_pairs``, ``simhash_neardup_pairs``,
``ngram_jaccard_pairs``, ``embedding_neardup_pairs``).  A curation
pipeline needs *clusters*: the transitive closure of the pair graph,
with one canonical document kept per cluster.  (Near-duplicate
similarity is not transitive — A~B and B~C does not imply A~C — but
keep-one-per-component is the standard curation semantics: the
MinHash-dedup pipelines described for GPT-3 / The Pile / RefinedWeb
all collapse LSH pairs with connected components.)

:func:`connected_components` implements the alternating
large-star / small-star algorithm of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC'14) — the shape that works
at 10^12-edge scale:

* Each round is two groupBy-min + join passes over the edge list; all
  shuffles carry ``(id, id)`` rows only (16 bytes for long ids) — no
  adjacency list is ever materialized per node, so a hub with 10^8
  neighbours never concentrates on one task beyond a groupBy-min
  (which map-side partial aggregation keeps flat).
* Convergence is O(log^2 n) rounds worst-case and 3–6 rounds on real
  near-dup graphs (star-shaped components form immediately); naive
  min-label propagation is O(diameter) rounds, which a pathological
  shingle chain can push to thousands.
* Every round ends in a **localCheckpoint**: iterative DataFrame
  plans otherwise nest the full lineage of every previous round
  (exponential plan growth — the classic iterative-Spark trap).  The
  checkpoint is lazy — the convergence fingerprint that follows it is
  the action that materializes it, so a round is one Spark job, not
  two.  At cluster scale swap localCheckpoint for ``df.checkpoint()``
  on a reliable checkpoint dir; the loop structure is unchanged.

Reference lineage: datatest's RequiredUnique
(`/root/reference/datatest/requirements.py`) *reports* duplicate rows
as differences; this module is the at-scale generalization that
*resolves* the duplicates the LSH rules detect into a curation
decision (keep the canonical member of each cluster).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import local_frame

__all__ = ["connected_components", "dedup_clusters"]

#: rounds after which non-convergence is a bug, not a big graph
#: (large-star/small-star provably converges in O(log^2 n) rounds;
#: real corpora converge single-digit)
MAX_ROUNDS = 50

#: edge count below which the component labelling runs as driver-side
#: union-find instead of the iterative shuffle loop.  Same philosophy
#: as Spark's own broadcast-join threshold: the first fingerprint
#: action tells us |E| for free, and below ~1M edges (≤ ~2M label
#: rows, tens of MB on the driver — the same order as a broadcast
#: side) five shuffle rounds of fixed scheduling cost dwarf a linear
#: O(E α(E)) pass on the driver.  Above the threshold the
#: large-star/small-star loop runs unchanged — the 10^12-edge path
#: never collects anything.
UNION_FIND_MAX_EDGES = 1_000_000


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list → distinct (a, b) with a > b, no loops."""
    return (
        edges.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbour of each node to the
    minimum of its neighbourhood (incl. itself).  Output edges are
    (v, m) with v > u ≥ m — always (larger, smaller), loop-free."""
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = und.groupBy("a").agg(F.min("b").alias("mn"))
    m = mins.select("a", F.least("a", "mn").alias("m"))
    return (
        und.join(m, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect all smaller neighbours of each node (and the node
    itself) to the minimum of those neighbours."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    moved = (
        edges.join(mins, "a")
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    selfe = mins.select(F.col("a"), F.col("m").alias("b"))
    return _canonical(moved.union(selfe))


def _fingerprint(edges: DataFrame) -> tuple:
    """(row count, order-insensitive content hash) of an edge list —
    one tiny agg action; equality ⇒ the edge set is unchanged."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # XOR, not SUM: overflow-free under ANSI mode; edge rows are
        # distinct so XOR cancellation cannot collide two sets
        F.expr("bit_xor(xxhash64(a, b))").alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _union_find_labels(edge_rows) -> dict:
    """Driver-side union-find with min-id labels — the small-graph
    physical strategy.  Path-halving + union-by-choosing-the-smaller
    root keeps the root the component MINIMUM, so labels are
    bit-identical to the distributed loop's fixpoint.  Returns the
    labels as columns: ``{"node": [...], "component": [...]}``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller id stays root ⇒ root == component min throughout
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    nodes = list(parent)
    return {"node": nodes, "component": [find(n) for n in nodes]}


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         stats: Optional[dict] = None,
                         small_graph_threshold: int = UNION_FIND_MAX_EDGES,
                         ) -> DataFrame:
    """Node → component labels for the undirected graph given as a
    pair list.  The label is the component's minimum node id (any
    orderable id type: long, string, ...).

    Returns a DataFrame ``(node, component)`` with one row per node
    that appears in ``pairs`` (isolated nodes never enter the edge
    list — join the corpus back with ``coalesce`` for singletons, or
    use :func:`dedup_clusters`, which does exactly that).

    If ``stats`` (a dict) is passed it is filled with
    ``{"rounds": r, "edges": n}`` — ``edges`` is the INPUT canonical
    (deduped, loop-free) edge count on both physical paths, and
    ``rounds`` is the star-contraction round count (the scale
    diagnostic: single-digit on real graphs; 0 when the small-graph
    path ran).

    Physical strategy is picked by measured size, like Spark's
    broadcast threshold: the first fingerprint action (needed anyway
    for convergence detection) yields |E|; at or below
    ``small_graph_threshold`` edges the labelling runs as one
    driver-side union-find pass over a single collect (≤ ~32 MB at
    the default), above it the large-star/small-star shuffle loop
    runs.  Pass ``small_graph_threshold=0`` to force the distributed
    loop (the tests do, to exercise both paths).
    """
    # lazy checkpoints: the _fingerprint action that immediately
    # follows each one materializes it, so every round costs ONE Spark
    # job instead of two (eager checkpoint job + fingerprint job) —
    # lineage truncation is identical
    edges = _canonical(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    ).localCheckpoint(eager=False)
    fp = _fingerprint(edges)
    n_input = fp[0]

    if n_input <= small_graph_threshold:
        # one Arrow-accelerated columnar collect (toPandas) instead of
        # toLocalIterator: the iterator fetches partitions SEQUENTIALLY
        # (one mini-job each — dozens of scheduling round-trips for a
        # graph this small); the edge list is ≤ threshold rows by the
        # measured gate, so a single collect is bounded and ~10x faster.
        # The labels go back the same way, as Arrow columns: a local
        # relation the JVM holds, so the joins that read it start no
        # Python worker
        pdf = edges.toPandas()
        labels = _union_find_labels(
            zip(pdf["a"].tolist(), pdf["b"].tolist())
        )
        if stats is not None:
            stats["rounds"] = 0
            stats["edges"] = n_input
        spark = pairs.sparkSession
        out_schema = edges.select(
            F.col("a").alias("node"), F.col("a").alias("component")
        ).schema
        out = local_frame(spark, labels, out_schema)
        # the labels are driver-materialized — nothing downstream
        # reads the checkpointed edge cache; release it now instead of
        # pinning up to threshold-many cached rows per call
        edges.unpersist()
        return out

    rounds = 0
    while True:
        rounds += 1
        if rounds > MAX_ROUNDS:
            raise RuntimeError(
                f"connected_components did not converge in {MAX_ROUNDS} "
                "rounds — large-star/small-star converges in O(log^2 n); "
                "this indicates corrupted input (e.g. NaN ids) or a bug"
            )
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        nfp = _fingerprint(nxt)
        edges.unpersist()
        edges = nxt
        if nfp == fp:
            break
        fp = nfp

    if stats is not None:
        stats["rounds"] = rounds
        stats["edges"] = n_input

    # Fixpoint ⇒ the graph is a union of stars centred at each
    # component's minimum: every edge is (member, root).  A member
    # appears in exactly one edge; roots appear only on the right.
    members = edges.select(
        F.col("a").alias("node"), F.col("b").alias("component")
    )
    roots = edges.select(F.col("b").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    out = members.unionByName(roots)
    out._cc_edges = edges  # keep the checkpointed frame reachable
    return out


def dedup_clusters(corpus: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", src: str = "id_a",
                   dst: str = "id_b",
                   scores: Optional[DataFrame] = None,
                   score_col: str = "score",
                   stats: Optional[dict] = None,
                   small_graph_threshold: int = UNION_FIND_MAX_EDGES,
                   ) -> DataFrame:
    """Collapse near-duplicate pairs into per-document curation rows.

    Output: one row per corpus document —
    ``(id_col, cluster_id, cluster_size, is_canonical)`` where
    ``cluster_id`` is the minimum document id of the connected
    component (the document itself for singletons) and
    ``is_canonical`` marks the one row per cluster a keep-one-per-
    cluster pipeline retains (``df.where("is_canonical")``).

    By default the canonical member is the minimum id (deterministic,
    join-free).  Pass ``scores`` — a ``(id_col, score_col)`` frame,
    e.g. :func:`~datatest_spark.operators.text.unigram_logprob` or
    ``text_quality`` output — to keep the HIGHEST-quality member
    instead (ties broken by min id).  The argmax runs on the label
    frame only (documents that occur in a pair — small next to the
    corpus), via one ``max_by``-style struct aggregate, never a window
    over the corpus; scores are pruned to the label frame before the
    aggregate.

    Scale shape: the component label frame is tiny relative to the
    corpus (only documents that occur in a near-dup pair), so the
    join back is a **broadcast hash join** candidate — AQE converts
    it automatically when the pair graph is under the broadcast
    threshold; corpora where *most* documents are duplicates shuffle
    on the 8-byte id, which is the floor.  ``cluster_size`` comes
    from a groupBy on the label frame (small) broadcast-joined back,
    never a window over the corpus.
    """
    labels = connected_components(
        pairs, src=src, dst=dst, stats=stats,
        small_graph_threshold=small_graph_threshold)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("__csize")
    )
    labeled = labels.join(sizes, "component").select(
        F.col("node"), F.col("component"), F.col("__csize")
    )
    base = (
        corpus.select(id_col)
        .join(labeled, corpus[id_col] == labeled["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", id_col).alias("cluster_id"),
            F.coalesce("__csize", F.lit(1)).alias("cluster_size"),
        )
    )
    if scores is None:
        out = base.withColumn(
            "is_canonical", F.col(id_col) == F.col("cluster_id"))
    else:
        # argmax(score, tie → min id) per component, computed on the
        # small label frame; nulls score as -inf (never canonical
        # unless the whole cluster is unscored, then min id wins)
        sc = scores.select(
            F.col(id_col).alias("node"),
            F.coalesce(
                F.col(score_col).cast("double"),
                F.lit(float("-inf"))).alias("__q"),
        )
        scored = labels.join(sc, "node", "left").na.fill(
            {"__q": float("-inf")})
        best = scored.groupBy("component").agg(F.max("__q").alias("__bq"))
        # min id among the max-score rows — exact float equality is
        # safe (same value, same representation); works for string ids
        # too, where a numeric negation tie-break would not
        ranked = (
            scored.join(best, "component")
            .where(F.col("__q") == F.col("__bq"))
            .groupBy("component")
            .agg(F.min("node").alias("__keep"))
            .select(
                F.col("component").alias("cluster_id"), F.col("__keep"))
        )
        # no forced broadcast: `ranked` is one row per multi-member
        # component — tiny on real graphs (AQE broadcasts it at runtime
        # when it is), but unbounded at 10^12-clip scale where a forced
        # hint would OOM the driver.  Strategy choice belongs to the
        # measured-size machinery, same as the union-find gate.
        out = (
            base.join(ranked, "cluster_id", "left")
            .select(
                F.col(id_col),
                F.col("cluster_id"),
                F.col("cluster_size"),
                F.coalesce(
                    F.col(id_col) == F.col("__keep"),
                    F.col(id_col) == F.col("cluster_id"),
                ).alias("is_canonical"),
            )
        )
    out._cc_labels = labels  # keep checkpointed lineage reachable
    return out
