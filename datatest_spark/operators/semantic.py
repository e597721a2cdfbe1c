"""Semantic (embedding-space) deduplication — the SemDeDup shape.

Exact near-dup operators (:mod:`.dedup`) catch *literal* duplicates:
shared shingles, shared bit signatures.  Web-scale curation pipelines
additionally prune *semantic* duplicates — documents whose embeddings
are nearly parallel even though their surface text differs (Abbas et
al., "SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", arXiv:2303.09540).  The published recipe, re-expressed
Spark-first:

1. **Bucket** the corpus into k clusters so the quadratic step never
   sees the whole corpus.  Clustering here is spherical k-means with
   *deterministic* anchor initialization (the embeddings of the k
   smallest ids) and optional Lloyd refinement.  Assignment is one
   vectorized pandas UDF over a closed-over k x d float64 anchor
   matrix (k is small — the matrix ships with the task closure); NO
   shuffle.  Lloyd updates use the mergeable-partial-aggregate shape:
   ``mapInPandas`` emits per-partition ``(cluster, count, sum-vector)``
   partials — at most ``numPartitions x k`` tiny rows — which are
   combined on the driver and re-broadcast.  The full corpus never
   shuffles during clustering.
2. **Pairwise-prune within each cluster**: ``applyInPandas`` per
   cluster computes the cosine matrix in float64 blocks and marks a
   row as a semantic duplicate when some row *earlier in the keep
   order* (smaller id, or higher quality with ``keep="quality"``) is
   within ``threshold`` — ANY earlier row, kept or itself a
   duplicate: dominator sets are then monotone in cluster refinement,
   which is what makes :func:`semantic_dedup_recall`'s nested-recall
   measurement sound.  O(m^2) per cluster is inherent to SemDeDup; the
   ``max_cluster_size`` guard fails loudly (raise, never silent
   truncation) when a cluster outgrows the documented bound — the fix
   is more clusters, exactly as in the paper.

Float discipline for oracle parity: every cosine uses the textbook
``dot / (|a| * |b|)`` association in float64 (same as the DuckDB
oracle's ``list_dot_product`` expression), thresholds compare the raw
float64 value, and the *reported* similarity is rounded JVM-side with
``F.round`` (HALF_UP — matches DuckDB ``round``; numpy's half-even
``np.round`` is deliberately NOT used on emitted values).

Reference lineage: datatest has no embedding surface; this extends its
RequiredUnique duplicate *reporting* (`/root/reference/datatest/
requirements.py`) to approximate semantic identity, the same way
`dedup.py` extends it to MinHash/SimHash surface identity
(SURVEY §2 training-data additions).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import local_frame

__all__ = ["kmeans_assign", "semantic_dedup", "semantic_dedup_recall"]


def _anchor_matrix(df: DataFrame, column: str, id_col: str,
                   n_clusters: int) -> np.ndarray:
    """Deterministic init: embeddings of the ``n_clusters`` smallest
    ids, as a raw (unnormalized) float64 k x d matrix.  The collect is
    bounded by k — never corpus-sized."""
    rows = (df.select(id_col, column)
              .orderBy(F.col(id_col).asc())
              .limit(n_clusters).collect())
    if len(rows) < n_clusters:
        raise ValueError(
            f"kmeans_assign: corpus has {len(rows)} rows < "
            f"n_clusters={n_clusters}")
    return np.array([[float(v) for v in r[1]] for r in rows], dtype=float)


def _assign_udf(cmat: np.ndarray):
    """argmax-cosine assignment against the closed-over centroid
    matrix; first-max tie-break == the oracle's ORDER BY cs DESC,
    cluster_id ASC."""
    cnorm = np.maximum(np.linalg.norm(cmat, axis=1), 1e-12)

    @F.pandas_udf(T.IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        mat = np.array(v.tolist(), dtype=float)
        norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        sims = (mat @ cmat.T) / (norms[:, None] * cnorm[None, :])
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return assign


def kmeans_assign(df: DataFrame, column: str = "embedding",
                  id_col: str = "vec_id", n_clusters: int = 8,
                  lloyd_iters: int = 0,
                  cluster_col: str = "cluster_id") -> DataFrame:
    """Spherical k-means cluster assignment, deterministic end to end.

    Returns ``df`` plus an integer ``cluster_col``.  ``lloyd_iters=0``
    is pure anchor assignment (the oracle-certified configuration);
    each Lloyd iteration re-estimates centroids from the mergeable
    per-partition partial sums described in the module docstring and
    re-assigns.  Empty clusters keep their previous centroid.
    """
    cmat = _anchor_matrix(df, column, id_col, n_clusters)
    d = cmat.shape[1]

    partial_schema = T.StructType([
        T.StructField("cluster", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("vsum", T.ArrayType(T.DoubleType())),
    ])

    for _ in range(lloyd_iters):
        assign = _assign_udf(cmat)
        k, mat = n_clusters, cmat  # rebind for closure clarity

        def partials(batches: Iterator[pd.DataFrame],
                     _cmat=cmat) -> Iterator[pd.DataFrame]:
            cn = np.maximum(np.linalg.norm(_cmat, axis=1), 1e-12)
            sums = np.zeros((k, d)); counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf.iloc[:, 0].tolist(), dtype=float)
                nx = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
                a = np.argmax((X @ _cmat.T) / (nx[:, None] * cn[None, :]),
                              axis=1)
                np.add.at(sums, a, X)
                np.add.at(counts, a, 1)
            live = np.nonzero(counts)[0]
            if len(live):
                yield pd.DataFrame({
                    "cluster": live.astype(np.int32),
                    "n": counts[live],
                    "vsum": [sums[i].tolist() for i in live],
                })

        rows = (df.select(column).mapInPandas(partials, partial_schema)
                  .collect())  # <= numPartitions x k tiny rows
        nxt = mat.copy()
        agg_n = np.zeros(n_clusters, dtype=np.int64)
        agg_s = np.zeros((n_clusters, d))
        for r in rows:
            agg_n[r["cluster"]] += r["n"]
            agg_s[r["cluster"]] += np.asarray(r["vsum"])
        for c in range(n_clusters):
            if agg_n[c]:
                nxt[c] = agg_s[c] / agg_n[c]
        cmat = nxt

    return df.withColumn(cluster_col, _assign_udf(cmat)(F.col(column)))


def semantic_dedup(df: DataFrame, column: str = "embedding",
                   id_col: str = "vec_id", n_clusters: int = 8,
                   threshold: float = 0.9, lloyd_iters: int = 0,
                   keep: str = "min_id",
                   quality_col: Optional[str] = None,
                   max_cluster_size: int = 100_000) -> DataFrame:
    """SemDeDup decision frame: one row per input row with
    ``(id, cluster_id, is_dup, dup_of, sim_r)``.

    A row is a duplicate when some row *earlier in the keep order*
    within its cluster has cosine >= ``threshold``; ``dup_of`` is the
    earliest such row's id and ``sim_r`` the (4-dp rounded) cosine to
    it.  ``keep="min_id"`` orders by ascending id (the deterministic,
    oracle-certified rule); ``keep="quality"`` orders by descending
    ``quality_col`` then ascending id, so the highest-quality member
    of each semantic group survives — the `canonical_by_quality`
    semantics lifted to embedding space.

    Blocked float64 matmul bounds peak memory at ``block x m`` per
    cluster; a cluster larger than ``max_cluster_size`` raises with
    the SemDeDup remedy (raise ``n_clusters``) instead of silently
    degrading.

    ``id_col`` values must be unique (the keep order is a total
    order); pre-deduplicate id collisions first — e.g.
    ``dropDuplicates([id_col])`` after an exact content dedup, as the
    audio composition does.
    """
    if keep not in ("min_id", "quality"):
        raise ValueError(f"semantic_dedup: unknown keep={keep!r}")
    if keep == "quality" and not quality_col:
        raise ValueError("semantic_dedup: keep='quality' needs quality_col")

    assigned = kmeans_assign(df, column, id_col, n_clusters, lloyd_iters)

    id_field = df.schema[id_col]
    out_schema = T.StructType([
        T.StructField(id_col, id_field.dataType),
        T.StructField("cluster_id", T.IntegerType()),
        T.StructField("is_dup", T.BooleanType()),
        T.StructField("dup_of", id_field.dataType),
        T.StructField("sim", T.DoubleType()),
    ])
    cols = [id_col, column, "cluster_id"] + (
        [quality_col] if keep == "quality" else [])

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > max_cluster_size:
            raise ValueError(
                f"semantic_dedup: cluster of {m} rows exceeds "
                f"max_cluster_size={max_cluster_size}; raise n_clusters "
                "so the within-cluster O(m^2) stage stays bounded")
        if keep == "quality":
            order = np.lexsort((pdf[id_col].to_numpy(),
                                -pdf[quality_col].to_numpy(dtype=float)))
        else:
            order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        X = np.array(pdf[column].tolist(), dtype=float)[order]
        norms = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
        cid = int(pdf["cluster_id"].iloc[0])

        is_dup = np.zeros(m, dtype=bool)
        dup_of: list = [None] * m  # id-typed (long OR string ids)
        sim = np.full(m, np.nan)
        block = 1024
        for lo in range(1, m, block):
            hi = min(lo + block, m)
            # textbook dot/(|a||b|) association — oracle parity
            S = (X[lo:hi] @ X[:hi].T) / np.outer(norms[lo:hi], norms[:hi])
            for r in range(hi - lo):
                i = lo + r
                hits = np.nonzero(S[r, :i] >= threshold)[0]
                if len(hits):
                    j = int(hits[0])  # earliest in keep order
                    is_dup[i] = True
                    v = ids[j]
                    dup_of[i] = v.item() if isinstance(v, np.generic) else v
                    sim[i] = S[r, j]
        return pd.DataFrame({
            id_col: ids,
            "cluster_id": np.full(m, cid, dtype=np.int32),
            "is_dup": is_dup,
            "dup_of": pd.Series(dup_of, dtype=object),
            "sim": sim,
        })

    out = (assigned.select(*cols)
           .groupBy("cluster_id")
           .applyInPandas(per_cluster, out_schema))
    return out.withColumn("sim_r", F.round("sim", 4)).drop("sim")


def semantic_dedup_recall(df: DataFrame, column: str = "embedding",
                          id_col: str = "vec_id", threshold: float = 0.9,
                          n_clusters_list=(2, 4, 8),
                          max_cluster_size: int = 100_000) -> DataFrame:
    """Measured recall of the bucketed SemDeDup path per cluster count
    — evidence (not an assertion) of what k-cluster bucketing costs.

    The exact reference is ``semantic_dedup(n_clusters=1)``: a row is a
    duplicate when ANY smaller-id row in the whole corpus is within
    ``threshold``.  Bucketing can only *miss* duplicates (a row's
    in-cluster dominator is always a global dominator), so the
    flagged-row sets are nested and recall is the plain count ratio
    ``n_found / n_exact``.  Output: one row per cluster count —
    ``(n_clusters, n_exact, n_found, recall)``.

    Like :func:`~datatest_spark.operators.ann.ivf_recall`, this is the
    dev-scale quality harness: the exact pass is all-pairs within one
    cluster, so run it on a sampled slice when the corpus exceeds
    ``max_cluster_size``.  The recall ratio is a raw IEEE division
    (no rounding) so oracle comparison is bit-exact.
    """
    spark = df.sparkSession
    n_exact = (semantic_dedup(df, column, id_col, n_clusters=1,
                              threshold=threshold,
                              max_cluster_size=max_cluster_size)
               .filter("is_dup").count())
    rows = []
    for k in n_clusters_list:
        n_found = (semantic_dedup(df, column, id_col, n_clusters=int(k),
                                  threshold=threshold,
                                  max_cluster_size=max_cluster_size)
                   .filter("is_dup").count())
        rows.append((int(k), n_exact, n_found,
                     (n_found / n_exact) if n_exact else None))
    return local_frame(
        spark, rows,
        "n_clusters int, n_exact long, n_found long, recall double")
