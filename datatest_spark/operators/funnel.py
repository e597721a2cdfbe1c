"""End-to-end curation funnel: validate → dedup → decontaminate → split.

Every stage is an operator this package already ships; the funnel is
the *composition* a training-data pipeline actually runs, with one
row of evidence per stage — ``(stage, rows_in, rows_out)`` — so the
attrition at each step is observable instead of implicit.

Stage semantics (each optional, in fixed order):

1. **valid** — keep rows passing ``valid_predicate`` (a Column
   expression: non-null text, language whitelist, …).  This is the
   ``validate()``/quarantine step reduced to its keep-side.
2. **dedup_exact** — keep the min-id row per exact text duplicate
   group, via the same 16-byte ``(xxhash64(text), length(text))``
   grouping as :func:`~datatest_spark.operators.dedup.exact_duplicates`
   (no document body ever enters the aggregate state; the join back
   is an equi-join on the hash pair + keep id).
3. **near_dedup** — optional caller-supplied frame transform
   (``DataFrame -> DataFrame``) slotted between exact dedup and
   decontamination: plug in the canonical-keep side of
   :func:`~datatest_spark.operators.graph.dedup_clusters`,
   :func:`~datatest_spark.operators.semantic.semantic_dedup`, or any
   custom pruner; the funnel reports its attrition like every other
   stage.  Must be a pure transformation (no actions) for
   ``emit="data"`` to stay lazy, and must preserve ``id_col`` (report
   mode joins survivors back by id).
4. **decontaminate** — drop rows sharing ≥ ``min_overlap`` distinct
   word n-grams with ``eval_df``
   (:func:`~datatest_spark.operators.contamination.decontaminate`),
   as a broadcast/shuffle anti-join on contaminated ids.
5. **split** — keep the ``keep_split`` assignment of the
   deterministic md5 :func:`~datatest_spark.operators.split.hash_split`.

Reference lineage: the reference validates and *reports* (datatest's
validate()/ValidationError, /root/reference/datatest/validation.py);
it has no curation pipeline.  The funnel extends that evidence-first
discipline — every stage emits auditable counts the way validate()
emits difference rows — to the dedup/decontaminate/split composition
a training pipeline runs around the validation step.

``emit="report"`` counts every stage boundary in ONE aggregate action
over cumulative per-row survival flags — no full stage frame is ever
persisted (caching N copies of a 100 TB corpus is the scale hazard
the flag form removes) — and returns the tiny stage-count frame;
``emit="data"`` returns the final clean DataFrame fully lazily — no
action, no persist, so it composes into a larger plan and the funnel
is a pure transformation at 100 TB.
"""

from __future__ import annotations

from typing import Callable, Mapping, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import local_frame

__all__ = ["curation_funnel"]


def curation_funnel(df: DataFrame, eval_df: Optional[DataFrame] = None,
                    text_col: str = "text", id_col: str = "doc_id",
                    valid_predicate: Optional[Column] = None,
                    n: int = 3, min_overlap: int = 1,
                    near_dedup: Optional[
                        Callable[[DataFrame], DataFrame]] = None,
                    fractions: Optional[Mapping[str, float]] = None,
                    keep_split: str = "train", salt: str = "",
                    emit: str = "report") -> DataFrame:
    """Run the curation funnel over ``df``; see module docstring."""
    if emit not in ("report", "data"):
        raise ValueError(f"curation_funnel: unknown emit={emit!r}")

    stages = []  # (name, frame_before, frame_after) built lazily
    cur = df

    if valid_predicate is not None:
        nxt = cur.filter(valid_predicate)
        stages.append(("valid", cur, nxt))
        cur = nxt

    # exact dedup: min-id per (xxhash64(text), length(text)) group —
    # the exact_duplicates aggregate shape, keep-side
    keys = (cur.groupBy(F.xxhash64(F.col(text_col)).alias("__h"),
                        F.length(text_col).alias("__l"))
            .agg(F.min(id_col).alias("__keep")))
    nxt = cur.join(
        keys,
        (F.xxhash64(F.col(text_col)) == F.col("__h"))
        & (F.length(text_col) == F.col("__l"))
        & (F.col(id_col) == F.col("__keep")),
        "left_semi")
    stages.append(("dedup_exact", cur, nxt))
    cur = nxt

    if near_dedup is not None:
        nxt = near_dedup(cur)
        stages.append(("near_dedup", cur, nxt))
        cur = nxt

    if eval_df is not None:
        from .contamination import decontaminate

        contaminated = (decontaminate(cur, eval_df, column=text_col,
                                      id_col=id_col, n=n,
                                      min_overlap=min_overlap)
                        .filter("contaminated").select(id_col))
        nxt = cur.join(contaminated, id_col, "left_anti")
        stages.append(("decontaminate", cur, nxt))
        cur = nxt

    if fractions is not None:
        from .split import hash_split

        nxt = (hash_split(cur, id_col, fractions, salt=salt)
               .filter(F.col("split") == keep_split).drop("split"))
        stages.append((f"split_{keep_split}", cur, nxt))
        cur = nxt

    if emit == "data":
        return cur

    spark = df.sparkSession
    # report mode: mark each row with a cumulative per-stage survival
    # flag and count every boundary in ONE aggregate action — never a
    # persist of a full stage frame (caching N copies of a 100 TB
    # corpus is the scale hazard; the stage-defining side frames —
    # dedup keys, near-dup survivors, contaminated ids — are joined in
    # as flags instead, the same joins the staged chain runs, minus
    # the materializations).  Side subplans re-scan the pruned input
    # where the persisted chain would have read cache; at scale,
    # pushed-down column-pruned scans beat corpus-sized cache churn.
    flag = F.lit(True)
    marked = df
    flag_cols = []  # (stage_name, flag_col_name)

    def add_stage(name, fr, fl):
        col = f"__f{len(flag_cols)}"
        flag_cols.append((name, col))
        return fr.withColumn(col, fl), F.col(col)

    for name, before, after in stages:
        if name == "valid":
            marked, flag = add_stage(name, marked,
                                     flag & valid_predicate)
        elif name == "dedup_exact":
            # `keys` closes over the valid-filtered frame; a row joins
            # its group's min SURVIVING id, so the flag needs no extra
            # validity guard (ids are unique — see semantic_dedup's
            # precondition note)
            marked = marked.join(
                keys,
                (F.xxhash64(F.col(text_col)) == F.col("__h"))
                & (F.length(text_col) == F.col("__l"))
                & (F.col(id_col) == F.col("__keep")),
                "left")
            marked, flag = add_stage(
                name, marked, flag & F.col("__keep").isNotNull())
            marked = marked.drop("__h", "__l", "__keep")
        elif name == "near_dedup":
            survivors = (after.select(F.col(id_col).alias("__nd_id"))
                         .distinct())
            marked = marked.join(
                survivors, marked[id_col] == F.col("__nd_id"), "left")
            marked, flag = add_stage(
                name, marked, flag & F.col("__nd_id").isNotNull())
            marked = marked.drop("__nd_id")
        elif name == "decontaminate":
            # contaminated ids are unique by construction (decontaminate
            # groups by id_col), so this left join cannot fan out
            cont = contaminated.select(F.col(id_col).alias("__ct_id"))
            marked = marked.join(
                cont, marked[id_col] == F.col("__ct_id"), "left")
            marked, flag = add_stage(
                name, marked, flag & F.col("__ct_id").isNull())
            marked = marked.drop("__ct_id")
        else:  # split_<keep_split>
            from .split import hash_split

            marked = hash_split(marked, id_col, fractions, salt=salt,
                                split_col="__sp")
            marked, flag = add_stage(
                name, marked, flag & (F.col("__sp") == keep_split))
            marked = marked.drop("__sp")

    agg_row = marked.agg(
        F.count(F.lit(1)).alias("__total"),
        *[F.sum(F.col(c).cast("long")).alias(c) for _n, c in flag_cols],
    ).collect()[0]
    rows = []
    prev = int(agg_row["__total"])
    for name, col in flag_cols:
        n_out = int(agg_row[col] or 0)
        rows.append((name, prev, n_out))
        prev = n_out
    return local_frame(
        spark, rows, "stage string, rows_in long, rows_out long")
