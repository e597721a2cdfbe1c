"""Generated-class churn of the dedup composition.

    python scripts/codegen_churn.py [--documents PATH] [--docs 2000] [--reps 3]

Runs ``ngram_jaccard_pairs`` -> ``unigram_logprob`` ->
``dedup_clusters`` (the perfbench ``dedup_docs`` operation, with its
parameters) ``--reps`` times over 4 permutations of the first
``--docs`` documents.  Per operation it prints how many classes Spark's
code generator compiled (``CodegenMetrics``; a class found in Spark's
codegen cache is not compiled again), the Spark jobs the operation ran
and the CPU seconds of this process tree (the driver JVM included).

Spark's codegen cache holds a bounded number of classes: when one
operation needs more than that, every later operation compiles its
classes again, and the compile and its cold code dominate a warm
operation's CPU.  The first operation compiles from a cold cache; the
warm ones show the churn.

The session repeats perfbench's values (``perfbench/harness.py``
``session_conf``), copied here so the script runs on any checkout.
Recording only: it exits 0 whatever the numbers are.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: the committed first 2000 documents of the sf0.1 ``documents`` table
DOCUMENTS = os.path.join(ROOT, "perfbench", "data", "documents.parquet")
PAIRS = dict(n=2, min_jaccard=0.1, max_df=1000)
VOCAB = 500
PERMS = 4


def session(tmp: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{max(1, min(4, ram_gib // 6))}g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.sql.parquet.columnarReaderBatchSize": "256",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    builder = SparkSession.builder.appName("datatest_spark-codegen-churn")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_s() -> float:
    """CPU seconds of this process and its descendants (the driver JVM
    and any Python worker), reaped children included."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def permute(src: str, n_docs: int, out: str) -> list:
    """``PERMS`` parquet copies of the first ``n_docs`` documents, each
    with its ids and rows shuffled (the perfbench permutations)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(src).slice(0, n_docs)
    ids = table.column("doc_id").to_pylist()
    n = len(ids)
    rank = {d: k for k, d in enumerate(sorted(ids))}
    paths = []
    for p in range(PERMS):
        rng = random.Random(p)
        new_id = list(range(n))
        rng.shuffle(new_id)
        order = list(range(n))
        rng.shuffle(order)
        path = os.path.join(out, f"p{p}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([new_id[rank[ids[k]]] for k in order],
                               pa.int64()),
            "text": table.column("text").take(order),
        }), path)
        paths.append(path)
    return paths


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--documents", default=DOCUMENTS,
                    help="parquet with doc_id and text columns")
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)

    tmp = tempfile.mkdtemp(prefix="codegen-churn-")
    try:
        paths = permute(args.documents, args.docs, tmp)
        spark = session(tmp)
        from pyspark.sql import functions as F

        from datatest_spark.operators import (dedup_clusters,
                                              ngram_jaccard_pairs,
                                              unigram_logprob)
        from datatest_spark.operators.dedup import unpersist_cached

        jvm = spark._jvm
        codegen = getattr(jvm, "org.apache.spark.metrics.source.CodegenMetrics")
        tracker = spark.sparkContext.statusTracker()

        corpora = [spark.read.parquet(p) for p in paths]
        ops = []
        for k in range(args.reps * PERMS):
            docs = corpora[k % PERMS]
            group = f"churn-{k}"
            spark.sparkContext.setJobGroup(group, group)
            compiles0, cpu0, wall0 = (
                codegen.METRIC_COMPILATION_TIME().getCount(), cpu_s(),
                time.perf_counter())
            pairs = ngram_jaccard_pairs(docs, "text", id_col="doc_id", **PAIRS)
            scores = unigram_logprob(docs, "text", id_col="doc_id",
                                     vocab_size=VOCAB)
            out = dedup_clusters(docs, pairs, id_col="doc_id",
                                 scores=scores, score_col="logprob_r")
            got = out.agg(F.countDistinct("cluster_id").alias("clusters"),
                          F.sum(F.col("is_canonical").cast("long"))
                          .alias("canonical")).first().asDict()
            op = {
                "op": k, "perm": k % PERMS,
                "compiles": codegen.METRIC_COMPILATION_TIME().getCount()
                - compiles0,
                "jobs": len(tracker.getJobIdsForGroup(group)),
                "cpu_s": round(cpu_s() - cpu0, 2),
                "wall_s": round(time.perf_counter() - wall0, 2),
                **got,
            }
            ops.append(op)
            print(" ".join(f"{k}={v}" for k, v in op.items()), flush=True)
            del pairs, scores, out
            unpersist_cached()
            spark.catalog.clearCache()
        warm = ops[1:]
        print(json.dumps({
            "first_op_compiles": ops[0]["compiles"],
            "warm_compiles": [o["compiles"] for o in warm],
            "warm_jobs": [o["jobs"] for o in warm],
            "warm_cpu_s": sum(o["cpu_s"] for o in warm),
        }))
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
