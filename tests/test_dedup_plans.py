"""Plan shape of the dedup composition: each subplan planned once.

``ngram_jaccard_pairs`` -> ``unigram_logprob`` -> ``dedup_clusters``
runs as few actions and aggregates as its results allow; a plan that
repeats a subplan pays for its generated code once per copy.
"""

import math
import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatest_spark.operators import (connected_components,
                                      ngram_jaccard_pairs, unigram_logprob)
from datatest_spark.parallelism import fan_out


def _sql_executions(spark) -> int:
    """SQL executions (actions) the session has run so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _plan_nodes(df: DataFrame) -> list:
    """Every node of the executed plan, each persisted frame's plan
    walked once."""
    jvm = df.sparkSession._jvm
    out, seen = [], set()

    def walk(p):
        cls = p.getClass().getSimpleName()
        out.append(p)
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(p.plan())
        elif cls == "InMemoryTableScanExec":
            builder = p.relation().cacheBuilder()
            if jvm.System.identityHashCode(builder) not in seen:
                seen.add(jvm.System.identityHashCode(builder))
                walk(builder.cachedPlan())
        for i in range(p.children().size()):
            walk(p.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.fixture
def calls(monkeypatch):
    """Names of the DataFrame persist/checkpoint methods called."""
    seen = []
    for name in ("persist", "cache", "localCheckpoint", "checkpoint"):
        orig = getattr(DataFrame, name)

        def wrapped(self, *a, _orig=orig, _name=name, **kw):
            seen.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, wrapped)
    return seen


class TestNgramJaccardPlan:
    def test_stop_list_and_size_aggregates_planned_once(self, spark):
        # "common" is in every document, so the stop list is not empty
        rows = [(i, "common " + " ".join(f"w{(i * 7 + k) % 23}"
                                         for k in range(12)))
                for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = ngram_jaccard_pairs(docs, "text", n=1, min_jaccard=0.2,
                                  max_df=20)
        out.collect()
        nodes = [n.simpleString(400) for n in _plan_nodes(out)]
        final_count = r"HashAggregate\(keys=\[{}#\d+L\], functions=\[count\(1\)\]"
        stop = [n for n in nodes if re.match(final_count.format("g"), n)]
        size = [n for n in nodes if re.match(final_count.format("id"), n)]
        assert len(stop) == 1, stop
        assert len(size) == 1, size

    def test_length_filter_prunes_inside_the_self_join(self, spark):
        # (0, 1): sizes 2 and 3, J = 2/3 rounds UP to the threshold and
        # is kept.  (2, 3): sizes 2 and 7, 2/7 cannot reach it, so the
        # pair never leaves the join.  (4, 5): sizes 3 and 3 pass the
        # length filter, J = 2/4 fails the final one
        docs = spark.createDataFrame(
            [(0, "a b"), (1, "a b c"), (2, "x y"), (3, "x y p q r s t"),
             (4, "m n o"), (5, "m n z")], "doc_id long, text string")
        out = ngram_jaccard_pairs(docs, "text", n=1, min_jaccard=0.6667,
                                  max_df=None)
        assert [(r.id_a, r.id_b, r.jaccard_r) for r in out.collect()] == [
            (0, 1, 0.6667)]
        joined = [n.metrics().apply("numOutputRows").value()
                  for n in _plan_nodes(out)
                  if "Join" in n.getClass().getSimpleName()
                  and "Inner" in n.simpleString(400)
                  and "[g#" in n.simpleString(400)]
        # two shared shingles each for (0, 1) and (4, 5)
        assert joined == [4]


class TestUnigramLogprobPlan:
    def test_one_action_and_no_persist(self, spark, calls):
        docs = spark.createDataFrame(
            [(0, "a a b"), (1, "b c"), (2, None)], "doc_id long, text string")
        before = _sql_executions(spark)
        out = unigram_logprob(docs, "text", vocab_size=2)
        assert _sql_executions(spark) - before == 1
        assert calls == []
        assert out.count() == 2

    @pytest.mark.parametrize("rows", [
        [(0, "a a b"), (1, "b c"), (2, None)],
        [],
        [(0, None), (1, None)],
    ], ids=["tokens", "empty", "all-null"])
    def test_zero_vocab_scores_every_token_oov(self, spark, rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in
               unigram_logprob(docs, "text", vocab_size=0).collect()}
        tokens = {i: t.split(" ") for i, t in rows if t is not None}
        denom = sum(map(len, tokens.values())) + len(
            {w for ts in tokens.values() for w in ts}) + 1
        lp = math.log(1 / denom)
        assert got == {
            i: {"doc_id": i, "n_tokens": len(ts), "n_oov": len(ts),
                "logprob_r": round(lp, 4), "ppl_r": round(math.exp(-lp), 2)}
            for i, ts in tokens.items()}

    def test_negative_vocab_size_raises(self, spark):
        docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with pytest.raises(Exception, match="(?i)limit"):
            unigram_logprob(docs, "text", vocab_size=-1)


class TestConnectedComponentsPlan:
    def test_small_graph_one_action_no_checkpoint(self, spark, calls):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 3), (10, 11), (11, 10)],
            "id_a long, id_b long")
        stats = {}
        before = _sql_executions(spark)
        out = connected_components(pairs, stats=stats)
        assert _sql_executions(spark) - before == 1
        assert "localCheckpoint" not in calls and "checkpoint" not in calls
        assert stats == {"rounds": 0, "edges": 3}
        assert {r["node"]: r["component"] for r in out.collect()} == {
            1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    @pytest.mark.parametrize("threshold", [2, 0])
    def test_large_graph_evaluates_pairs_once(self, spark, threshold):
        # 3 canonical edges above the threshold: the large path reads
        # the canonical edges the deciding collect materialized
        acc = spark.sparkContext.accumulator(0)

        def count_row(x):
            acc.add(1)
            return x

        # nondeterministic: the optimizer neither copies nor reruns it
        counted = F.udf(count_row, "long").asNondeterministic()
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        ).select(counted("id_a").alias("id_a"), "id_b")
        stats = {}
        got = {r["node"]: r["component"] for r in connected_components(
            pairs, stats=stats, small_graph_threshold=threshold).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert stats["edges"] == 3 and stats["rounds"] >= 1
        assert acc.value == 3


class TestFanOut:
    def test_partition_count_compiles_no_code(self, spark, tmp_path):
        # an input schema no other test reads, so no generated class of
        # its scan can already sit in Spark's codegen cache
        cols = [F.col("id").cast(t).alias(f"c{i}") for i, t in enumerate(
            ["int", "double", "string", "short", "float", "long"] * 5)]
        path = str(tmp_path / "wide")
        spark.range(10).select(*cols).coalesce(1).write.parquet(path)
        df = spark.read.parquet(path)
        codegen = getattr(spark._jvm,
                          "org.apache.spark.metrics.source.CodegenMetrics")
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        out = fan_out(df)
        assert codegen.METRIC_COMPILATION_TIME().getCount() == before
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_union_of_starved_scans_counts_both(self, spark, tmp_path):
        path = str(tmp_path / "one")
        spark.range(10).coalesce(1).write.parquet(path)
        one = spark.read.parquet(path)
        both = one.union(one)
        assert fan_out(both, min_parts=2) is both
        assert fan_out(both, min_parts=3) is not both
