"""``local_frame``: driver-held values as an Arrow local relation.

Round trip: the frame holds the same schema and rows that
``createDataFrame(rows, schema)`` builds.  Plan shape: each engine
frame built from driver values runs as a ``LocalTableScan`` (a JVM
relation), never as ``Scan ExistingRDD`` (a parallelized Python RDD,
whose every action forks Python workers).
"""

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from datatest_spark import requirements as R
from datatest_spark.schema import VIOLATION_SCHEMA, empty_violations, local_frame

SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), True),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("l", T.LongType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("b", T.BooleanType(), False),
    ]
)
ROWS = [
    ("a", 1, 2**40, 0.5, True),
    (None, None, None, None, False),
    ("", -3, -1, float("inf"), True),
]


def executed_plan(df) -> str:
    """The plan the frame's own action ran (AQE's final plan)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def assert_local(df):
    plan = executed_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


class TestRoundTrip:
    @pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
    def test_same_schema_and_rows(self, spark, rows):
        got = local_frame(spark, rows, SCHEMA)
        want = spark.createDataFrame(rows, SCHEMA)
        assert got.schema == want.schema == SCHEMA
        assert got.collect() == want.collect()

    def test_columns_equal_rows(self, spark):
        cols = {f.name: [r[k] for r in ROWS]
                for k, f in enumerate(SCHEMA.fields)}
        assert (local_frame(spark, cols, SCHEMA).collect()
                == local_frame(spark, ROWS, SCHEMA).collect())

    def test_ddl_schema(self, spark):
        df = local_frame(spark, [("x", 1)], "k string, n long")
        assert df.schema.simpleString() == "struct<k:string,n:bigint>"
        assert [tuple(r) for r in df.collect()] == [("x", 1)]

    def test_value_arrow_cannot_convert_raises(self, spark):
        with pytest.raises(pa.ArrowInvalid):
            local_frame(spark, [("x", "not a number")], "k string, n long")


class TestPlanShape:
    def test_subset_literal_set(self, spark):
        from datatest_spark.validation import Engine

        df = local_frame(spark, [("wav",), ("flac",), ("mp3 ",)],
                         "codec string")
        res = Engine(spark).validate(df, [R.subset("codec", {"wav", "flac"})])
        assert_local(res.violations)
        assert res.violations.count() == 1

    def test_empty_violations(self, spark):
        df = empty_violations(spark)
        assert df.schema == VIOLATION_SCHEMA
        assert_local(df)

    def test_unigram_vocabulary(self, spark):
        from datatest_spark.operators import unigram_logprob

        docs = local_frame(
            spark, {"doc_id": [1, 2, 3],
                    "text": ["a b c", "a b", "c d e f"]},
            "doc_id long, text string")
        out = unigram_logprob(docs, "text", id_col="doc_id", vocab_size=3)
        assert_local(out)
        assert out.count() == 3

    def test_dedup_clusters_small_graph_labels(self, spark):
        from datatest_spark.operators import dedup_clusters

        corpus = local_frame(spark, {"doc_id": list(range(8))},
                             "doc_id long")
        pairs = local_frame(spark, [(1, 4), (4, 6), (2, 7)],
                            "id_a long, id_b long")
        stats = {}
        out = dedup_clusters(corpus, pairs, stats=stats)
        assert_local(out)
        assert stats["rounds"] == 0  # the small-graph path ran
        rows = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert [rows[d] for d in (1, 4, 6, 2, 7)] == [1, 1, 1, 2, 2]

    def test_checkpoint_verdict_rows(self, spark, tmp_path, monkeypatch):
        from datatest_spark.plans import checkpoint, run_checkpointed

        built = []

        def recording(*args, **kwargs):
            built.append(local_frame(*args, **kwargs))
            return built[-1]

        monkeypatch.setattr(checkpoint, "local_frame", recording)
        df = local_frame(spark, [(i, str(i % 2)) for i in range(6)],
                         "v long, part_id string")
        run = run_checkpointed(df, [R.interval("v", 0, 3)], "part_id",
                               str(tmp_path))
        assert len(built) == 1
        assert_local(built[0])
        assert sorted(r["partition_id"] for r in built[0].collect()) == [
            "0", "1"]
        assert not run.ok
