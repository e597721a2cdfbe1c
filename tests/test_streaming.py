"""Structured Streaming wrapper: rules run per micro-batch, violations
land partitioned by batch_id, and the write is idempotent per batch."""

import os

import pytest
from pyspark.sql import functions as F

from datatest_spark import requirements as R
from datatest_spark.streaming import validate_stream


@pytest.fixture()
def stream_dirs(tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "violations")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    return src, out, ckpt


def _write_input(spark, src, offset=0):
    rows = [(i + offset, 10 if (i + offset) % 7 != 3 else 99) for i in range(20)]
    (
        spark.createDataFrame(rows, "id long, v long")
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )


class TestValidateStream:
    def test_violations_flow_through(self, spark, stream_dirs):
        src, out, ckpt = stream_dirs
        _write_input(spark, src)
        stream = spark.readStream.schema("id long, v long").parquet(src)
        q = validate_stream(
            stream, [R.interval("v", 0, 50)], out, ckpt,
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        # ids 3, 10, 17 have v=99 → 3 Deviation rows
        assert got.count() == 3
        assert got.select("batch_id").distinct().count() == 1
        assert set(r["diff_type"] for r in got.collect()) == {"DEVIATION"}

    def test_restart_resumes_without_duplicates(self, spark, stream_dirs):
        src, out, ckpt = stream_dirs
        _write_input(spark, src)
        stream = spark.readStream.schema("id long, v long").parquet(src)
        rules = [R.interval("v", 0, 50)]
        validate_stream(stream, rules, out, ckpt).awaitTermination(120)
        n1 = spark.read.parquet(out).count()

        # restart with NO new data: the checkpoint says everything is
        # committed, so no rows may be re-appended
        stream2 = spark.readStream.schema("id long, v long").parquet(src)
        validate_stream(stream2, rules, out, ckpt).awaitTermination(120)
        assert spark.read.parquet(out).count() == n1

        # new data arrives → only the new batch's violations append
        _write_input(spark, src, offset=100)
        stream3 = spark.readStream.schema("id long, v long").parquet(src)
        validate_stream(stream3, rules, out, ckpt).awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == n1 + 3
        assert got.select("batch_id").distinct().count() == 2


class TestStreamingAudio:
    def test_decode_rules_per_microbatch_equal_batch(self, spark,
                                                     stream_dirs):
        """AudioConsistencyRule inside foreachBatch: the union over
        micro-batches equals the batch engine on the same table
        (per-row rules), multiple batches actually happen, and
        partition attribution survives the streaming path."""
        import datatest_spark.fixtures as FX
        from datatest_spark.audio import AudioConsistencyRule
        from datatest_spark.validation import Engine

        src, out, ckpt = stream_dirs
        df = FX.audio_clips_df(spark, 400, parts=4)
        # one file per part (explicit appends: AQE would coalesce a
        # single small repartition(4) write into one file = one batch)
        for p in range(4):
            (df.where(F.col("part_id") == p).coalesce(1)
             .write.mode("append").parquet(src))
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = validate_stream(
            stream, [AudioConsistencyRule(check_snr=False)], out, ckpt,
            partition_col="part_id",
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out)
        assert got.select("batch_id").distinct().count() > 1
        batch = Engine(spark).compile(
            spark.read.parquet(src),
            [AudioConsistencyRule(check_snr=False)],
            partition_col="part_id",
        )
        streamed = got.drop("batch_id")
        assert streamed.count() == batch.count()
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        assert got.where(F.col("partition_id").isNull()).count() == 0


    def test_hash_path_suite_frees_each_batch_decode_frame(
            self, spark, stream_dirs):
        """Each micro-batch compiles the hash-path suite, which
        persists a decode frame; every one is freed after the batch's
        write, so nothing piles up across batches."""
        import datatest_spark.fixtures as FX
        from datatest_spark.suite import audio_rules

        src, out, ckpt = stream_dirs
        df = FX.audio_clips_df(spark, 400, parts=4)
        for p in range(4):
            (df.where(F.col("part_id") == p).coalesce(1)
             .write.mode("append").parquet(src))
        manifest = FX.reference_transcripts_df(spark, 400)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        q = validate_stream(
            stream, audio_rules(manifest=manifest, check_snr=True), out,
            ckpt, partition_col="part_id",
        )
        q.awaitTermination(300)
        assert spark.read.parquet(out).select("batch_id").distinct().count() > 1
        assert jsc.getPersistentRDDs().size() == before


class TestStreamingDedup:
    """All-of-history stateful dedup (streaming/stateful.py,
    applyInPandasWithState): one state cell per content hash."""

    def _run(self, spark, src, out, ckpt):
        from datatest_spark.streaming import streaming_dedup

        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            streaming_dedup(stream, "text", id_col="doc_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def test_in_batch_dups_keep_min_id(self, spark, stream_dirs):
        src, out, ckpt = stream_dirs
        rows = [(0, "aaa"), (1, "bbb"), (2, "aaa"), (3, "ccc"), (4, "bbb")]
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(src))
        self._run(spark, src, out, ckpt)
        got = {r["text"]: r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == {"aaa": 0, "bbb": 1, "ccc": 3}

    def test_state_survives_restart(self, spark, stream_dirs):
        src, out, ckpt = stream_dirs
        (spark.createDataFrame([(0, "aaa"), (1, "bbb")],
                               "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(src))
        self._run(spark, src, out, ckpt)
        assert spark.read.parquet(out).count() == 2

        # later batch re-sends 'aaa' and adds 'ddd'; the restarted query
        # must drop the replay via the checkpointed state store
        (spark.createDataFrame([(10, "aaa"), (11, "ddd")],
                               "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(src))
        self._run(spark, src, out, ckpt)
        got = {r["text"]: r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == {"aaa": 0, "bbb": 1, "ddd": 11}

    def test_rocksdb_state_store_provider(self, spark, stream_dirs):
        """The documented at-scale configuration: dedup state under the
        RocksDB provider (state on local disk, not executor heap).
        Same dedup semantics, including a cross-restart replay drop
        through RocksDB-checkpointed state."""
        from datatest_spark.streaming import rocksdb_state_conf

        src, out, ckpt = stream_dirs
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        try:
            for k, v in rocksdb_state_conf().items():
                spark.conf.set(k, v)
            rows = [(0, "aaa"), (1, "bbb"), (2, "aaa")]
            (spark.createDataFrame(rows, "doc_id long, text string")
             .coalesce(1).write.mode("append").parquet(src))
            self._run(spark, src, out, ckpt)
            got = {r["text"]: r["doc_id"]
                   for r in spark.read.parquet(out).collect()}
            assert got == {"aaa": 0, "bbb": 1}

            (spark.createDataFrame([(10, "aaa"), (11, "ccc")],
                                   "doc_id long, text string")
             .coalesce(1).write.mode("append").parquet(src))
            self._run(spark, src, out, ckpt)
            got = {r["text"]: r["doc_id"]
                   for r in spark.read.parquet(out).collect()}
            assert got == {"aaa": 0, "bbb": 1, "ccc": 11}
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    def test_state_ttl_expires_and_reemits(self, spark, stream_dirs):
        """With a TTL, an idle content's state cell expires (an
        intermediate batch with other data processes the timeout) and
        a later re-occurrence is emitted again — bounded-state dedup.

        availableNow keeps running no-data batches while
        processing-time timeouts are pending, so each run waits for
        the sink rows it needs and then stops the query explicitly."""
        import time

        from datatest_spark.streaming import streaming_dedup

        src, out, ckpt = stream_dirs
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            def run(expect_rows):
                stream = spark.readStream.schema(
                    "doc_id long, text string"
                ).parquet(src)
                q = (
                    streaming_dedup(stream, "text", id_col="doc_id",
                                    state_ttl_ms=500)
                    .writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                deadline = time.time() + 120
                while time.time() < deadline:
                    if q.awaitTermination(5):
                        break
                    try:
                        if spark.read.parquet(out).count() >= expect_rows:
                            break
                    except Exception:
                        pass
                q.stop()
                q.awaitTermination(60)

            def write(rows):
                (spark.createDataFrame(rows, "doc_id long, text string")
                 .coalesce(1).write.mode("append").parquet(src))

            write([(0, "aaa")])
            run(1)
            time.sleep(2)  # let 'aaa' state pass its TTL
            write([(1, "other")])
            run(2)  # batch without 'aaa' → its timeout fires → removed
            write([(2, "aaa")])
            run(3)  # re-occurrence after expiry → emitted again
            got = sorted((r["doc_id"], r["text"])
                         for r in spark.read.parquet(out).collect())
            assert got == [(0, "aaa"), (1, "other"), (2, "aaa")], got
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


class TestWindowedProfile:
    """Watermark + windowed agg (streaming/windowed.py): windows emit
    once the watermark passes their end; data later than the watermark
    is dropped, not retro-counted."""

    def _run(self, spark, src, out, ckpt):
        from datatest_spark.streaming import windowed_profile

        stream = spark.readStream.schema(
            "id long, ts timestamp, k string"
        ).parquet(src)
        prof = windowed_profile(stream, "ts", window="1 hour",
                                allowed_lateness="30 minutes", keys=("k",))
        q = (
            prof.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def test_late_rows_dropped_after_watermark(self, spark, stream_dirs):
        import datetime as dt

        src, out, ckpt = stream_dirs
        base = dt.datetime(2026, 1, 1)

        def write(rows):
            (spark.createDataFrame(rows, "id long, ts timestamp, k string")
             .coalesce(1).write.mode("append").parquet(src))

        # run 1: hours 0..5, two events each; watermark ends at 5:50-30m
        write([(h * 10 + m, base + dt.timedelta(hours=h, minutes=50 * m), "k")
               for h in range(6) for m in range(2)])
        self._run(spark, src, out, ckpt)
        got1 = {r["window_start"].hour: r["n_rows"]
                for r in spark.read.parquet(out).collect()}
        # watermark 05:20 → windows ending <= 05:20 → hours 0..4
        assert got1 == {h: 2 for h in range(5)}

        # run 2: hours 6..9 + a LATE hour-0 event (behind the
        # checkpointed watermark → dropped, window 0 stays count 2)
        write([(600 + h * 10 + m,
                base + dt.timedelta(hours=6 + h, minutes=50 * m), "k")
               for h in range(4) for m in range(2)]
              + [(999, base + dt.timedelta(minutes=30), "k")])
        self._run(spark, src, out, ckpt)
        got2 = {r["window_start"].hour: r["n_rows"]
                for r in spark.read.parquet(out).collect()}
        # watermark 09:20 → hours 0..8 emitted; hour 9 still open;
        # the late id=999 row was dropped, so hour 0 is still 2
        assert got2 == {h: 2 for h in range(9)}, got2

    def test_windowed_hist_feeds_drift_psi(self, spark, stream_dirs):
        """The streaming→drift loop: per-window fixed-edge histograms
        stream under the watermark, and windowed_drift_psi scores each
        emitted window against a baseline — a window whose value
        distribution shifted fires, the in-distribution window does
        not.  Pure projections end to end: no rescan, no Python rows."""
        import datetime as dt

        from datatest_spark.streaming import (
            windowed_drift_psi, windowed_profile)

        src, out, ckpt = stream_dirs
        base = dt.datetime(2026, 1, 1)
        # hour 0: values uniform over the 4 buckets (edges 10/20/30);
        # hour 1: every value in the top bucket (drifted);
        # hour 2: only exists to push the watermark past hour 1's end
        rows = []
        for m in range(8):
            rows.append((m, base + dt.timedelta(minutes=7 * m),
                         float(5 + 10 * (m % 4))))
        for m in range(8):
            rows.append((100 + m, base + dt.timedelta(hours=1, minutes=7 * m),
                         99.0))
        rows.append((999, base + dt.timedelta(hours=2, minutes=45), 15.0))
        (spark.createDataFrame(rows, "id long, ts timestamp, v double")
         .coalesce(1).write.mode("append").parquet(src))

        stream = spark.readStream.schema(
            "id long, ts timestamp, v double").parquet(src)
        prof = windowed_profile(
            stream, "ts", value_col="v", window="1 hour",
            allowed_lateness="30 minutes", bin_edges=[10.0, 20.0, 30.0])
        q = (prof.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        scored = windowed_drift_psi(
            spark.read.parquet(out),
            baseline_props=[0.25, 0.25, 0.25, 0.25], threshold=0.2)
        got = {r["window_start"].hour: r for r in scored.collect()}
        assert set(got) == {0, 1}  # hour 2 still open past the watermark
        assert list(got[0]["hist"]) == [2, 2, 2, 2]
        assert list(got[1]["hist"]) == [0, 0, 0, 8]
        assert not got[0]["drifted"] and abs(got[0]["psi"]) < 1e-9
        assert got[1]["drifted"] and got[1]["psi"] > 1.0

    def test_windowed_tdigest_feeds_drift_rule(self, spark, stream_dirs):
        """The EDGE-FREE streaming→drift loop: per-window t-digests
        stream under the watermark (GK state merges per micro-batch
        like any aggregate), emitted windows fold into one baseline
        digest with merge_tdigest_column, and DriftPSIRule.from_tdigest
        consumes it — no bucket edges chosen before the stream starts,
        no rescan of emitted data."""
        import datetime as dt

        from pyspark.sql import functions as F

        from datatest_spark.stats import (
            DriftPSIRule, merge_tdigest_column, tdigest_quantiles)
        from datatest_spark.streaming import windowed_profile
        from datatest_spark.validation import Engine

        src, out, ckpt = stream_dirs
        base = dt.datetime(2026, 1, 1)
        # hours 0 and 1: v cycles 0..39 (same distribution); hour 2
        # only pushes the watermark past hour 1's end
        rows = [
            (h * 100 + m, base + dt.timedelta(hours=h, minutes=m % 60),
             float((h * 40 + m * 7) % 40))
            for h in range(2) for m in range(40)
        ]
        rows.append((999, base + dt.timedelta(hours=3, minutes=45), 1.0))
        (spark.createDataFrame(rows, "id long, ts timestamp, v double")
         .coalesce(1).write.mode("append").parquet(src))

        stream = spark.readStream.schema(
            "id long, ts timestamp, v double").parquet(src)
        prof = windowed_profile(
            stream, "ts", value_col="v", window="1 hour",
            allowed_lateness="30 minutes", tdigest_grid=16)
        q = (prof.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        windows = spark.read.parquet(out)
        emitted = windows.collect()
        assert {r["window_start"].hour for r in emitted} == {0, 1}
        for r in emitted:
            assert r["tdigest"] is not None
            total_w = sum(c["weight"] for c in r["tdigest"])
            assert abs(total_w - r["n_rows"]) < 1e-6

        baseline = merge_tdigest_column(windows).collect()[0]["tdigest"]
        med = tdigest_quantiles(baseline, [0.5], lo=0.0, hi=39.0)[0]
        assert 15.0 <= med <= 25.0  # uniform 0..39 → median ~19.5

        engine = Engine(spark)
        mk = lambda: DriftPSIRule.from_tdigest(
            "v", baseline, threshold=0.1, lo=0.0, hi=39.0)
        same = spark.createDataFrame(
            [(float(i % 40),) for i in range(200)], "v double")
        assert engine.validate(same, [mk()]).ok
        shifted = same.select((F.col("v") + 200.0).alias("v"))
        viol = engine.validate(shifted, [mk()]).violations.collect()
        assert len(viol) == 1 and viol[0]["deviation"] > 0.5


class TestTransformStream:
    def test_operator_union_equals_batch_run(self, spark, stream_dirs):
        import os

        from pyspark.sql import functions as F

        from datatest_spark.audio import vad_stats
        from datatest_spark.fixtures import speech_clips_df
        from datatest_spark.streaming import transform_stream

        src_dir, out_base, ckpt_base = stream_dirs
        in_dir = os.path.join(src_dir, "vin")
        out_dir = os.path.join(out_base, "vout")
        ckpt = os.path.join(ckpt_base, "vckpt")
        src = speech_clips_df(spark, 120, parts=3)
        for p in range(3):
            (src.where(F.col("part_id") == p).coalesce(1)
             .write.mode("append").parquet(in_dir))
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = transform_stream(stream, vad_stats, output_path=out_dir,
                             checkpoint_path=ckpt)
        q.awaitTermination()
        got = spark.read.parquet(out_dir)
        # multiple micro-batches actually ran
        assert got.select("batch_id").distinct().count() == 3
        streamed = {
            r.clip_id: (r.ok, r.total_ms, r.speech_ms, r.n_segments)
            for r in got.collect()
        }
        batch = {
            r.clip_id: (r.ok, r.total_ms, r.speech_ms, r.n_segments)
            for r in vad_stats(src).collect()
        }
        assert streamed == batch
