"""CLI entry point (python -m datatest_spark) — reference main.py /
runner.py parity surface plus the spark-submit validate job."""

import json

import pytest

from datatest_spark.__main__ import main
from datatest_spark.fixtures import audio_clips_df, reference_transcripts_df


@pytest.fixture(scope="module")
def audio_table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    table = str(root / "clips.parquet")
    manifest = str(root / "manifest.parquet")
    df = audio_clips_df(spark, 600, parts=3)
    df.write.parquet(table)
    reference_transcripts_df(spark, 600).write.parquet(manifest)
    return table, manifest


def test_validate_exits_nonzero_on_violations(spark, audio_table, capsys):
    table, manifest = audio_table
    rc = main(["validate", table, "--manifest", manifest, "--json",
               "--limit", "3"])
    assert rc == 1  # fixture injects violations by construction
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    stages = {l["stage"] for l in lines}
    assert "verdict" in stages and "violation" in stages
    verdicts = [l for l in lines if l["stage"] == "verdict"]
    assert all(v["passed"] is False for v in verdicts)
    assert sum(v["n_violations"] for v in verdicts) > 0


def test_validate_frees_the_decode_frame(spark, audio_table, capsys):
    # the hash path persists a decode frame at compile time; the run
    # leaves no persisted RDD behind
    table, manifest = audio_table
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rc = main(["validate", table, "--manifest", manifest, "--check-snr",
               "--json", "--limit", "3"])
    assert rc == 1
    capsys.readouterr()
    assert jsc.getPersistentRDDs().size() == before


def test_validate_sample_gate_fails_fast(spark, audio_table, capsys):
    table, _ = audio_table
    # max-rate 0 -> any sampled violation fails before the full pass
    rc = main(["validate", table, "--sample", "0.5", "--json"])
    out = capsys.readouterr()
    assert rc == 1
    lines = [json.loads(l) for l in out.out.splitlines()]
    assert {l["stage"] for l in lines} == {"sample-gate"}  # no full pass ran
    assert "SAMPLE GATE FAILED" in out.err


def test_validate_sample_gate_pass_continues(spark, audio_table, capsys):
    table, _ = audio_table
    # generous budget: the ~1-2% injected rates pass, full pass runs
    rc = main(["validate", table, "--sample", "0.5", "--max-rate", "0.2",
               "--json", "--limit", "2"])
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    stages = {l["stage"] for l in lines}
    assert "sample-gate" in stages and "verdict" in stages
    assert rc == 1


def test_validate_checkpoint_resume(spark, audio_table, tmp_path, capsys):
    table, _ = audio_table
    ckpt = str(tmp_path / "ckpt")
    rc1 = main(["validate", table, "--checkpoint", ckpt, "--json"])
    first = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    rc2 = main(["validate", table, "--checkpoint", ckpt, "--json"])
    second = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rc1 == 1 and rc2 == 1  # same verdicts both times
    resumed = [l for l in second if l["stage"] == "resume"]
    assert resumed and resumed[0]["skipped_committed_partitions"] == 3
    assert not any(l["stage"] == "resume" for l in first)


def test_validate_missing_partition_col_for_checkpoint(spark, audio_table,
                                                       tmp_path, capsys):
    table, _ = audio_table
    rc = main(["validate", table, "--checkpoint", str(tmp_path / "c"),
               "--partition-col", "nope"])
    assert rc == 2
    assert "needs partition column" in capsys.readouterr().err


@pytest.mark.parametrize("checkpoint", [False, True],
                         ids=["plain", "checkpoint"])
def test_validate_misspelled_partition_col_exits_2(spark, audio_table,
                                                   tmp_path, capsys,
                                                   checkpoint):
    table, _ = audio_table
    argv = ["validate", table, "--partition-col", "shrd"]
    if checkpoint:
        argv += ["--checkpoint", str(tmp_path / "c")]
    assert main(argv) == 2
    out = capsys.readouterr()
    assert "'shrd'" in out.err and not out.out
    if checkpoint:
        assert "needs partition column" in out.err
        assert not (tmp_path / "c").exists()


def test_discover_registers_mandatory_plugin(tmp_path):
    # a failing @mandatory test stops the session before later tests run
    t = tmp_path / "test_gate.py"
    t.write_text(
        "import pytest\n"
        "ran = []\n"
        "@pytest.mark.mandatory\n"
        "def test_gate():\n"
        "    assert False\n"
        "def test_after(tmp_path_factory):\n"
        "    open(%r, 'w').write('ran')\n" % str(tmp_path / "after.txt")
    )
    rc = main(["discover", "--", str(t), "-q", "-p", "no:cacheprovider"])
    assert rc != 0
    assert not (tmp_path / "after.txt").exists()  # fail-fast stopped it


def test_validate_iceberg_table_with_time_travel(spark, tmp_path, capsys):
    from datatest_spark.sources import append_iceberg

    tbl = str(tmp_path / "ice")
    clips = audio_clips_df(spark, 400, parts=2)
    s1 = append_iceberg(clips, tbl, partition_by="part_id")
    rc = main(["validate", tbl, "--format", "iceberg", "--json"])
    out = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    verdicts = [l for l in out if l["stage"] == "verdict"]
    assert rc == 1 and verdicts  # fixture injections -> violations
    # time travel to the same (only) snapshot gives identical verdicts
    rc2 = main(["validate", tbl, "--format", "iceberg",
                "--snapshot-id", str(s1), "--json"])
    out2 = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rc2 == 1
    assert [l for l in out2 if l["stage"] == "verdict"] == verdicts


def test_snapshot_id_requires_iceberg(spark, audio_table, capsys):
    table, _ = audio_table
    rc = main(["validate", table, "--snapshot-id", "7"])
    assert rc == 2
    assert "--format iceberg" in capsys.readouterr().err


def test_validate_incremental_loop(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from datatest_spark.sources import append_iceberg

    tbl = str(tmp_path / "ice_incr")
    ckpt = str(tmp_path / "ckpt_incr")
    clips = audio_clips_df(spark, 400, parts=2)
    cut = f"clip-{200:012d}"
    append_iceberg(clips.where(F.col("clip_id") < cut), tbl)
    rc1 = main(["validate", tbl, "--format", "iceberg", "--incremental",
                "--checkpoint", ckpt, "--json"])
    first = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rc1 == 1  # fixture injections -> violations in batch 1
    inc1 = [l for l in first if l["stage"] == "incremental"][0]
    assert inc1["up_to_date"] is False
    assert inc1["from_snapshot_id"] is None
    n1 = sum(l["n_rows"] for l in first if l["stage"] == "verdict")

    # no new snapshots: exits 0 with no job
    rc2 = main(["validate", tbl, "--format", "iceberg", "--incremental",
                "--checkpoint", ckpt, "--json"])
    second = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rc2 == 0
    assert second == [{"stage": "incremental", "up_to_date": True,
                       "watermark_snapshot_id": inc1["to_snapshot_id"]}]

    # append batch 2: only the delta is validated
    append_iceberg(clips.where(F.col("clip_id") >= cut), tbl)
    rc3 = main(["validate", tbl, "--format", "iceberg", "--incremental",
                "--checkpoint", ckpt, "--json"])
    third = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    inc3 = [l for l in third if l["stage"] == "incremental"][0]
    assert inc3["from_snapshot_id"] == inc1["to_snapshot_id"]
    n3 = sum(l["n_rows"] for l in third if l["stage"] == "verdict")
    assert rc3 == 1 and n1 + n3 == 400 and n3 < 400


def test_incremental_usage_errors(spark, audio_table, capsys):
    table, _ = audio_table
    assert main(["validate", table, "--incremental",
                 "--checkpoint", "/tmp/x"]) == 2
    assert "--format iceberg" in capsys.readouterr().err
    assert main(["validate", table, "--format", "iceberg",
                 "--incremental"]) == 2
    assert "--checkpoint" in capsys.readouterr().err


def test_validate_min_speech_ratio_gate(spark, tmp_path, capsys):
    from datatest_spark.fixtures import speech_clips_df

    table = str(tmp_path / "speech.parquet")
    # CLI suite expects the audio table shape; pad the F7 columns
    from pyspark.sql import functions as F

    (speech_clips_df(spark, 150, parts=3)
     .withColumn("sr_hz", F.lit(None).cast("int"))
     .withColumn("dur_ms", F.lit(None).cast("int"))
     .withColumn("codec", F.lit("pcm_s16le"))
     .withColumn("transcript", F.lit("x"))
     .write.parquet(table))
    rc = main(["validate", table, "--min-speech-ratio", "0.5", "--json",
               "--limit", "1000"])
    assert rc == 1
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    viols = [l for l in lines if l["stage"] == "violation"]
    ratio_rows = [v for v in viols
                  if v["rule_id"].startswith("speech_ratio")]
    assert ratio_rows and all(v["diff_type"] == "DEVIATION"
                              for v in ratio_rows)
