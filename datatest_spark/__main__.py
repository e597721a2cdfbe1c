"""``python -m datatest_spark`` — the CLI entry point.

Imports inside the command functions are absolute so the same file
works as ``spark-submit --py-files datatest_spark.zip
datatest_spark/__main__.py validate ...`` (submitted scripts run with
no parent package).

The reference ships ``python -m datatest`` (reference main.py /
runner.py:91-123): unittest discovery with a mandatory-aware runner.
This engine's equivalent surface has two halves:

* ``discover`` — run a test directory through pytest with the engine's
  mandatory fail-fast plugin registered (the reference runner's only
  behavior beyond stock unittest).  ``python -m datatest_spark
  discover tests/`` == ``pytest -p datatest_spark.pytest_plugin
  tests/``.
* ``validate`` — the deployment path the north rule names: a turnkey
  job for ``spark-submit --py-files datatest_spark.zip -m`` style
  clusters that loads an audio clip + transcript table, runs the full
  constraint suite (optionally checkpointed per-partition so re-runs
  resume idempotently), prints per-partition verdicts, and exits
  non-zero when violations exist — so the same command works in a
  workflow engine's retry loop at any cluster size.

Exit codes: 0 clean · 1 violations found · 2 usage/load error.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m datatest_spark",
        description=__doc__.split("\n\n")[1],
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser(
        "discover",
        help="run a pytest suite with the mandatory fail-fast plugin",
    )
    d.add_argument("pytest_args", nargs=argparse.REMAINDER,
                   help="arguments passed through to pytest")

    v = sub.add_parser(
        "validate",
        help="run the audio constraint suite over a parquet table",
    )
    v.add_argument("table", help="path of the audio clip table "
                   "(clip_id, bytes, sr_hz, dur_ms, codec, transcript[, part_id])")
    v.add_argument("--format", default="parquet", dest="fmt",
                   choices=("parquet", "iceberg"),
                   help="table format; iceberg uses the runtime jars "
                        "when present, else the from-spec metadata "
                        "walk (sources/iceberg_lite.py)")
    v.add_argument("--snapshot-id", type=int, default=None,
                   help="with --format iceberg: time-travel to this "
                        "snapshot instead of the current one")
    v.add_argument("--manifest", default=None,
                   help="parquet path of reference transcripts (clip_id, transcript)")
    v.add_argument("--check-snr", action="store_true",
                   help="decode bytes and enforce PCM SNR vs the manifest")
    v.add_argument("--max-cer", type=float, default=None, metavar="RATE",
                   help="with --manifest: ALSO grade transcripts by "
                        "character error rate — DEVIATION rows (deviation "
                        "= cer - RATE) when CER exceeds RATE, alongside "
                        "the suite's equality invariant")
    v.add_argument("--min-speech-ratio", type=float, default=None,
                   metavar="RATIO",
                   help="decode bytes and emit DEVIATION rows for "
                        "clips whose VAD speech ratio falls below "
                        "RATIO (mostly-dead-air gate)")
    v.add_argument("--partition-col", default=None,
                   help="partition column of the verdicts (default: "
                        "part_id when the table has it)")
    v.add_argument("--checkpoint", default=None, metavar="DIR",
                   help="checkpoint dir: commit verdicts per partition and "
                        "resume committed partitions on re-run")
    v.add_argument("--incremental", action="store_true",
                   help="with --format iceberg and --checkpoint: validate "
                        "only the snapshots appended since the last run "
                        "(snapshot-watermarked, exactly-once, crash-safe); "
                        "no new snapshots exits 0 without a job")
    v.add_argument("--allow-deletes", action="store_true",
                   help="with --incremental: skip delete/overwrite "
                        "snapshots in the range (added-rows-only "
                        "semantics) instead of refusing")
    v.add_argument("--salt-buckets", type=int, default=None,
                   help="spread skewed partitions over up to N tasks "
                        "before the rule scan (checkpointed runs)")
    v.add_argument("--sample", type=float, default=None, metavar="FRACTION",
                   help="run a sampled pre-gate first: estimate row-rule "
                        "violation rates on a deterministic sample")
    v.add_argument("--max-rate", type=float, default=0.0,
                   help="sampled pre-gate budget: Wilson upper bound of any "
                        "rule above this fails fast (default 0 -> any "
                        "sampled violation fails)")
    v.add_argument("--limit", type=int, default=20,
                   help="violation rows to print (default 20)")
    v.add_argument("--json", action="store_true", dest="as_json",
                   help="emit verdicts as JSON lines (machine-readable)")
    return p


def _cmd_discover(args) -> int:
    import pytest as _pytest

    extra = list(args.pytest_args)
    if extra and extra[0] == "--":
        extra = extra[1:]
    return _pytest.main(["-p", "datatest_spark.pytest_plugin", *extra])


def _emit(record: dict, as_json: bool) -> None:
    if as_json:
        print(json.dumps(record, sort_keys=True))
    else:
        print("  ".join(f"{k}={v}" for k, v in record.items()))


def _extra_rules(args, manifest):
    """Optional rule flags shared by the one-shot and incremental
    validate commands (single-sourced so a new flag cannot silently
    become a no-op on one path)."""
    import sys

    extra = []
    if args.max_cer is not None:
        if manifest is None:
            print("--max-cer needs --manifest", file=sys.stderr)
            return None
        from datatest_spark.operators.asr import transcript_fidelity

        ref_col = ("transcript_ref" if "transcript_ref" in manifest.columns
                   else manifest.columns[-1])
        extra.append(transcript_fidelity(manifest, max_cer=args.max_cer,
                                         ref_col=ref_col))
    if args.min_speech_ratio is not None:
        from datatest_spark.audio import SpeechRatioRule

        extra.append(SpeechRatioRule(min_ratio=args.min_speech_ratio))
    return extra or []


def _cmd_validate(args) -> int:
    from pyspark.sql import SparkSession

    from datatest_spark.audio import AUDIO_PARTITION_COL
    from datatest_spark.schema import partition_column
    from datatest_spark.suite import (_partition_col, audio_rules,
                                      validate_audio_table,
                                      verdicts as verdict_rows)

    spark = SparkSession.builder.appName("datatest_spark-validate").getOrCreate()

    if args.incremental:
        if args.fmt != "iceberg":
            print("--incremental needs --format iceberg", file=sys.stderr)
            return 2
        if not args.checkpoint:
            print("--incremental needs --checkpoint DIR", file=sys.stderr)
            return 2
        if args.snapshot_id is not None or args.sample is not None:
            print("--incremental manages its own snapshot range; drop "
                  "--snapshot-id/--sample", file=sys.stderr)
            return 2
        return _cmd_validate_incremental(spark, args)

    if args.fmt == "iceberg":
        from datatest_spark.sources.readers import iceberg_available

        if iceberg_available(spark):
            reader = spark.read.format("iceberg")
            if args.snapshot_id is not None:
                reader = reader.option("snapshot-id", args.snapshot_id)
            df = reader.load(args.table)
        else:
            from datatest_spark.sources.iceberg_lite import read_iceberg

            df = read_iceberg(spark, args.table,
                              snapshot_id=args.snapshot_id)
    else:
        if args.snapshot_id is not None:
            print("--snapshot-id needs --format iceberg", file=sys.stderr)
            return 2
        df = spark.read.parquet(args.table)
    manifest = spark.read.parquet(args.manifest) if args.manifest else None

    extra_rules = _extra_rules(args, manifest)
    if extra_rules is None:
        return 2

    part = _partition_col(df, args.partition_col)
    if args.checkpoint and part not in df.columns:
        print(f"--checkpoint needs partition column "
              f"{part or AUDIO_PARTITION_COL!r} in the table",
              file=sys.stderr)
        return 2
    try:
        partition_column(df, part)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2

    if args.sample is not None:
        from datatest_spark.sampling import sampled_verdicts

        # full rule set over the sample: the per-clip decode checks are
        # plan-kind but sample soundly (each clip is self-contained);
        # cross-row rules (uniqueness) are biased on a sample — the
        # gate treats any hit as a signal, not a rate
        rules = audio_rules(manifest=manifest, check_snr=args.check_snr,
                            extra_rules=extra_rules)
        if rules:
            gate = sampled_verdicts(
                df, rules, sample_key="clip_id", fraction=args.sample,
                max_rate=args.max_rate or None,
            ).collect()
            failed = [g for g in gate if not g.passed]
            for g in gate:
                _emit({"stage": "sample-gate", "rule": g.rule_id,
                       "n": g.sample_rows, "violations": g.violations,
                       "rate_upper": None if g.rate_upper is None
                       else round(g.rate_upper, 6),
                       "passed": g.passed}, args.as_json)
            if failed:
                print(f"SAMPLE GATE FAILED ({len(failed)} rule(s)); "
                      "skipping full pass", file=sys.stderr)
                return 1

    if args.checkpoint:
        from datatest_spark.plans.checkpoint import run_checkpointed

        run = run_checkpointed(
            df, audio_rules(manifest=manifest, check_snr=args.check_snr,
                            extra_rules=extra_rules),
            partition_col=part, checkpoint_dir=args.checkpoint,
            salt_buckets=args.salt_buckets,
        )
        for row in run.verdicts.orderBy("partition_id").collect():
            _emit({"stage": "verdict", **row.asDict()}, args.as_json)
        if run.skipped_partitions:
            _emit({"stage": "resume",
                   "skipped_committed_partitions": len(run.skipped_partitions)},
                  args.as_json)
        return 0 if run.ok else 1

    result = validate_audio_table(
        df, manifest=manifest, check_snr=args.check_snr, partition_col=part,
        extra_rules=extra_rules,
    )
    violations = result.violations.persist()
    try:
        for row in verdict_rows(violations).orderBy("partition_id").collect():
            _emit({"stage": "verdict", **row.asDict()}, args.as_json)
        shown = violations.limit(args.limit).collect()
        for row in shown:
            _emit({"stage": "violation", **row.asDict()}, args.as_json)
        n = violations.count()
        if n > len(shown):
            _emit({"stage": "summary", "total_violations": n,
                   "shown": len(shown)}, args.as_json)
        return 0 if n == 0 else 1
    finally:
        violations.unpersist()
        result.unpersist()


def _cmd_validate_incremental(spark, args) -> int:
    """One watermark advance: validate the snapshot delta (or report
    up-to-date).  A workflow engine cron-ing this command gets
    exactly-once validation of every ingest batch."""
    from datatest_spark.audio import AUDIO_PARTITION_COL
    from datatest_spark.plans import run_incremental
    from datatest_spark.suite import audio_rules

    manifest = (spark.read.parquet(args.manifest)
                if args.manifest else None)
    extra_rules = _extra_rules(args, manifest)
    if extra_rules is None:
        return 2

    rules = audio_rules(manifest=manifest, check_snr=args.check_snr,
                        extra_rules=extra_rules)
    try:
        run = run_incremental(
            spark, args.table, rules,
            args.partition_col or AUDIO_PARTITION_COL,
            args.checkpoint, salt_buckets=args.salt_buckets,
            allow_deletes=args.allow_deletes)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    if run.up_to_date:
        _emit({"stage": "incremental", "up_to_date": True,
               "watermark_snapshot_id": run.to_snapshot_id}, args.as_json)
        return 0
    _emit({"stage": "incremental", "up_to_date": False,
           "from_snapshot_id": run.from_snapshot_id,
           "to_snapshot_id": run.to_snapshot_id}, args.as_json)
    for row in run.checkpointed.verdicts.orderBy("partition_id").collect():
        _emit({"stage": "verdict", **row.asDict()}, args.as_json)
    if run.checkpointed.skipped_partitions:
        _emit({"stage": "resume",
               "skipped_committed_partitions":
               len(run.checkpointed.skipped_partitions)}, args.as_json)
    return 0 if run.ok else 1


def main(argv=None) -> int:
    args = _build_parser().parse_args(argv)
    if args.cmd == "discover":
        return _cmd_discover(args)
    return _cmd_validate(args)


if __name__ == "__main__":
    sys.exit(main())
