"""``ingest_incremental``: the engine's snapshot-per-batch operating mode.

Each step appends one seeded batch of clip metadata (no ``bytes``
column) as a new snapshot with ``sources.iceberg_lite.append_iceberg``,
then calls ``plans.incremental.run_incremental``; the step's time is
from the commit until the verdict rows are written.  The rules are the
metadata rules of ``suite.audio_rules`` plus a manifest subset check,
``ref_match``, ``stats.drift_psi`` and ``stats.outliers``.  Nothing is
decoded: the work is JVM fragments, joins and aggregations, the
compile-time statistic jobs, and checkpoint parquet writes beside reads.

After the timed steps, a call with no new snapshot checks the no-op
path, and a crash-resume probe re-runs ``run_checkpointed`` on the
last range with the same rule objects.  The documented contract says
every committed partition is skipped.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import harness
from cache import seed_dir

BATCH_ROWS = 4000
BATCHES = 8
PARTS = 4
#: equal-mass deciles of the generator's dur_ms distribution
BASELINE_DUR_Q = [200.0 + 180.0 * k for k in range(11)]

# Defect periods of the generator, applied to the row's source id
# (a duplicate row copies its predecessor, so both share a source id).
DUP = (1000, 7)             # unique:clip_id (EXTRA, global)
SR_OUT = (250, 11)          # interval:sr_hz and sr_hz:allowed
DUR_ZERO = (400, 13)        # interval:dur_ms
DUR_OUTLIER = (500, 17)     # outliers:dur_ms
BAD_CODEC = (333, 19)       # subset:codec (one distinct value, global)
TRANSCRIPT = (100, 23)      # ref_match:transcript
NO_MANIFEST = (800, 29)     # subset:clip_id_manifest (EXTRA, global)


def _hit(i: int, period: tuple) -> bool:
    return i % period[0] == period[1]


def id_base(seed: int) -> int:
    # a multiple of every period's batch alignment (1000), so a
    # duplicate and its source always land in the same batch
    return 10_000_000 * (seed % 10_000)


def expected_verdicts(lo: int, hi: int) -> dict:
    """partition -> (rows, violations) for the source rows ``[lo, hi)``."""
    rows: Counter = Counter()
    viol: Counter = Counter()
    g = "__global__"
    no_manifest = set()
    bad_codec = False
    for i in range(lo, hi):
        src = i - 1 if _hit(i, DUP) else i
        p = str(src % PARTS)
        rows[p] += 1
        if _hit(i, DUP):
            viol[g] += 1
        if _hit(src, SR_OUT):
            viol[p] += 2
        if _hit(src, DUR_ZERO) or _hit(src, DUR_OUTLIER) or _hit(src, TRANSCRIPT):
            viol[p] += 1
        bad_codec |= _hit(src, BAD_CODEC)
        if _hit(src, NO_MANIFEST):
            no_manifest.add(src)
    viol[g] += len(no_manifest) + int(bad_codec)
    out = {p: (rows[p], viol[p]) for p in rows}
    if viol[g]:
        out[g] = (0, viol[g])
    return out


def _words(F, seed, col):
    return F.concat_ws(" ", *[
        F.concat(F.lit("w"), F.pmod(F.xxhash64(F.lit(seed), col, F.lit(10 + k)),
                                    F.lit(40)).cast("string"))
        for k in range(5)])


def generate(spark, cache: str, seed: int) -> str:
    """Batches (partitioned by ``batch``) and the manifest, generated
    JVM-side from ``spark.range`` and written once per seed."""
    from pyspark.sql import functions as F

    base = id_base(seed)
    total = BATCH_ROWS * BATCHES

    def build(tmp: str) -> None:
        i = F.col("id")
        src = F.when(i % DUP[0] == DUP[1], i - 1).otherwise(i)

        def h(k):
            return F.pmod(F.xxhash64(F.lit(seed), src, F.lit(k)), F.lit(1 << 30))

        def hit(period):
            return src % period[0] == period[1]

        srs = F.array(*[F.lit(x) for x in (8000, 16000, 22050, 44100, 48000)])
        codecs = F.array(*[F.lit(x) for x in ("pcm_s16le", "flac", "opus")])
        words = _words(F, seed, src)
        batches = spark.range(base, base + total, 1, numPartitions=4).select(
            F.format_string("clip-%012d", src).alias("clip_id"),
            F.when(hit(SR_OUT), F.lit(96000))
            .otherwise(F.element_at(srs, (h(1) % 5 + 1).cast("int")))
            .cast("int").alias("sr_hz"),
            F.when(hit(DUR_ZERO), F.lit(0))
            .when(hit(DUR_OUTLIER), F.lit(60000))
            .otherwise(F.lit(200) + h(2) % 1800).cast("int").alias("dur_ms"),
            F.when(hit(BAD_CODEC), F.lit("mp3"))
            .otherwise(F.element_at(codecs, (h(3) % 3 + 1).cast("int")))
            .alias("codec"),
            F.when(hit(TRANSCRIPT), F.concat(words, F.lit(" zz")))
            .otherwise(words).alias("transcript"),
            (src % PARTS).cast("int").alias("part_id"),
            ((i - base) / BATCH_ROWS).cast("int").alias("batch"),
        )
        batches.write.partitionBy("batch").parquet(os.path.join(tmp, "batches"))
        m = F.col("id")
        (spark.range(base, base + total, 1, numPartitions=1)
         .where(m % NO_MANIFEST[0] != NO_MANIFEST[1])
         .select(F.format_string("clip-%012d", m).alias("clip_id"),
                 _words(F, seed, m).alias("transcript_ref"))
         .write.parquet(os.path.join(tmp, "manifest")))

    return seed_dir(cache, "ingest_incremental",
                    f"n{BATCH_ROWS}x{BATCHES}-s{seed}", build)


def build_rules(manifest) -> list:
    from datatest_spark import stats
    from datatest_spark.audio import AudioConsistencyRule
    from datatest_spark.suite import audio_rules

    rules = [r for r in audio_rules(manifest=manifest)
             if not isinstance(r, AudioConsistencyRule)]
    return rules + [stats.drift_psi("dur_ms", BASELINE_DUR_Q),
                    stats.outliers("dur_ms")]


class Workload(harness.Workload):
    name = "ingest_incremental"
    items = BATCH_ROWS

    def __init__(self, cache: str, seed: int, work: str):
        super().__init__(cache, seed, work)
        self.generation = 0
        self.resume_reprocessed = None

    def generate(self, spark) -> None:
        self.dir = generate(spark, self.cache, self.seed)

    def open(self, spark) -> None:
        """A fresh table and checkpoint directory; rules built once, as
        a pipeline would keep them for its lifetime."""
        self.spark = spark
        self.batches = spark.read.parquet(os.path.join(self.dir, "batches"))
        self.manifest = spark.read.parquet(os.path.join(self.dir, "manifest"))
        self.rules = build_rules(self.manifest)
        self.generation += 1
        root = os.path.join(self.work, f"ingest{self.generation}")
        shutil.rmtree(root, ignore_errors=True)
        self.table = os.path.join(root, "table")
        self.ckpt = os.path.join(root, "checkpoint")
        self.next_batch = 0

    def has_next(self) -> bool:
        return self.next_batch < BATCHES

    def reset(self) -> None:
        harness.assert_storage_empty(self.spark)

    def before_op(self, tr) -> None:
        from datatest_spark.sources.iceberg_lite import append_iceberg
        from pyspark.sql import functions as F

        b = self.next_batch
        self.next_batch += 1
        batch = self.batches.where(F.col("batch") == b).drop("batch")
        with tr.span("sources.append"):
            append_iceberg(batch, self.table, partition_by="part_id")
        base = id_base(self.seed) + b * BATCH_ROWS
        self.expected = expected_verdicts(base, base + BATCH_ROWS)

    def op(self, tr):
        from datatest_spark.plans.incremental import run_incremental

        with tr.span("plans.incremental"):
            return run_incremental(self.spark, self.table, self.rules,
                                   "part_id", self.ckpt)

    def check(self, run) -> str:
        if run.up_to_date:
            return "a new snapshot was reported up to date"
        got = {r["partition_id"]: (r["n_rows"], r["n_violations"])
               for r in run.checkpointed.verdicts.collect()}
        if got != self.expected:
            return f"verdicts {sorted(got.items())} != {sorted(self.expected.items())}"
        return ""

    def tail(self, tr) -> list:
        """The no-op call (an attempted operation) and the crash-resume
        probe (a known-defect probe, reported apart)."""
        from datatest_spark.plans.checkpoint import run_checkpointed
        from datatest_spark.plans.incremental import run_incremental
        from datatest_spark.sources.iceberg_lite import read_iceberg_incremental

        jobs0 = tr.next_job_id()
        with tr.span("plans.noop"):
            t0 = time.perf_counter()
            run = run_incremental(self.spark, self.table, self.rules,
                                  "part_id", self.ckpt)
            self.noop = (time.perf_counter() - t0, tr.next_job_id() - jobs0)
        err = ""
        if not run.up_to_date:
            err = "no-op call did not report up_to_date"
        elif self.noop[1]:
            err = f"no-op call launched {self.noop[1]} jobs"

        last = run.history[-1]
        delta = read_iceberg_incremental(
            self.spark, self.table, from_snapshot_id=last["from_snapshot_id"],
            to_snapshot_id=last["to_snapshot_id"])
        with tr.span("plans.resume"):
            resumed = run_checkpointed(delta, self.rules, "part_id",
                                       last["range_dir"])
        self.resume_reprocessed = len(resumed.processed_partitions)
        return [err]

    def known_defects(self) -> list:
        if self.resume_reprocessed:
            return [f"crash-resume re-processed {self.resume_reprocessed} "
                    "committed partitions (contract: 0); stats memos leak "
                    "into Rule.fingerprint, so ruleset_hash changes after "
                    "the rules are first used"]
        return []

    def probes(self, tr) -> dict:
        """Each layer called once on the last range, with fresh rules so
        the workload's own rule objects are left as they were."""
        from datatest_spark.plans.checkpoint import run_checkpointed
        from datatest_spark.sources.iceberg_lite import (
            incremental_files, read_iceberg_incremental, snapshots)
        from datatest_spark.validation import Engine

        snaps = [s["snapshot_id"] for s in snapshots(self.table)]
        lo, hi = snaps[-2], snaps[-1]
        with tr.span("sources.delta_plan") as s_plan:
            incremental_files(self.table, lo, hi)
        delta = read_iceberg_incremental(self.spark, self.table, lo, hi)
        self.reset()
        with tr.span("validation.compile") as s_comp:
            Engine(self.spark).compile(delta, build_rules(self.manifest),
                                       partition_col="part_id")
        self.reset()
        probe_dir = os.path.join(self.work, "checkpoint-probe")
        with tr.span("plans.checkpoint") as s_ck:
            run_checkpointed(delta, build_rules(self.manifest), "part_id",
                             probe_dir)
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(probe_dir) for f in fs)
        return {
            "sources.delta_plan_s": s_plan["end"] - s_plan["start"],
            "validation.compile_s": s_comp["end"] - s_comp["start"],
            "validation.compile_jobs": float(s_comp["job_hi"] - s_comp["job_lo"]),
            "plans.checkpoint_s": s_ck["end"] - s_ck["start"],
            "plans.checkpoint_jobs": float(s_ck["job_hi"] - s_ck["job_lo"]),
            "plans.written_mb": written / harness.MB,
            "plans.noop_s": self.noop[0],
            "plans.noop_jobs": float(self.noop[1]),
            "plans.resume_reprocessed": float(self.resume_reprocessed or 0),
        }

    def span_metrics(self, tr) -> dict:
        return {"sources.append_s": harness.median(
            s["end"] - s["start"] for s in tr.named("sources.append"))}
