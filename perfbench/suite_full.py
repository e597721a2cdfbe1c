"""``suite_full``: the paper's flagship pass.

Each operation calls ``suite.validate_audio_table(df, manifest=m,
check_snr=True)`` and collects per-rule, per-partition violation counts
in one action.  Most of the work is the payload scan and the Arrow
decode: this is the read path.

The table is the repository's audio fixture with the clip index offset
by the seed.  Every payload hash matches the manifest, so the SNR slow
path does not run.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import harness
from cache import run_procs, seed_dir

N_CLIPS = 8000
PARTS = 8
FILES = 8
#: processes that synthesise the clips
GEN_WORKERS = min(4, len(os.sched_getaffinity(0)))


def index_offset(seed: int) -> int:
    # a multiple of 1000, so the first row is never a duplicate of a
    # clip outside the range (fixture duplicates sit at i % 1000 == 7)
    return 1000 * (seed % 1_000_000)


def data_row(i: int) -> tuple:
    """The fixture's declared columns for clip index ``i``, and the
    index whose payload it carries (a duplicate copies its source)."""
    from datatest_spark.fixtures import clip_id_for, clip_params

    p = clip_params(i)
    src = p.dup_of if p.dup_of is not None else i
    s = clip_params(src)
    return (clip_id_for(i), s.decl_sr, s.decl_dur_ms, s.codec,
            s.transcript, src % PARTS, src)


def expected_counts(lo: int, hi: int) -> Counter:
    """Closed-form (rule_id, partition) violation counts over clip
    indices ``[lo, hi)`` from the fixture's injection periods."""
    from datatest_spark.fixtures import clip_params

    out: Counter = Counter()
    ids = Counter()
    bad_codecs = set()
    for i in range(lo, hi):
        clip_id, sr, dur, codec, transcript, part, src = data_row(i)
        ps = str(part)
        ids[clip_id] += 1
        if codec not in ("pcm_s16le", "flac", "opus"):
            bad_codecs.add(codec)
        if dur < 1 or dur > 120_000:
            out["interval:dur_ms", ps] += 1
        if src % 100 == 23 or src % 200 == 29:
            out["ref_match:transcript", ps] += 1
        if src % 500 == 11:
            out["audio:decodable", ps] += 1
            continue
        true = clip_params(src)
        if sr != true.true_sr:
            out["audio:sr_hz", ps] += 1
        if dur != true.true_dur_ms:
            out["audio:dur_ms", ps] += 1
        if codec != true.true_codec:
            out["audio:codec", ps] += 1
    dups = sum(c - 1 for c in ids.values())
    if dups:
        out["unique:clip_id", None] = dups
    if bad_codecs:
        out["subset:codec", None] = len(bad_codecs)
    return out


def pcm_sha256(i: int) -> str:
    """The manifest hash of clip ``i``: SHA-256 of its true PCM."""
    from datatest_spark.fixtures import clip_params, synth_pcm

    p = clip_params(i)
    pcm = synth_pcm(i, p.true_sr, p.true_dur_ms)
    return hashlib.sha256(pcm.astype("<i2").tobytes()).hexdigest()


def write_audio(path: str, lo: int, hi: int) -> None:
    """One parquet file of the audio table: clip indices ``[lo, hi)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datatest_spark.fixtures import synth_clip_bytes

    rows = [data_row(i) for i in range(lo, hi)]
    pq.write_table(pa.table({
        "clip_id": pa.array([r[0] for r in rows], pa.string()),
        "bytes": pa.array([synth_clip_bytes(r[6]) for r in rows], pa.binary()),
        "sr_hz": pa.array([r[1] for r in rows], pa.int32()),
        "dur_ms": pa.array([r[2] for r in rows], pa.int32()),
        "codec": pa.array([r[3] for r in rows], pa.string()),
        "transcript": pa.array([r[4] for r in rows], pa.string()),
        "part_id": pa.array([r[5] for r in rows], pa.int32()),
    }), path)


def write_manifest(path: str, lo: int, hi: int) -> None:
    """One parquet file of the manifest: clip indices ``[lo, hi)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datatest_spark.fixtures import _transcript_words

    ids = range(lo, hi)
    pq.write_table(pa.table({
        "clip_id": pa.array([f"clip-{i:012d}" for i in ids], pa.string()),
        "transcript_ref": pa.array([_transcript_words(i) for i in ids],
                                   pa.string()),
        "pcm_sha256": pa.array([pcm_sha256(i) for i in ids], pa.string()),
    }), path)


def generate(cache: str, seed: int) -> str:
    """The audio table and its manifest for ``seed``, written once, one
    file per task in a pool of processes.  The manifest covers 1% more
    clips than the table."""

    def build(tmp: str) -> None:
        lo = index_offset(seed)
        tasks = []
        for name, write, n in (("audio", "write_audio", N_CLIPS),
                               ("manifest", "write_manifest",
                                N_CLIPS + N_CLIPS // 100)):
            os.makedirs(os.path.join(tmp, name))
            step = -(-n // FILES)
            for k in range(FILES):
                path = os.path.join(tmp, name, f"part-{k:03d}.parquet")
                tasks.append(("suite_full", write, (
                    path, lo + k * step, lo + min(n, (k + 1) * step))))
        run_procs(tasks, GEN_WORKERS)

    return seed_dir(cache, "suite_full", f"n{N_CLIPS}-s{seed}", build)


class Workload(harness.Workload):
    name = "suite_full"
    items = N_CLIPS

    def __init__(self, cache: str, seed: int, work: str):
        super().__init__(cache, seed, work)
        lo = index_offset(seed)
        self.expected = dict(expected_counts(lo, lo + N_CLIPS))
        self.res = self.held = None

    def generate(self, spark) -> None:
        self.dir = generate(self.cache, self.seed)

    def open(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(os.path.join(self.dir, "audio"))
        self.manifest = spark.read.parquet(os.path.join(self.dir, "manifest"))

    def reset(self) -> None:
        if self.res is not None:
            self.res.unpersist()
        self.res = self.held = None
        harness.assert_storage_empty(self.spark)

    def op(self, tr):
        from datatest_spark.suite import validate_audio_table

        with tr.span("suite.compile"):
            self.res = validate_audio_table(self.df, manifest=self.manifest,
                                            check_snr=True)
        with tr.span("suite.execute"):
            self.held = self.res.violations.groupBy("rule_id", "partition_id").count()
            rows = self.held.collect()
        return {(r["rule_id"], r["partition_id"]): r["count"] for r in rows}

    def check(self, got) -> str:
        if got != self.expected:
            diff = sorted(set(got.items()) ^ set(self.expected.items()),
                          key=repr)
            return f"violation counts differ from the closed form: {diff[:6]}"
        return ""

    def observe(self) -> dict:
        """Per-operation layer readings, taken after a traced operation
        and before its frames are released."""
        scans = [n for n in harness.plan_nodes(self.held)
                 if n["cls"] == "FileSourceScanExec" and "bytes" in n["output"]]
        return {"suite.payload_scans": float(len(scans)),
                "suite.cache_mb": harness.persisted_mb(self.spark)}

    def probes(self, tr) -> dict:
        from datatest_spark.audio import decode_info

        self.reset()
        with tr.span("sources.scan") as s_scan:
            self.df.write.format("noop").mode("overwrite").save()
        self.reset()
        with tr.span("audio.decode") as s_dec:
            held = decode_info(self.df).groupBy().count()
            held.collect()
        arrow = [n["metrics"] for n in harness.plan_nodes(held)
                 if n["name"] == "MapInArrow"]
        m = arrow[0] if arrow else {}
        return {
            "sources.scan_s": s_scan["end"] - s_scan["start"],
            "audio.decode_s": s_dec["end"] - s_dec["start"],
            "audio.python_s": m.get("pythonTotalTime", 0.0) / 1000.0,
            "audio.arrow_sent_mb": m.get("pythonDataSent", 0.0) / harness.MB,
            "audio.arrow_recv_mb": m.get("pythonDataReceived", 0.0) / harness.MB,
        }

    def span_metrics(self, tr) -> dict:
        comp = tr.named("suite.compile")
        return {
            "suite.compile_s": harness.median(s["end"] - s["start"] for s in comp),
            "suite.compile_jobs": harness.median(s["job_hi"] - s["job_lo"] for s in comp),
            "suite.execute_s": harness.median(
                s["end"] - s["start"] for s in tr.named("suite.execute")),
        }
