"""Round-6 optimization measurement harness (guide §1).

NOT part of the driver contract — bench.py stays frozen.  This file
exists so per-query isolation runs, explain captures and suite-phase
breakdowns are reproducible:

  python bench_extra.py queries [name ...]   # per-query noop-sink wall
  python bench_extra.py explain [name ...]   # write plans/r06/<q>_{when}.txt
  python bench_extra.py suite [clips] [cores]  # audio-suite pass timing

The session config mirrors bench.py exactly (the frozen measurement
environment), so numbers here are comparable with the driver's.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, SF_DIR, make_spark  # noqa: E402  (frozen config)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(names, runs=2, sink="count"):
    import __spark_entry__ as entrymod

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    all_names = names or [n for n in qs]
    # warm-up (JIT/codegen), same as bench.py
    qs["set_orderstatus"](spark, SF_DIR).count()
    out = {}
    for name in all_names:
        fn = qs[name]
        best = None
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"r06:{name}")
            t0 = time.time()
            if sink == "noop":
                noop(fn(spark, SF_DIR))
            else:
                fn(spark, SF_DIR).count()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", flush=True)
    spark.stop()
    print({"total": round(sum(out.values()), 3), "queries": out})
    return out


def write_plans(names, when="before"):
    import __spark_entry__ as entrymod

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        # binary literals print raw NUL bytes, which make the dump read
        # as a binary file to diff and grep
        with open(f"plans/r06/{name}_{when}.txt", "w") as fh:
            fh.write(plan.replace("\0", ""))
        print(f"wrote plans/r06/{name}_{when}.txt", flush=True)
    spark.stop()


def time_suite(clips=200_000, cores=4, runs=2):
    from bench import ensure_audio_cache, run_audio_suite

    cache = make_spark(CPUS)
    cache.sparkContext.setLogLevel("ERROR")
    audio_path, manifest_path = ensure_audio_cache(cache, clips)
    cache.stop()

    spark = make_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    run_audio_suite(spark, audio_path, manifest_path)  # warm-up
    walls = []
    for _ in range(runs):
        walls.append(round(run_audio_suite(spark, audio_path, manifest_path), 3))
        print(f"suite[{cores} cores, {clips} clips]: {walls[-1]}", flush=True)
    spark.stop()
    print({"suite_runs": walls, "clips": clips, "cores": cores,
           "clips_per_sec": round(clips / min(walls), 1)})


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    args = sys.argv[2:]
    if mode == "queries":
        time_queries(args or None)
    elif mode == "noop":
        time_queries(args or None, sink="noop")
    elif mode == "explain":
        when = "before"
        if args and args[0] in ("before", "after"):
            when, args = args[0], args[1:]
        write_plans(args, when=when)
    elif mode == "suite":
        clips = int(args[0]) if args else 200_000
        cores = int(args[1]) if len(args) > 1 else 4
        time_suite(clips, cores)
    else:
        raise SystemExit(f"unknown mode {mode}")
