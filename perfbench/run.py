"""The repository benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload suite_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  The engine is driven only through its
public functions, in one Spark session at ``local[nproc]``.  Every
operation's output is checked; an operation that raises or returns
wrong counts is counted as failed, never retried.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a
separate run that reports the per-layer metrics: it alternates
untraced and traced operations (the difference of their medians is the
tracing overhead), then calls each layer's public function once on its
own.  Spans are kept in memory and written to
``.perfbench/traces/<workload>-s<seed>.json`` at the end.

The last line of standard output is one JSON object; the lines before
it print every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(CACHE, "work", str(os.getpid()))
TMP = os.path.join(WORK, "tmp")

WORKLOADS = ("suite_full", "dedup_docs", "ingest_incremental")
#: the operations' item and the headline metric's name
HEADLINE = {"suite_full": ("clips", "clips_per_s"),
            "ingest_incremental": ("clips", "verdict_s"),
            "dedup_docs": ("docs", "docs_per_s")}
#: ingest_incremental is not in BENCHMARK.json (the benchmark's time
#: budget fits two workloads); its layers are measured in the traced
#: run of suite_full, which shares the validation engine with it
COMPANION = {"suite_full": "ingest_incremental"}
#: companion steps; the first creates the table (a warm-up)
COMPANION_STEPS = 3
#: every run times at least MIN_OPS operations, and its figures are
#: taken over the first MIN_OPS of them: a faster host fits more
#: operations into --seconds, and the later ones are further into the
#: JVM's warm-up, so figures over all of them would follow host speed
MIN_OPS = 4


def per_layer_units() -> dict:
    """Per-layer metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    # Python workers import the engine from the checkout too, and every
    # temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = TMP
    import harness

    module = importlib.import_module(args.workload)
    try:
        os.makedirs(TMP)
        w = module.Workload(CACHE, args.seed, WORK)
        res = run(args, harness, w)
    finally:
        procs = harness.descendants(os.getpid())
        try:
            stop()
        finally:
            # the JVM's Python workers and anything else the run
            # started: each has ended before the run exits
            harness.reap(procs)
            shutil.rmtree(WORK, ignore_errors=True)
    report(args, res, w)
    return 0


def stop() -> None:
    """Stop the Spark context, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def attempt(harness, w, tr, observe=False, span="op"):
    """One operation: reset, ``before_op``, the timed ``op`` (in a span
    named ``span``), then its check.  Returns ``(wall, cpu, err,
    observed)``; ``err`` is "" when the output is correct.  An exception
    fails the operation, which is not retried; its wall time runs until
    the exception."""
    observed = None
    wall = cpu = 0.0
    try:
        w.reset()
        w.before_op(tr)
        with tr.span(span):
            c0 = harness.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                result = w.op(tr)
            finally:
                wall = time.perf_counter() - t0
                cpu = harness.tree_cpu_s(os.getpid()) - c0
        err = w.check(result)
        if observe and not err:
            observed = w.observe()
    except Exception as e:
        err = f"{type(e).__name__}: {e}"
    return wall, cpu, err and f"{w.name}: {err}", observed


def run_tail(w, tr) -> list:
    """The workload's untimed operations after the loop: one error
    string each, "" for a correct one."""
    try:
        w.reset()
        return [e and f"{w.name}: {e}" for e in w.tail(tr)]
    except Exception as e:
        return [f"{w.name}: tail: {type(e).__name__}: {e}"]


def run(args, harness, w):
    """Set up (session, input open, one warm-up operation; input
    generation is timed apart), then the closed loop, then the
    workload's untimed tail and, traced, the layer probes."""
    spark = harness.start_session(TMP)
    session_s = time.perf_counter() - T_START
    tg = time.perf_counter()
    w.generate(spark)
    gen_s = time.perf_counter() - tg
    with harness.RssSampler() as rss:
        res = measure(args, harness, w, spark, session_s)
    res["peak_rss_mb"] = rss.peak_mb
    res["diagnostics"]["generate_s"] = gen_s
    return res


def measure(args, harness, w, spark, session_s):
    idle = harness.Tracer(spark, enabled=False)
    tracer = harness.Tracer(spark, enabled=bool(args.trace))
    failures, walls, cpus, traced_walls, observed = [], [], [], [], []

    t1 = time.perf_counter()
    w.open(spark)
    _, _, err, _ = attempt(harness, w, idle)
    setup_s = session_s + time.perf_counter() - t1
    failures += [f"warm-up {err}"] if err else []
    attempted = 1

    op_walls = []  # every timed operation's, failed ones too
    steal0 = harness.read_steal()
    canary = [harness.cpu_canary()]
    t_loop = time.perf_counter()
    while w.has_next():
        elapsed = time.perf_counter() - t_loop
        if (len(op_walls) >= MIN_OPS
                and elapsed + harness.median(op_walls) > args.seconds):
            break
        traced = bool(args.trace) and len(op_walls) % 2 == 1
        tr = tracer if traced else idle
        tr.op_id = attempted
        attempted += 1
        wall, cpu, err, obs = attempt(harness, w, tr, observe=traced)
        op_walls.append(wall)
        if err:
            failures.append(err)
        elif traced:
            traced_walls.append(wall)
            observed.append(obs)
        else:
            walls.append(wall)
            cpus.append(cpu)
    loop_s = time.perf_counter() - t_loop
    steal1 = harness.read_steal()
    canary.append(harness.cpu_canary())

    tail = run_tail(w, tracer if args.trace else idle)
    attempted += len(tail)
    failures += [e for e in tail if e]

    res = {
        "attempted": attempted,
        "failures": failures,
        "known_defects": w.known_defects(),
        "walls": walls,
        "cpus": cpus,
        "setup_s": setup_s,
        "diagnostics": {
            "op_walls_s": op_walls,
            "op_cpu_s": cpus,
            "loop_s": loop_s,
            "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "cpu_canary_s": canary,
            "config": harness.session_conf(TMP),
        },
    }
    if args.trace:
        w.reset()
        units = per_layer_units()
        layers = {k: 0.0 for k in units}
        layers.update(w.probes(tracer))
        if args.workload in COMPANION:
            layers.update(companion(args, harness, tracer, res))
        layers.update(layer_metrics(harness, w, tracer, observed,
                                    walls, traced_walls))
        unknown = set(layers) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        res["layers"] = layers
        write_trace(args, tracer, res)
    res["failed"] = len(res["failures"])
    return res


def companion(args, harness, tracer, res) -> dict:
    """Run the companion workload's steps, tail and probes in this
    session, all traced; its operations count as attempted."""
    module = importlib.import_module(COMPANION[args.workload])
    c = module.Workload(CACHE, args.seed, WORK)
    c.generate(tracer.spark)
    c.open(tracer.spark)
    walls = []
    for k in range(COMPANION_STEPS):
        tracer.op_id = f"{c.name}:{k}"
        wall, _, err, _ = attempt(harness, c, tracer, span="companion.op")
        res["attempted"] += 1
        if err:
            res["failures"].append(err)
        elif k:
            walls.append(wall)
    for err in run_tail(c, tracer):
        res["attempted"] += 1
        if err:
            res["failures"].append(err)
    res["known_defects"] += c.known_defects()
    c.reset()
    layers = c.probes(tracer)
    layers.update(c.span_metrics(tracer))
    layers["plans.verdict_s"] = harness.median(walls)
    return layers


def layer_metrics(harness, w, tracer, observed, walls, traced_walls) -> dict:
    layers = {}
    harness.wait_for_listeners(tracer.spark)
    tracer.self_times()
    layers.update(w.span_metrics(tracer))
    for key in (observed[0] if observed else {}):
        layers[key] = harness.median(o[key] for o in observed)
    ops = tracer.named("op")
    stages = [harness.stage_metrics(tracer.spark, s["job_lo"], s["job_hi"])
              for s in ops]
    for key, name in (("jobs", "spark.jobs"), ("tasks", "spark.tasks"),
                      ("run_s", "spark.run_s"), ("gc_s", "spark.gc_s"),
                      ("shuffle_write_mb", "exchange.shuffle_write_mb"),
                      ("spill_mb", "exchange.spill_mb")):
        layers[name] = harness.median(s[key] for s in stages)
    layers["trace.uncovered_s"] = harness.median(s["self_s"] for s in ops)
    layers["trace.overhead_s"] = (harness.median(traced_walls[:MIN_OPS])
                                  - harness.median(walls[:MIN_OPS]))
    layers["wall.op_s"] = harness.median(walls[:MIN_OPS])
    layers["wall.items_per_s"] = w.items / layers["wall.op_s"]
    return layers


def write_trace(args, tracer, res) -> None:
    out = os.path.join(CACHE, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": tracer.spans, **res}, fh, indent=1)


def report(args, res, w) -> None:
    import harness

    ok = res["failed"] == 0 and bool(res["walls"])
    op_s = harness.median(res["walls"][:MIN_OPS])
    # CPU time totalled over the operations: the JIT compiler's share
    # moves between consecutive operations, so one operation's CPU time
    # (a median's) is noisier than the total
    cpus = res["cpus"][:MIN_OPS]
    op_cpu_s = sum(cpus) / len(cpus) if cpus else 0.0
    item, headline = HEADLINE[args.workload]
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in res["layers"].items()}
    else:
        metrics = {
            "items_per_cpu_s": {"value": w.items / op_cpu_s if op_cpu_s else 0.0,
                                "unit": "1/cpu_s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
        if headline == "verdict_s":
            print(f"verdict_s {op_s:.6g} s")
        elif op_s:
            print(f"{headline} {w.items / op_s:.6g} {item}/s")
        print(f"op_s {op_s:.6g} s (median wall time)")
        print(f"op_cpu_s {op_cpu_s:.6g} s (mean CPU time)")
    print(f"error_rate {res['failed'] / max(res['attempted'], 1):.6g} ratio "
          f"({res['failed']} of {res['attempted']} operations)")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"failed: {f}")
    for d in res["known_defects"]:
        print(f"known defect (not counted in failed): {d}")
    print("diagnostics " + json.dumps(res["diagnostics"], default=float))
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
