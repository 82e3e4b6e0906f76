"""The repository's benchmark: three workloads, end-to-end metrics in an
untraced run and per-layer metrics in a traced one.

    python3 perfbench/run.py --workload batch_relational --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # each workload in turn
    python3 perfbench/run.py --list-metrics

Workloads (see NOTES.md for why each was chosen):

    batch_relational  one closed-loop client, relational catalog queries
    batch_llm         one closed-loop client, build-heavy LLM-data queries
    stream_ingest     open-loop generator -> YAML Pipeline -> keyed-MERGE store

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A traced run also writes its
spans and a summary to ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time


def _process_start() -> float:
    """This process's start on the perf_counter clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


T_START = _process_start()

import common  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("batch_relational", "batch_llm", "stream_ingest")
CORES = len(os.sched_getaffinity(0))
DEADLINE_S = 170  # a run that has not finished by then exits non-zero
OVERHEAD_METRICS = ("pass_s", "latency_p50_ms", "latency_p90_ms", "latency_geomean_ms", "read_s")


def _setup_layers(setup) -> dict:
    return {"session.start_s": setup.start_s, "session.warmup_s": setup.warmup_s}


# -- batch -----------------------------------------------------------------


def run_batch(workload, seed, seconds, traced, run_dir, spark, setup, sampler, out):
    import batch
    from spans import Tracer

    untraced = Tracer(False)
    wl = batch.BatchWorkload(spark, workload, seed, untraced)
    attempted, failed, msgs = wl.check_pass(batch.load_fingerprints())
    for m in msgs:
        common.log(f"check failed: {m}")
    common.log("check pass done")
    if not traced:
        (win,) = wl.window(seconds, [(untraced, None)])
        e2e = win.e2e()
        e2e["setup_s"] = setup.total_s
        e2e["peak_rss_mb"] = sampler.stop()
        return attempted + win.attempted, failed + win.failed, e2e

    tracer = Tracer(True)
    counters = common.SparkCounters(spark)
    with tracer.span("workload", workload=workload, seed=seed):
        plain, win = wl.window(2 * seconds, [(untraced, None), (tracer, counters)])
    attempted += plain.attempted + win.attempted
    failed += plain.failed + win.failed
    layers = _setup_layers(setup)
    totals, per_query = wl.layer_totals(win.passes, counters)
    layers.update(totals)
    for q, v in per_query.items():
        common.log(f"traced {q}: " + ", ".join(f"{k} {x:.3f}" for k, x in v.items()))
    if workload == "batch_llm":
        cfg_path = run_dir / "curation.yaml"
        cfg_path.write_text(_curation_yaml())
        layers.update(common.compose_pipeline(spark, tracer, cfg_path)[1])
    else:
        layers.update({"pipeline.load_s": 0.0, "pipeline.build_s": 0.0, "pipeline.compose_s": 0.0})
    layers["trace.accounted_share"] = common.median(
        sum(tracer.self_time(c) for q in tracer.children(ps.span_id) for c in tracer.children(q.span_id))
        / (ps.end - ps.start)
        for ps in tracer.spans
        if ps.name == "pass"
    )
    e2e, traced_e2e = plain.e2e(), win.e2e()
    for k in OVERHEAD_METRICS:
        layers[f"trace.overhead.{k}"] = traced_e2e[k] - e2e[k]
    layers.update(_stream_zeros())

    # single-thread baseline: one pass on local[1], same JVM (already warm)
    spark, _ = common.restart_session(spark, 1)
    wl.spark, wl.tracer, wl.counters = spark, untraced, None
    one = wl.timed_pass()
    attempted += len(wl.order)
    failed += one.failed
    layers["local1.pass_s"] = one.wall_s
    layers["local1.speedup"] = one.wall_s / e2e["pass_s"]
    out.update(spark=spark, tracer=tracer, summary={"end_to_end_untraced": e2e, "end_to_end_traced": traced_e2e, "order": wl.order, "per_query": per_query})
    return attempted, failed, layers


def _curation_yaml() -> str:
    """The catalog's curation pipeline YAML, pointed at the benchmark's tables."""
    import local_stream_stack_spark

    path = os.path.join(os.path.dirname(local_stream_stack_spark.__file__), "pipelines", "curation_e2e.yaml")
    with open(path) as f:
        return f.read().replace("${SF_DIR}", str(common.DATA_DIR))


def _stream_zeros() -> dict:
    """Stream-only layers on a batch workload: none of this work runs."""
    return {
        k: 0
        for k in M.PER_LAYER
        if k.startswith(("epoch.", "source.", "store.", "gen."))
    }


# -- stream ------------------------------------------------------------------


def run_stream_workload(seed, seconds, traced, run_dir, spark, setup, sampler, out):
    """Untraced: one stream run. Traced: a traced run first (under the
    same conditions as an untraced run's), then an untraced one for the
    overhead, then the local[1] baseline. The untraced run comes second,
    in a JVM already warm, so it gets a short warm-up (which also keeps
    the traced run within its time limit); it is the faster one, and the
    overhead figures are an upper bound."""
    import stream
    from spans import Tracer

    tracer = Tracer(traced)
    counters = common.SparkCounters(spark) if traced else None
    with tracer.span("workload", workload="stream_ingest", seed=seed):
        first = stream.run_stream(spark, run_dir / "stream-0", seed, stream.WARM_S, seconds, stream.BURSTS, tracer, counters, sampler)
    runs = [first]
    e2e = first.e2e()
    e2e["setup_s"] = setup.total_s + first.start_s
    if not traced:
        e2e["peak_rss_mb"] = sampler.stop()
    else:
        layers = _setup_layers(setup)
        layers.update(first.layers())
        layers.update({"queries.build_s": 0.0, "queries.build_jobs": 0, "queries.build_task_s": 0.0, "queries.pinned_bytes": 0})
        layers["trace.accounted_share"] = first.accounted_share
        plain = stream.run_stream(spark, run_dir / "stream-1", seed, stream.WARM_JVM_WARM_S, seconds, stream.BURSTS, Tracer(False), sampler=sampler)
        plain_e2e = plain.e2e()
        for k in OVERHEAD_METRICS:
            layers[f"trace.overhead.{k}"] = e2e[k] - plain_e2e[k]
        # single-thread baseline: a warm-up and one burst, on local[1]
        spark, _ = common.restart_session(spark, 1)
        one = stream.run_stream(spark, run_dir / "stream-2", seed, stream.WARM_JVM_WARM_S, 0, 1, Tracer(False), sampler=sampler)
        layers["local1.pass_s"] = one.e2e()["pass_s"]
        layers["local1.speedup"] = layers["local1.pass_s"] / plain_e2e["pass_s"]
        runs += [plain, one]
        out.update(spark=spark, tracer=tracer, summary={"end_to_end_traced": e2e, "end_to_end_untraced": plain_e2e})
    late = max(r.late_ms_max for r in runs)
    if late > stream.GEN_LATE_BOUND_MS:
        common.log(f"generator ran {late:.0f} ms late")
    out["late_ok"] = late <= stream.GEN_LATE_BOUND_MS
    return sum(r.attempted for r in runs), sum(r.failed for r in runs), layers if traced else e2e


# -- main --------------------------------------------------------------------


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run_all(args) -> int:
    """Run every workload, each in a fresh process, and print each one's
    metrics by name with units, plus ops attempted and failed."""
    import subprocess

    bad = 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        lines = subprocess.run(cmd, stdout=subprocess.PIPE, text=True).stdout.splitlines()
        if not lines:
            print(f"{w}: no result")
            bad += 1
            continue
        res = json.loads(lines[-1])
        bad += not res["correct"]
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name:<36} {m['value']:>14.4f} {m['unit']}")
    return 1 if bad else 0


def _give_up() -> None:
    """Exit without a result. The JVM and the generator read their stdin
    from this process and exit when it closes."""
    common.log(f"no result after {DEADLINE_S} s; giving up")
    os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repository's benchmark")
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list-metrics", action="store_true", help="print every metric with its unit and exit")
    args = ap.parse_args(argv)
    if args.list_metrics:
        print(M.listing())
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)

    common.import_engine()
    run_dir = common.prepare_run_dir(f"{args.workload}-s{args.seed}-t{args.trace}")
    watchdog = threading.Timer(DEADLINE_S, _give_up)
    watchdog.daemon = True
    watchdog.start()
    sampler = common.RssSampler().start()
    traced = bool(args.trace)
    out: dict = {}
    spark = None
    try:
        spark, setup = common.start_session(CORES, T_START)
        common.log(f"set-up took {setup.total_s:.2f} s from process start")
        runner = run_stream_workload if args.workload == "stream_ingest" else run_batch
        extra = () if args.workload == "stream_ingest" else (args.workload,)
        attempted, failed, values = runner(*extra, args.seed, args.seconds, traced, run_dir, spark, setup, sampler, out)
        spark = out.get("spark", spark)
        common.log("workload done")
    finally:
        sampler.stop()
        _shutdown(spark)
        watchdog.cancel()
    common.log("shut down")
    correct = failed == 0 and out.get("late_ok", True)

    names = M.PER_LAYER if traced else M.END_TO_END
    missing = set(names) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    if traced:
        trace_dir = common.WORK_DIR / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{args.workload}-seed{args.seed}.json"
        summary = dict(out["summary"], per_layer=values)
        out["tracer"].dump(path, summary)
        common.log(f"trace written to {path}")
        for name, s in sorted(out["tracer"].self_times_by_name().items(), key=lambda kv: -kv[1]):
            common.log(f"self time {name:<28} {s:9.3f} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values[n]), "unit": names[n][0]} for n in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
