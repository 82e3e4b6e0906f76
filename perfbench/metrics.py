"""The benchmark's metric catalog: every name it reports, with its unit.

``END_TO_END`` is printed by an untraced run (``--trace 0``) and
``PER_LAYER`` by a traced run (``--trace 1``). Both lists must match
``BENCHMARK.json``; ``python3 perfbench/run.py --list-metrics`` prints
them.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> (unit, meaning)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "from process start until the session ran one trivial job and one Python worker; stream adds the store query start"),
    "pass_s": ("s", "batch: median wall of one pass over the query mix; stream: median over the bursts of due time to the commit of the burst's last epoch"),
    "latency_p50_ms": ("ms", "batch: median wall of one query; stream: median file due-to-commit latency in the steady phase"),
    "latency_p90_ms": ("ms", "90th percentile of the same samples"),
    "latency_geomean_ms": ("ms", "batch: geometric mean over the mix of each query's median wall; stream: geometric mean of the steady latencies"),
    "read_s": ("s", "median of 5 reads: batch, every input table of the mix; stream, the final compacted view"),
    "peak_rss_mb": ("MB", "peak RSS of the benchmark's process tree (driver, JVM, Python workers; not the generator)"),
}

PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "get_spark(), JVM launch included"),
    "session.warmup_s": ("s", "one trivial job plus one Python worker"),
    "pipeline.load_s": ("s", "load_pipeline_config()"),
    "pipeline.build_s": ("s", "Pipeline.build()"),
    "pipeline.compose_s": ("s", "Pipeline.dataframe()"),
    "queries.build_s": ("s", "per pass: time inside the catalog's spec.fn(spark, sf_dir)"),
    "queries.build_jobs": ("count", "per pass: Spark jobs fired while building (pins, collects, driver loops)"),
    "queries.build_task_s": ("s", "per pass: stage executorRunTime of those jobs (Python workers' time included)"),
    "queries.pinned_bytes": ("bytes", "per pass: RDD storage added by the builds"),
    "exec.action_s": ("s", "per pass: final noop actions (stream: data epochs' trigger time)"),
    "exec.jobs": ("count", "Spark jobs of the actions (stream: of the whole stream run)"),
    "exec.stages": ("count", "stages run by those jobs"),
    "exec.tasks": ("count", "tasks run by those stages"),
    "exec.task_s": ("s", "sum of stage executorRunTime"),
    "exec.parallelism": ("ratio", "exec.task_s / exec.action_s"),
    "exec.gc_s": ("s", "sum of stage jvmGcTime"),
    "exec.shuffle_write_bytes": ("bytes", "stage shuffle write"),
    "exec.shuffle_read_bytes": ("bytes", "stage shuffle read"),
    "exec.spill_bytes": ("bytes", "stage memory plus disk spill"),
    "epoch.count": ("count", "steady-phase epochs that consumed data"),
    "epoch.rows_p50": ("rows", "median true rows per steady epoch (generator rows x source log)"),
    "epoch.trigger_ms_p50": ("ms", "median durationMs.triggerExecution, steady epochs"),
    "epoch.add_batch_ms_p50": ("ms", "median durationMs.addBatch, steady epochs"),
    "epoch.query_planning_ms_p50": ("ms", "median durationMs.queryPlanning, steady epochs"),
    "epoch.wal_commit_ms_p50": ("ms", "median durationMs.walCommit, steady epochs"),
    "epoch.commit_offsets_ms_p50": ("ms", "median durationMs.commitOffsets, steady epochs"),
    "source.list_ms_p50": ("ms", "median durationMs.latestOffset (file listing), steady epochs"),
    "source.reads_per_row": ("ratio", "reported numInputRows / true rows, all epochs"),
    "source.backlog_files_max": ("count", "most files published but not yet committed at once"),
    "store.view_rows": ("rows", "rows of the final compacted view"),
    "store.files": ("count", "data files under the store"),
    "store.bytes": ("bytes", "data bytes under the store"),
    "store.add_batch_ms_slope": ("ms/krow", "least-squares slope of addBatch ms on store rows (thousands)"),
    "gen.events": ("count", "events published by the generator"),
    "gen.late_ms_max": ("ms", "largest publish delay behind schedule"),
    "trace.accounted_share": ("ratio", "batch: (build + action self time) / pass wall; stream: epoch spans / ingest wall"),
    "trace.overhead.pass_s": ("s", "traced minus untraced, same process"),
    "trace.overhead.latency_p50_ms": ("ms", "traced minus untraced, same process"),
    "trace.overhead.latency_p90_ms": ("ms", "traced minus untraced, same process"),
    "trace.overhead.latency_geomean_ms": ("ms", "traced minus untraced, same process"),
    "trace.overhead.read_s": ("s", "traced minus untraced, same process"),
    "local1.pass_s": ("s", "pass_s of the same workload on local[1]"),
    "local1.speedup": ("ratio", "local1.pass_s / untraced pass_s on all cores"),
}


def listing() -> str:
    rows = [("end_to_end", n, u, d) for n, (u, d) in END_TO_END.items()]
    rows += [("per_layer", n, u, d) for n, (u, d) in PER_LAYER.items()]
    w = max(len(r[1]) for r in rows)
    return "\n".join(f"{kind:<10}  {name:<{w}}  {unit:<8}  {doc}" for kind, name, unit, doc in rows)
