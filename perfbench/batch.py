"""The two batch workloads: one closed-loop client runs a fixed mix of
catalog queries back to back, each as ``spec.fn(spark, sf_dir)`` (the
build) followed by a noop write (the action).

The first pass of a run is untimed: it lets the JIT warm up and checks
every result against its stored fingerprint. The timed passes that
follow only run the noop action.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import time
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

from common import BENCH_DIR, DATA_DIR, ExecTotals, geomean, log, median, percentile

FINGERPRINTS = BENCH_DIR / "fingerprints.json"
MIN_PASSES = 2  # timed passes per series, however short the window

# Fixed-cost-bound relational queries: joins, aggregates, windows; no
# pins, no Python workers.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q13_order_count_dist",
    "hash_agg_stats",
    "window_ranking",
    "tumbling_window_agg",
)
RELATIONAL_TABLES = ("lineitem", "orders", "customer", "events")

# Build-heavy LLM-data queries: localCheckpoint pins, a driver-side
# loop of jobs, Python/Arrow workers, and the YAML Pipeline in batch mode.
LLM = (
    "fuzzy_name_match",
    "multimodal_jpeg_decode",
    "semantic_dedup_components",
    "curation_pipeline_yaml",
)
LLM_TABLES = ("documents", "embeddings", "customer")

MIXES = {
    "batch_relational": (RELATIONAL, RELATIONAL_TABLES),
    "batch_llm": (LLM, LLM_TABLES),
}


# -- result fingerprints --------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        s = f"{f:.6g}"
        return "0" if s == "-0" else s
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b:" + hashlib.sha256(bytes(v)).hexdigest()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(str(v))


def fingerprint(columns, rows) -> dict:
    """Row count plus an order-insensitive hash of the rows, floats
    rounded to 6 significant digits, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def result_fingerprint(df) -> dict:
    return fingerprint(df.columns, df.collect())


# -- the workload ----------------------------------------------------------


@dataclass
class QueryRun:
    name: str
    wall_s: float
    build_s: float
    action_s: float
    build_group: str = ""
    action_group: str = ""
    pinned_bytes: int = 0


@dataclass
class PassResult:
    wall_s: float
    queries: list[QueryRun] = field(default_factory=list)
    failed: int = 0


@dataclass
class WindowResult:
    passes: list[PassResult]
    read_s: list[float]
    attempted: int
    failed: int

    def e2e(self) -> dict:
        walls = [q.wall_s for p in self.passes for q in p.queries]
        per_query: dict[str, list[float]] = {}
        for p in self.passes:
            for q in p.queries:
                per_query.setdefault(q.name, []).append(q.wall_s)
        return {
            "pass_s": median([p.wall_s for p in self.passes]),
            "latency_p50_ms": percentile(walls, 50) * 1000,
            "latency_p90_ms": percentile(walls, 90) * 1000,
            "latency_geomean_ms": geomean(median(v) for v in per_query.values()) * 1000,
            "read_s": median(self.read_s),
        }


class BatchWorkload:
    def __init__(self, spark, workload: str, seed: int, tracer):
        from local_stream_stack_spark.queries import QUERIES

        mix, self.tables = MIXES[workload]
        self.order = list(mix)
        random.Random(seed).shuffle(self.order)
        self.specs = {q: QUERIES[q] for q in self.order}
        self.spark = spark
        self.sf_dir = str(DATA_DIR)
        self.tracer = tracer
        self.counters = None
        self._n = 0

    def check_pass(self, expected: dict) -> tuple[int, int, list[str]]:
        """Untimed pass: run every query and compare its result with the
        stored fingerprint. Returns (attempted, failed, messages)."""
        failed, msgs = 0, []
        for q in self.order:
            t0 = time.perf_counter()
            try:
                got = result_fingerprint(self.specs[q].fn(self.spark, self.sf_dir))
                log(f"check {q}: {time.perf_counter() - t0:.2f} s")
            except Exception as ex:  # a failing query is a failed op, not a crash
                failed += 1
                msgs.append(f"{q}: {type(ex).__name__}: {ex}")
                continue
            if got != expected.get(q):
                failed += 1
                msgs.append(f"{q}: result {got} != stored {expected.get(q)}")
        return len(self.order), failed, msgs

    def _group(self, kind: str, q: str) -> str:
        self._n += 1
        g = f"perfbench.{kind}.{q}.{self._n}"
        self.spark.sparkContext.setJobGroup(g, g)
        return g

    def timed_pass(self) -> PassResult:
        tr, counters = self.tracer, self.counters
        res = PassResult(wall_s=0.0)
        t0 = time.perf_counter()
        with tr.span("pass"):
            for q in self.order:
                run = QueryRun(q, 0.0, 0.0, 0.0)
                with tr.span("query", query=q):
                    a = time.perf_counter()
                    try:
                        with tr.span("query.build"):
                            if counters:
                                run.build_group = self._group("build", q)
                                before = counters.storage_bytes()
                            df = self.specs[q].fn(self.spark, self.sf_dir)
                            if counters:
                                run.pinned_bytes = max(0, counters.storage_bytes() - before)
                        b = time.perf_counter()
                        with tr.span("query.action"):
                            if counters:
                                run.action_group = self._group("action", q)
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as ex:  # counted as a failed op; the pass goes on
                        log(f"{q} failed: {type(ex).__name__}: {ex}")
                        res.failed += 1
                        continue
                    c = time.perf_counter()
                run.wall_s, run.build_s, run.action_s = c - a, b - a, c - b
                res.queries.append(run)
        res.wall_s = time.perf_counter() - t0
        if counters:
            self.spark.sparkContext.setJobGroup("perfbench.idle", "perfbench.idle")
        return res

    def read_inputs(self) -> float:
        """Read every input table of the mix through the catalog."""
        from local_stream_stack_spark.catalog import load_table

        with self.tracer.span("read"):
            t0 = time.perf_counter()
            for name in self.tables:
                load_table(self.spark, self.sf_dir, name).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    def window(self, seconds: float, modes: list[tuple]) -> list[WindowResult]:
        """Timed rounds until ``seconds`` would be exceeded (at least
        ``MIN_PASSES``), then five rounds of reading the inputs. A round
        runs one pass per mode, a (tracer, counters) pair, so an untraced
        and a traced series alternate and see the same warm-up."""
        passes: list[list[PassResult]] = [[] for _ in modes]
        reads: list[list[float]] = [[] for _ in modes]
        t0 = time.perf_counter()
        while len(passes[0]) < MIN_PASSES or (
            time.perf_counter() - t0 + sum(median([p.wall_s for p in ps]) for ps in passes) <= seconds
        ):
            for ps, mode in zip(passes, modes):
                self.tracer, self.counters = mode
                ps.append(self.timed_pass())
        for _ in range(5):
            for rs, mode in zip(reads, modes):
                self.tracer, self.counters = mode
                rs.append(self.read_inputs())
        return [
            WindowResult(ps, rs, len(self.order) * len(ps) + len(rs), sum(p.failed for p in ps))
            for ps, rs in zip(passes, reads)
        ]

    @staticmethod
    def layer_totals(passes: list[PassResult], counters) -> tuple[dict, dict]:
        """Layer metrics of traced passes, from Spark's counters: per pass
        (median over passes), and per query (median over its runs: wall,
        build and action seconds, build jobs, task seconds of build plus
        action)."""
        rows, per_query = [], {}
        for p in passes:
            build, action = ExecTotals(), ExecTotals()
            for q in p.queries:
                b, a = counters.group_totals(q.build_group), counters.group_totals(q.action_group)
                build.add(b)
                action.add(a)
                per_query.setdefault(q.name, []).append(
                    {"wall_s": q.wall_s, "build_s": q.build_s, "action_s": q.action_s,
                     "build_jobs": b.jobs, "task_s": b.task_s + a.task_s}
                )
            action_s = sum(q.action_s for q in p.queries)
            rows.append(
                {
                    "queries.build_s": sum(q.build_s for q in p.queries),
                    "queries.build_jobs": build.jobs,
                    "queries.build_task_s": build.task_s,
                    "queries.pinned_bytes": sum(q.pinned_bytes for q in p.queries),
                    "exec.action_s": action_s,
                    "exec.jobs": action.jobs,
                    "exec.stages": action.stages,
                    "exec.tasks": action.tasks,
                    "exec.task_s": action.task_s,
                    "exec.parallelism": action.task_s / action_s,
                    "exec.gc_s": action.gc_s,
                    "exec.shuffle_write_bytes": action.shuffle_write_bytes,
                    "exec.shuffle_read_bytes": action.shuffle_read_bytes,
                    "exec.spill_bytes": action.spill_bytes,
                }
            )
        totals = {k: median([r[k] for r in rows]) for k in rows[0]}
        per_query = {q: {k: median([r[k] for r in runs]) for k in runs[0]} for q, runs in per_query.items()}
        return totals, per_query
