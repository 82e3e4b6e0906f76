"""The ``stream_ingest`` workload.

A separate generator process (gen.py) publishes JSON-lines event files
into a watched directory. A YAML ``Pipeline`` (json stream source with a
registered schema, a filter and a derived column) feeds
``latest_per_key_stream_parquet``, the keyed-MERGE compacted view. A run
has a warm-up and a steady phase at one fixed file rate (the steady
phase starts while the warm-up's epochs still run, so it sees the
stream's steady cadence, not its start from idle), bursts published at
once, each after the backlog drained, and reads of the final view
through ``read_compacted_view``.

Rows are counted from the generator's log and the file source's own log
(which file went into which epoch), never from ``numInputRows``: the
store's ``foreachBatch`` runs more than one action per batch, and each
one is counted again. Epoch commit times come from the progress reports
(``timestamp`` + ``durationMs.triggerExecution``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

from common import BENCH_DIR, ExecTotals, compose_pipeline, geomean, log, median, percentile
from spans import union_length

GEN = BENCH_DIR / "gen.py"
PIPELINE_YAML = BENCH_DIR / "stream_pipeline.yaml"
SCHEMA_NAME = "perfbench_event"
GEN_LATE_BOUND_MS = 500.0  # a generator later than this invalidates the run
COMMIT_TIMEOUT_S = 30.0
PROGRESS_TIMEOUT_S = 10.0
RATE = 4.0  # files per second in the warm-up and steady phases
ROWS = 1000  # rows per warm-up or steady file
WARM_S = 12.0  # warm-up of a run's first stream (cold JVM); the steady phase follows it without a pause
WARM_JVM_WARM_S = 3.0  # warm-up of a later stream in the same JVM, whose JIT has already warmed up
BURSTS = 2
BURST_FILES = 24
BURST_ROWS = 1000  # rows per burst file
# Order of the phases inside one trigger, used to lay out epoch spans.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def commands(warm_s: float, steady_s: float, bursts: int) -> list[tuple[str, str]]:
    """The generator's phases: one flow of a warm-up of ``warm_s`` and a
    steady phase of ``steady_s`` (none when 0) on one schedule, then
    ``bursts`` bursts."""
    warm, steady = round(RATE * warm_s), round(RATE * steady_s)
    flow = f"flow {ROWS} {RATE} warm {warm}" + (f" steady {steady}" if steady else "")
    return [("flow", flow)] + [("burst", f"burst {BURST_FILES} {BURST_ROWS}")] * bursts


# -- pure arithmetic over the logs (unit-tested) ---------------------------


def parse_source_log(texts: list[str]) -> dict[str, int]:
    """File-source log texts (``v1`` then one JSON entry per line) ->
    {file name: batch id}."""
    out: dict[str, int] = {}
    for text in texts:
        for line in text.splitlines()[1:]:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_ms(ts: str) -> float:
    """Progress ``timestamp`` (ISO-8601, UTC) -> epoch milliseconds."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def epochs_from_progress(progress: list[dict]) -> dict[int, dict]:
    """{batch id: {start_ms, end_ms, duration, input_rows}}, last report wins."""
    out = {}
    for p in progress:
        start = progress_ms(p["timestamp"])
        dur = p.get("durationMs", {})
        out[int(p["batchId"])] = {
            "start_ms": start,
            "end_ms": start + dur.get("triggerExecution", 0),
            "duration": dur,
            "input_rows": p.get("numInputRows", 0),
        }
    return out


def _commit_ms(p: dict, file_batch: dict[str, int], epochs: dict[int, dict]) -> float | None:
    b = file_batch.get(p["name"])
    return epochs[b]["end_ms"] if b in epochs else None


def file_latencies_ms(pubs: list[dict], file_batch: dict[str, int], epochs: dict[int, dict]) -> list[float]:
    """Due-to-commit latency of each published file; a file never
    committed counts as the commit timeout."""
    out = []
    for p in pubs:
        end = _commit_ms(p, file_batch, epochs)
        out.append(COMMIT_TIMEOUT_S * 1000.0 if end is None else end - p["due"] * 1000.0)
    return out


def drain_s(pubs: list[dict], file_batch: dict[str, int], epochs: dict[int, dict]) -> float:
    """From the first file's due time to the commit of the last epoch
    that consumed any of the files (the commit timeout if one of them
    was never committed)."""
    ends = [_commit_ms(p, file_batch, epochs) for p in pubs]
    if None in ends:
        return COMMIT_TIMEOUT_S
    return (max(ends) - min(p["due"] for p in pubs) * 1000.0) / 1000.0


def backlog_max(pubs: list[dict], file_batch: dict[str, int], epochs: dict[int, dict]) -> int:
    """Most files published but not yet committed at any instant."""
    events = []
    for p in pubs:
        events.append((p["published"] * 1000.0, 1))
        events.append((epochs[file_batch[p["name"]]]["end_ms"], -1))
    cur = best = 0
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        cur += d
        best = max(best, cur)
    return best


def rows_by_batch(pubs: list[dict], file_batch: dict[str, int]) -> dict[int, int]:
    out: dict[int, int] = {}
    for p in pubs:
        b = file_batch[p["name"]]
        out[b] = out.get(b, 0) + p["rows"]
    return out


def reads_per_row(pubs: list[dict], file_batch: dict[str, int], epochs: dict[int, dict], kept: dict[str, int]) -> float:
    """Reported numInputRows over the true rows the source delivered in
    the same epochs. The pipeline's filter is pushed into the scan, so
    the true rows are those that pass it (``kept``, per file)."""
    true = rows_by_batch([dict(p, rows=kept[p["name"]]) for p in pubs], file_batch)
    reported = sum(epochs[b]["input_rows"] for b in true)
    return reported / sum(true.values())


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope; 0 when x does not vary."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


# -- the reference view --------------------------------------------------


@dataclass
class Replay:
    view: set[tuple]  # what the compacted view must hold
    kept: dict[str, int]  # per file: rows that pass the pipeline's filter
    store_rows: dict[int, int]  # per committed batch: rows in the store after it


def replay(seed: int, pubs: list[dict], file_batch: dict[str, int]) -> Replay:
    """Rebuild the published records from the seed and apply the
    reference semantics: latest record per user_id among non-heartbeat
    events, tombstones (value null) dropped from the view but kept as
    store rows, like Kafka compaction."""
    import gen

    latest: dict[int, dict] = {}
    kept: dict[str, int] = {}
    keys_at: dict[int, int] = {}
    for p in sorted(pubs, key=lambda p: p["idx"]):
        n = 0
        for rec in gen.file_records(seed, p["idx"], p["rows"]):
            if rec["event_type"] == "heartbeat":
                continue
            n += 1
            cur = latest.get(rec["user_id"])
            if cur is None or rec["ts"] > cur["ts"]:
                latest[rec["user_id"]] = rec
        kept[p["name"]] = n
        b = file_batch.get(p["name"])
        if b is not None:
            keys_at[b] = len(latest)
    view = {
        (r["user_id"], r["event_type"], r["ts"], r["value"], int(round(r["value"] * 100)))
        for r in latest.values()
        if r["value"] is not None
    }
    return Replay(view, kept, keys_at)


# -- the run ----------------------------------------------------------------


@dataclass
class StreamResult:
    start_s: float
    pipeline: dict
    pubs: list[dict]
    file_batch: dict[str, int]
    epochs: dict[int, dict]
    reads: list[float]
    late_ms_max: float
    uncommitted: int
    view_ok: bool
    view_rows: int
    store_files: int
    store_bytes: int
    exec: ExecTotals | None
    replay: Replay
    accounted_share: float = 0.0

    @property
    def attempted(self) -> int:
        return len(self.pubs) + len(self.reads)

    @property
    def failed(self) -> int:
        return self.uncommitted + (0 if self.view_ok else 1)

    @property
    def committed_pubs(self) -> list[dict]:
        return [p for p in self.pubs if p["name"] in self.file_batch]

    def phase(self, name: str) -> list[dict]:
        return [p for p in self.pubs if p["phase"] == name]

    def bursts(self) -> list[list[dict]]:
        """The burst files, one list per burst (a burst shares one due time)."""
        groups: dict[float, list[dict]] = {}
        for p in self.phase("burst"):
            groups.setdefault(p["due"], []).append(p)
        return [groups[d] for d in sorted(groups)]

    def e2e(self) -> dict:
        steady = self.phase("steady")
        lat = file_latencies_ms(steady, self.file_batch, self.epochs) if steady else [0.0]
        return {
            "pass_s": median([drain_s(b, self.file_batch, self.epochs) for b in self.bursts()]),
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
            "latency_geomean_ms": geomean(max(x, 1e-3) for x in lat),
            "read_s": median(self.reads),
        }

    def layers(self) -> dict:
        fb, ep, pubs = self.file_batch, self.epochs, self.committed_pubs
        steady_b = sorted({fb[p["name"]] for p in pubs if p["phase"] == "steady"})
        rows_b = rows_by_batch(pubs, fb)
        data_b = sorted(rows_b)

        def p50(key):
            return median([ep[b]["duration"].get(key, 0) for b in steady_b]) if steady_b else 0.0

        after_warm = [b for b in data_b if b >= (steady_b[0] if steady_b else 0)]
        ex = self.exec or ExecTotals()
        action_s = sum(ep[b]["duration"].get("triggerExecution", 0) for b in data_b) / 1000.0
        return {
            **self.pipeline,
            "exec.action_s": action_s,
            "exec.jobs": ex.jobs,
            "exec.stages": ex.stages,
            "exec.tasks": ex.tasks,
            "exec.task_s": ex.task_s,
            "exec.parallelism": ex.task_s / action_s if action_s else 0.0,
            "exec.gc_s": ex.gc_s,
            "exec.shuffle_write_bytes": ex.shuffle_write_bytes,
            "exec.shuffle_read_bytes": ex.shuffle_read_bytes,
            "exec.spill_bytes": ex.spill_bytes,
            "epoch.count": len(steady_b),
            "epoch.rows_p50": median([rows_b[b] for b in steady_b]) if steady_b else 0,
            "epoch.trigger_ms_p50": p50("triggerExecution"),
            "epoch.add_batch_ms_p50": p50("addBatch"),
            "epoch.query_planning_ms_p50": p50("queryPlanning"),
            "epoch.wal_commit_ms_p50": p50("walCommit"),
            "epoch.commit_offsets_ms_p50": p50("commitOffsets"),
            "source.list_ms_p50": p50("latestOffset"),
            "source.reads_per_row": reads_per_row(pubs, fb, ep, self.replay.kept),
            "source.backlog_files_max": backlog_max(pubs, fb, ep),
            "store.view_rows": self.view_rows,
            "store.files": self.store_files,
            "store.bytes": self.store_bytes,
            "store.add_batch_ms_slope": slope(
                [self.replay.store_rows[b] / 1000.0 for b in after_warm],
                [ep[b]["duration"].get("addBatch", 0) for b in after_warm],
            ),
            "gen.events": sum(p["rows"] for p in self.pubs),
            "gen.late_ms_max": self.late_ms_max,
        }

    def add_epoch_spans(self, tracer, parent_id) -> float:
        """Epoch spans (phases as children) from the progress reports;
        returns the share of the steady and burst intervals they cover."""
        for b, e in sorted(self.epochs.items()):
            sid = tracer.add("epoch", e["start_ms"] / 1000, e["end_ms"] / 1000, parent_id, batch=b)
            t = e["start_ms"] / 1000
            for ph in PHASES:
                d = e["duration"].get(ph, 0) / 1000
                tracer.add(f"epoch.{ph}", t, t + d, sid)
                t += d
        covered = total = 0.0
        for pubs in [self.phase("steady")] + self.bursts():
            pubs = [p for p in pubs if p["name"] in self.file_batch]
            if not pubs:
                continue
            lo = min(p["due"] for p in pubs) * 1000
            hi = max(self.epochs[self.file_batch[p["name"]]]["end_ms"] for p in pubs)
            total += hi - lo
            covered += union_length((max(e["start_ms"], lo), min(e["end_ms"], hi)) for e in self.epochs.values())
        return covered / total if total else 0.0


class _GenProc:
    def __init__(self, seed: int, inbox: Path, stage: Path, log: Path):
        self.log = log
        self.proc = subprocess.Popen(
            [sys.executable, str(GEN), "--seed", str(seed), "--inbox", str(inbox), "--stage", str(stage), "--log", str(log)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.late_ms_max = 0.0

    def phase(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline().split()
        if len(reply) != 3 or reply[0] != "done":
            raise RuntimeError(f"generator failed on {cmd!r}: {reply}")
        self.late_ms_max = max(self.late_ms_max, float(reply[2]))

    def published(self) -> list[dict]:
        with open(self.log) as f:
            return [json.loads(line) for line in f if line.strip()]

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _source_log(ckpt: Path) -> dict[str, int]:
    d = ckpt / "sources" / "0"
    if not d.is_dir():
        return {}
    texts = []
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            texts.append((d / name).read_text())
        except FileNotFoundError:  # superseded by a compaction meanwhile
            continue
    return parse_source_log(texts)


def _committed(ckpt: Path) -> set[int]:
    d = ckpt / "commits"
    if not d.is_dir():
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def _progress_through(query, batch_id: int) -> list[dict]:
    """The query's progress reports, once the one for ``batch_id`` is
    among them (it is posted shortly after the epoch's commit)."""
    deadline = time.time() + PROGRESS_TIMEOUT_S
    while True:
        progress = [json.loads(p.json) for p in query.recentProgress]
        if any(p["batchId"] >= batch_id for p in progress) or time.time() > deadline:
            return progress
        time.sleep(0.05)


def wait_committed(ckpt: Path, names: list[str]) -> bool:
    """Poll the checkpoint until every named file is in a committed epoch."""
    deadline = time.time() + COMMIT_TIMEOUT_S
    while True:
        fb = _source_log(ckpt)
        done = _committed(ckpt)
        if all(n in fb and fb[n] in done for n in names):
            return True
        if time.time() > deadline:
            return False
        time.sleep(0.05)


def _dir_stats(path: Path) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def register_schema() -> None:
    from pyspark.sql import types as T

    from local_stream_stack_spark.schemas import register_schema as reg

    reg(
        SCHEMA_NAME,
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("ts", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        overwrite=True,
    )


def run_stream(spark, run_dir: Path, seed: int, warm_s: float, steady_s: float, bursts: int, tracer, counters=None, sampler=None) -> StreamResult:
    from local_stream_stack_spark.streaming.ops import latest_per_key_stream_parquet, read_compacted_view

    run_dir.mkdir(parents=True)
    inbox, stage, ckpt, view = (run_dir / d for d in ("inbox", "stage", "ckpt", "view"))
    inbox.mkdir()
    stage.mkdir()
    cfg_path = run_dir / "pipeline.yaml"
    cfg_path.write_text(PIPELINE_YAML.read_text().replace("${INBOX}", str(inbox)))
    register_schema()

    gen = _GenProc(seed, inbox, stage, run_dir / "gen.jsonl")
    if sampler is not None:
        sampler.exclude.add(gen.proc.pid)
    query = None
    try:
        with tracer.span("stream.start"):
            t0 = time.perf_counter()
            df, pipeline = compose_pipeline(spark, tracer, cfg_path)
            with tracer.span("store.start"):
                query = latest_per_key_stream_parquet(
                    df, keys=["user_id"], order_col="ts", target_path=str(view),
                    checkpoint_location=str(ckpt), tombstone_predicate="value IS NULL",
                )
            start_s = time.perf_counter() - t0

        with tracer.span("stream.run") as run_span:
            for phase, cmd in commands(warm_s, steady_s, bursts):
                with tracer.span(f"stream.{phase}"):
                    gen.phase(cmd)
                    done = wait_committed(ckpt, [p["name"] for p in gen.published()])
                log(f"stream {phase} phase {'committed' if done else 'NOT committed in time'}")
            run_span_id = run_span.span_id if run_span is not None else None
        progress = _progress_through(query, max(_committed(ckpt), default=-1))
        run_id = str(query.runId)
        # The idle query keeps listing the inbox; stop it so the reads
        # of the final view do not compete with it.
        query.stop()

        reads = []
        for _ in range(5):
            with tracer.span("view.read"):
                a = time.perf_counter()
                read_compacted_view(spark, str(view)).write.format("noop").mode("overwrite").save()
                reads.append(time.perf_counter() - a)
        log(f"view reads {[round(r, 3) for r in reads]} s")
        rows = read_compacted_view(spark, str(view)).select("user_id", "event_type", "ts", "value", "value_cents").collect()
        exec_totals = counters.group_totals(run_id) if counters else None
    finally:
        if query is not None and query.isActive:
            query.stop()
        gen.close()

    pubs = gen.published()
    fb = _source_log(ckpt)
    committed = _committed(ckpt)
    epochs = {b: e for b, e in epochs_from_progress(progress).items() if b in committed}
    done = {n: b for n, b in fb.items() if b in epochs}
    got = {tuple(r) for r in rows}
    files, size = _dir_stats(view / "data")
    ref = replay(seed, pubs, done)
    res = StreamResult(
        start_s=start_s,
        pipeline=pipeline,
        pubs=pubs,
        file_batch=done,
        epochs=epochs,
        reads=reads,
        late_ms_max=gen.late_ms_max,
        uncommitted=sum(1 for p in pubs if p["name"] not in done),
        view_ok=len(got) == len(rows) and got == ref.view,
        view_rows=len(rows),
        store_files=files,
        store_bytes=size,
        exec=exec_totals,
        replay=ref,
    )
    log("epoch trigger ms: " + " ".join(str(e["duration"].get("triggerExecution", 0)) for _, e in sorted(epochs.items())))
    if counters:
        res.accounted_share = res.add_epoch_spans(tracer, run_span_id)
    return res
