"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import batch  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import stream  # noqa: E402
from spans import Tracer, union_length  # noqa: E402


# -- generator ----------------------------------------------------------------


def _publish_all(seed: int, root: Path) -> dict[str, bytes]:
    inbox, stage = root / "inbox", root / "stage"
    inbox.mkdir(parents=True)
    stage.mkdir()
    g = gen.Generator(seed, str(inbox), str(stage), str(root / "log.jsonl"))
    g.publish([("warm", 1), ("steady", 2)], 50, 1000.0)
    g.publish([("burst", 4)], 200, None)
    g.close()
    return {p.name: p.read_bytes() for p in sorted(inbox.glob("*/*.json"))}


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = _publish_all(7, tmp_path / "a")
    b = _publish_all(7, tmp_path / "b")
    c = _publish_all(8, tmp_path / "c")
    assert len(a) == 7 and a == b
    assert a.keys() == c.keys() and a != c
    assert not list((tmp_path / "a" / "stage").iterdir()), "every staged publish was renamed"
    log = [json.loads(line) for line in (tmp_path / "a" / "log.jsonl").read_text().splitlines()]
    assert [(r["idx"], r["phase"]) for r in log] == [(0, "warm"), (1, "steady"), (2, "steady")] + [(i, "burst") for i in range(3, 7)]
    flow_dues = [r["due"] for r in log[:3]]
    assert flow_dues[2] - flow_dues[0] == pytest.approx(0.002, abs=1e-6), "a flow keeps one schedule across its phases"


def test_generated_records_have_the_promised_shape():
    recs = [r for i in range(40) for r in gen.file_records(3, i, 500)]
    tombstones = sum(r["value"] is None for r in recs) / len(recs)
    assert 0.03 < tombstones < 0.07
    ts = [r["ts"] for r in recs]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    hot = sum(r["user_id"] < gen.KEY_SPACE // 100 for r in recs) / len(recs)
    assert hot > 0.15  # skewed: 1% of the key space gets a large share
    assert len({r["user_id"] for r in recs}) > 0.8 * len(recs)  # and the view keeps growing


# -- stream arithmetic on a hand-built progress and source log ------------------


def _log_text(entries):
    return "v1\n" + "\n".join(json.dumps({"path": f"file:///in/{p}/{n}", "timestamp": 0, "batchId": b}) for p, n, b in entries)


def test_latency_and_burst_arithmetic():
    texts = [
        _log_text([("p0", "f0", 0), ("p1", "f1", 0)]),
        _log_text([("p2", "f2", 1)]),
        _log_text([("p3", "f3", 2), ("p3", "f4", 2)]),
    ]
    fb = stream.parse_source_log(texts)
    assert fb == {"f0": 0, "f1": 0, "f2": 1, "f3": 2, "f4": 2}
    progress = [
        {"batchId": 0, "timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 400,
         "durationMs": {"triggerExecution": 2000, "addBatch": 1500, "latestOffset": 100}},
        {"batchId": 1, "timestamp": "2026-01-01T00:00:03.000Z", "numInputRows": 200,
         "durationMs": {"triggerExecution": 1000}},
        {"batchId": 2, "timestamp": "2026-01-01T00:00:10.000Z", "numInputRows": 1200,
         "durationMs": {"triggerExecution": 3000}},
    ]
    ep = stream.epochs_from_progress(progress)
    t0 = stream.progress_ms("2026-01-01T00:00:00.000Z") / 1000
    assert ep[0]["end_ms"] == (t0 + 3) * 1000 and ep[2]["end_ms"] == (t0 + 13) * 1000
    pubs = [
        {"name": "f0", "phase": "steady", "rows": 100, "due": t0 + 0.5, "published": t0 + 0.5},
        {"name": "f1", "phase": "steady", "rows": 100, "due": t0 + 0.9, "published": t0 + 1.0},
        {"name": "f2", "phase": "steady", "rows": 100, "due": t0 + 2.5, "published": t0 + 2.5},
        {"name": "f3", "phase": "burst", "rows": 300, "due": t0 + 9.0, "published": t0 + 9.1},
        {"name": "f4", "phase": "burst", "rows": 300, "due": t0 + 9.0, "published": t0 + 9.1},
    ]
    steady = [p for p in pubs if p["phase"] == "steady"]
    assert stream.file_latencies_ms(steady, fb, ep) == pytest.approx([2500, 2100, 1500])
    burst = [p for p in pubs if p["phase"] == "burst"]
    assert stream.drain_s(burst, fb, ep) == pytest.approx(4.0)  # due at 9 s, committed at 13 s
    # f0 and f1 wait together until 3 s; f2 is published before that
    assert stream.backlog_max(pubs, fb, ep) == 3
    kept = {"f0": 100, "f1": 100, "f2": 100, "f3": 300, "f4": 300}
    assert stream.reads_per_row(pubs, fb, ep, kept) == pytest.approx(2.0)
    # a file that never committed counts as the commit timeout
    lost = [{"name": "f9", "phase": "burst", "rows": 1, "due": t0, "published": t0}]
    assert stream.file_latencies_ms(lost, fb, ep) == [stream.COMMIT_TIMEOUT_S * 1000]
    assert stream.drain_s(burst + lost, fb, ep) == stream.COMMIT_TIMEOUT_S
    assert stream.slope([1, 2, 3], [10, 12, 14]) == pytest.approx(2.0)


def test_stream_phases():
    assert stream.commands(12, 12, 2) == [
        ("flow", "flow 1000 4.0 warm 48 steady 48"),
        ("burst", "burst 24 1000"),
        ("burst", "burst 24 1000"),
    ]
    assert stream.commands(3, 0, 1) == [("flow", "flow 1000 4.0 warm 12"), ("burst", "burst 24 1000")]


def test_replay_applies_compaction_semantics(monkeypatch):
    files = {
        0: [{"user_id": 1, "event_type": "click", "ts": 1, "value": 5.0},
            {"user_id": 2, "event_type": "view", "ts": 2, "value": None},
            {"user_id": 3, "event_type": "heartbeat", "ts": 3, "value": 1.0}],
        1: [{"user_id": 1, "event_type": "view", "ts": 4, "value": None},
            {"user_id": 2, "event_type": "click", "ts": 5, "value": 7.25}],
    }
    monkeypatch.setattr(gen, "file_records", lambda seed, idx, rows: files[idx])
    pubs = [{"idx": i, "name": f"f{i}", "rows": 3} for i in files]
    r = stream.replay(0, pubs, {"f0": 0, "f1": 1})
    assert r.view == {(2, "click", 5, 7.25, 725)}  # key 1 deleted, heartbeat dropped
    assert r.kept == {"f0": 2, "f1": 2}
    assert r.store_rows == {0: 2, 1: 2}  # the tombstoned key stays a store row


# -- fingerprints and spans ---------------------------------------------------


def test_fingerprint_is_order_insensitive_and_rounds_floats():
    rows = [(1, 0.1 + 0.2, "a"), (2, 1.5, None)]
    fp = batch.fingerprint(["k", "x", "s"], rows)
    assert fp == batch.fingerprint(["k", "x", "s"], rows[::-1])
    assert fp == batch.fingerprint(["k", "x", "s"], [(1, 0.3, "a"), (2, 1.5, None)])
    assert fp != batch.fingerprint(["k", "x", "s"], [(1, 0.31, "a"), (2, 1.5, None)])
    assert fp["rows"] == 2


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer") as outer:
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    inner = tr.children(outer.span_id)[0]
    assert tr.self_time(inner) == pytest.approx(inner.end - inner.start)
    assert tr.self_time(outer) == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    off = Tracer(False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


# -- metric catalog -----------------------------------------------------------


def test_metric_names_and_counts():
    names = list(M.END_TO_END) + list(M.PER_LAYER)
    assert len(M.END_TO_END) <= 16 and len(M.PER_LAYER) <= 128
    assert len(set(names)) == len(names)
    for n in names:
        assert M.NAME_RE.match(n), n
    assert "setup_s" in M.END_TO_END


def test_benchmark_json_matches_the_catalog():
    path = BENCH.parent / "BENCHMARK.json"
    if not path.exists():
        pytest.skip("no BENCHMARK.json next to the benchmark")
    spec = json.loads(path.read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {n: u for n, (u, _) in M.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: u for n, (u, _) in M.PER_LAYER.items()}
    assert {w["name"] for w in spec["workloads"]} <= {"batch_relational", "batch_llm", "stream_ingest"}


def test_list_metrics_prints_every_metric_with_its_unit():
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--list-metrics"], capture_output=True, text=True, check=True
    ).stdout
    lines = {line.split()[1]: line.split()[2] for line in out.splitlines()}
    assert lines == {n: u for n, (u, _) in {**M.END_TO_END, **M.PER_LAYER}.items()}


# -- task time from the status store ------------------------------------------


@pytest.fixture(scope="module")
def spark():
    import common

    common.import_engine()
    run_dir = common.prepare_run_dir("selftest")
    s, _ = common.start_session(4, time.perf_counter())
    yield s
    s.stop()
    shutil.rmtree(run_dir, ignore_errors=True)


def test_task_time_counts_task_work_not_wall(spark):
    import common

    counters = common.SparkCounters(spark)
    sc = spark.sparkContext
    sc.setJobGroup("selftest.sleep", "selftest.sleep")
    t0 = time.perf_counter()
    sc.parallelize(range(8), 8).map(lambda x: time.sleep(0.5) or x).collect()
    wall = time.perf_counter() - t0
    busy = counters.group_totals("selftest.sleep")
    assert busy.jobs == 1 and busy.tasks == 8
    assert busy.task_s > wall  # four cores sleep in parallel: task time exceeds wall
    assert busy.task_s >= 8 * 0.5

    sc.setJobGroup("selftest.idle", "selftest.idle")
    time.sleep(1.0)
    idle = counters.group_totals("selftest.idle")
    assert idle.jobs == 0 and idle.task_s == pytest.approx(0.0, abs=0.05)
    # a stage is counted once, by the first window that saw it complete
    assert counters.group_totals("selftest.sleep").stages == 0
