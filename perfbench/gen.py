"""Open-loop event-file generator for the ``stream_ingest`` workload.

Runs as its own single-threaded process so that its schedule does not
slow down when the engine does. It reads one command per line on stdin
and answers each with one line on stdout:

    flow <rows> <files_per_s> <phase> <n> [<phase> <n> ...]
                      publish the phases' files one after another on one
                      fixed schedule, with no pause between phases
    burst <n> <rows>  publish n files at once
    quit              exit

Every publish is atomic: the files of one publish are written into a
staging directory outside the watched one, and that directory is then
renamed into it, so the file source sees all of them or none. The
source path is a glob over those directories. Each published file gets
one JSON line in the log file: index, phase, row count, due time and
publish time (epoch seconds).

Every record carries a ``ts`` that is unique and increasing across the
run (file index, then row), which orders the records of a key.

File contents depend only on (seed, file index, rows in the file), so
the benchmark rebuilds the exact same records for its reference view.

    python3 perfbench/gen.py --seed 7 --inbox DIR --stage DIR --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

KEY_SPACE = 2_000_000
SKEW = 3.0  # user_id = KEY_SPACE * u**SKEW: low ids are hot, the tail keeps the view growing
TOMBSTONE_SHARE = 0.05
EVENT_TYPES = ("click", "view", "purchase", "heartbeat")
EVENT_WEIGHTS = (0.45, 0.35, 0.10, 0.10)
TS_BASE_US = 1_700_000_000_000_000
MAX_ROWS = 100_000  # rows per file at most, so ts stays unique


def file_name(idx: int) -> str:
    return f"events-{idx:06d}.json"


def file_records(seed: int, idx: int, rows: int) -> list[dict]:
    """The records of file ``idx``: a pure function of its arguments."""
    if not 0 < rows <= MAX_ROWS:
        raise ValueError(f"rows per file must be in 1..{MAX_ROWS}")
    rng = random.Random(seed * 1_000_003 + idx)
    out = []
    for r in range(rows):
        user_id = int(KEY_SPACE * rng.random() ** SKEW)
        event_type = rng.choices(EVENT_TYPES, EVENT_WEIGHTS)[0]
        value = None if rng.random() < TOMBSTONE_SHARE else round(rng.uniform(0, 1000), 2)
        out.append(
            {
                "user_id": user_id,
                "event_type": event_type,
                "ts": TS_BASE_US + idx * MAX_ROWS + r,
                "value": value,
            }
        )
    return out


def file_bytes(seed: int, idx: int, rows: int) -> bytes:
    lines = (json.dumps(rec, separators=(",", ":")) for rec in file_records(seed, idx, rows))
    return ("\n".join(lines) + "\n").encode()


def drop_dir(idx: int) -> str:
    return f"p{idx:06d}"


class Generator:
    def __init__(self, seed: int, inbox: str, stage: str, log_path: str):
        self.seed = seed
        self.inbox = inbox
        self.stage = stage
        self.next_idx = 0
        self.log = open(log_path, "a")

    def close(self) -> None:
        self.log.close()

    def _stage(self, idxs: list[int], rows: int) -> str:
        """Write the files into a fresh staging directory; return it."""
        d = os.path.join(self.stage, drop_dir(idxs[0]))
        os.mkdir(d)
        for idx in idxs:
            with open(os.path.join(d, file_name(idx)), "wb") as f:
                f.write(file_bytes(self.seed, idx, rows))
        return d

    def publish(self, phases: list[tuple[str, int]], rows: int, files_per_s: float | None) -> float:
        """Publish each phase's files of ``rows`` rows, phase after phase:
        the i-th file overall due at start + i/files_per_s, or all in one
        publish without a rate (one phase only). Returns the largest
        lateness in ms."""
        tagged = [(phase, self.next_idx + i) for i, phase in enumerate(p for p, n in phases for _ in range(n))]
        self.next_idx += len(tagged)
        if not files_per_s and len(phases) != 1:
            raise ValueError("a publish without a rate has one phase")
        # Stage ahead of the schedule, so a publish is one rename.
        groups = [[t] for t in tagged] if files_per_s else [tagged]
        staged = [self._stage([idx for _, idx in g], rows) for g in groups]
        start = time.time()
        late_max = 0.0
        for k, (group, d) in enumerate(zip(groups, staged)):
            due = start + (k / files_per_s if files_per_s else 0.0)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(d, os.path.join(self.inbox, os.path.basename(d)))
            published = time.time()
            late_max = max(late_max, (published - due) * 1000.0)
            for phase, idx in group:
                rec = {"idx": idx, "name": file_name(idx), "phase": phase, "rows": rows, "due": due, "published": published}
                self.log.write(json.dumps(rec) + "\n")
        self.log.flush()
        return late_max


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--inbox", required=True, help="the watched directory")
    ap.add_argument("--stage", required=True, help="staging directory on the same file system")
    ap.add_argument("--log", required=True)
    args = ap.parse_args(argv)
    gen = Generator(args.seed, args.inbox, args.stage, args.log)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd:
                continue
            if cmd[0] == "quit":
                break
            if cmd[0] == "flow":
                rest = cmd[3:]
                phases = [(rest[i], int(rest[i + 1])) for i in range(0, len(rest), 2)]
                late = gen.publish(phases, int(cmd[1]), float(cmd[2]))
            else:
                late = gen.publish([(cmd[0], int(cmd[1]))], int(cmd[2]), None)
            print(f"done {cmd[0]} {late:.3f}", flush=True)
    finally:
        gen.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
