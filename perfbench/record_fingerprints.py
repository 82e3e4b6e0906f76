"""Record the stored result fingerprints of every batch query the
benchmark runs (``fingerprints.json``).

Record only from a tree whose results are known good: first check the
same queries against the DuckDB oracle on the benchmark's tables, e.g.

    python tools/check_parity.py perfbench/data/sf0.01 <queries...>
    python3 perfbench/record_fingerprints.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import batch
import common


def main() -> int:
    common.import_engine()
    run_dir = common.prepare_run_dir("record")
    from local_stream_stack_spark.queries import QUERIES

    spark, _ = common.start_session(len(os.sched_getaffinity(0)), 0.0)
    out = {}
    for mix, _tables in batch.MIXES.values():
        for q in mix:
            out[q] = batch.result_fingerprint(QUERIES[q].fn(spark, str(common.DATA_DIR)))
            print(q, out[q], file=sys.stderr)
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(batch.FINGERPRINTS, "w") as f:
        json.dump(dict(sorted(out.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
