"""Write ``perfbench/expected.json``: the digests of the
``simplify_query`` workload, pinned from the engine as it is when this
is run, at the benchmark's size and at the self-test's.

    python3 perfbench/pin.py

Re-pin only on purpose (the engine's output changed and the change is
meant); the benchmark compares every pass against these pins. The
ingest workload needs no pin: it is checked against a replay.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402


def main() -> int:
    run_dir = os.path.join(run.WORK, f"pin-{os.getpid()}")
    run.configure_env(run_dir)
    from perfbench.selftest import SIZES
    from perfbench.trace import Tracer
    from perfbench.workloads import (
        CORPUS_DOCS,
        EXPECTED_PATH,
        SIMPLIFY_PAGES,
        SimplifyQuery,
        load_expected,
    )

    cores = len(os.sched_getaffinity(0))
    spark = run.start_spark(run_dir, cores)
    try:
        ctx = run.Context(spark, 0, cores, run_dir, Tracer(spark.sparkContext, False))
        expected = load_expected()
        for size in sorted({(SIMPLIFY_PAGES, CORPUS_DOCS), SIZES[SimplifyQuery.name]}):
            wl = SimplifyQuery(ctx, *size)
            wl.setup()
            out = wl.run_pass(os.path.join(run_dir, "snapshots-{}x{}".format(*size)))
            pins = {**wl.digests(out), "queries": out["queries"]}
            expected.setdefault(wl.name, {})["{}x{}".format(*size)] = pins
            print(f"pinned {wl.name} at {size[0]} pages x {size[1]} documents", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
