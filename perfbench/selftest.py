"""Self-test of the benchmark at smoke size.

    python3 perfbench/selftest.py

Checks that
- every workload emits every end-to-end metric (trace 0) and every
  per-layer metric (trace 1) by name with its unit, and passes its oracles;
- a deliberately corrupted output trips its oracle check: the run reports
  `correct: false`, a failed operation and a non-zero ops_failed_frac;
- the backfill epochs sit above the engine's broadcast gate and the
  upsert_stream epochs below it, so each workload keeps exercising the
  merge path it is named for.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import cdc  # noqa: E402
from layers import E2E, PER_LAYER  # noqa: E402

SMOKE = {
    "backfill": {"epoch_sizes": [20_000, 20_000], "n_convs": 2_000, "merge_strategy": "aligned"},
    "upsert_stream": {"preload_events": 5_000, "epoch_events": 2_000, "n_convs": 500,
                      "mor_epochs": 5, "mor_compact_deltas": 12, "n_docs": 300, "n_vecs": 400},
}
# (workload, trace, check): the corpus segment runs in the traced upsert_stream run
CORRUPT = [("backfill", 0, "final_state"), ("upsert_stream", 0, "feed_read"),
           ("upsert_stream", 1, "shingle_jaccard")]


def bench(workload: str, trace: int, *extra: str):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--params", json.dumps(SMOKE[workload]), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload}: no output\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1]), lines


def main() -> int:
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect([(m["name"], m["unit"]) for m in spec["end_to_end"]] == E2E
           and [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
           and [w["name"] for w in spec["workloads"]] == list(SMOKE),
           "BENCHMARK.json lists the metrics and workloads the runs emit")

    from go_tfdata_spark.operators.merge import _resolve_strategy

    expect(_resolve_strategy("auto", cdc.GATE_EVENTS) == "broadcast"
           and _resolve_strategy("auto", cdc.GATE_EVENTS + 1) == "aligned",
           "the benchmark's gate constant matches the engine's")
    expect(all(_resolve_strategy("auto", n) == "aligned" for n in cdc.BACKFILL["epoch_sizes"]),
           "backfill epochs are above the broadcast gate")
    expect(_resolve_strategy("auto", cdc.UPSERT["epoch_events"]) == "broadcast",
           "upsert_stream epochs are below the broadcast gate")

    for w in SMOKE:
        for trace, names in ((0, E2E), (1, PER_LAYER)):
            rc, res, _ = bench(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(rc == 0 and res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: correct")
            expect(got == dict(names), f"{w} trace={trace}: every metric with its unit")
    for w, trace, check in CORRUPT:
        rc, res, lines = bench(w, trace, "--corrupt", check)
        frac = [ln for ln in lines if ln.strip().startswith("ops_failed_frac")]
        expect(rc != 0 and not res["correct"] and res["failed"] >= 1
               and frac and float(frac[0].split()[1]) > 0,
               f"{w} trace={trace}: corrupted {check} output trips its oracle")
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
