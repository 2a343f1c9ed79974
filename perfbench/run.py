"""go_tfdata_spark benchmark: one closed-loop client, one driver process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run generates its
inputs from the seed, starts Spark at local[nproc] through the engine's
session factory, warms every plan shape it times, then repeats the
workload's cycle until `--seconds` have been measured, at least three
times, and reports medians over the cycles. Every output is
checked against a DuckDB oracle. The last line of stdout is the result:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
The lines before it are a readable report and one JSON record with every
sample, the noise record and (traced) the spans.

Workloads (see BENCHMARK.json for why each exists):
  backfill        dense change log replayed from empty (fused arrow_fold path)
  upsert_stream   10k-event epochs applied one at a time (broadcast COW merge),
                  each followed by a point read and a change-feed read; the
                  traced run also streams into a merge-on-read table and
                  runs the four dedup/similarity contract callables over a
                  generated corpus, for the dedup and similarity layers

`--params '<json>'` overrides workload sizes (the self-test runs at smoke
size with it); `--corrupt <check>` drops one row of that check's engine
output before it is compared, to prove the check can fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import common  # noqa: E402
from layers import E2E, REPORT_METRICS, PER_LAYER, TARGETS  # noqa: E402

WORKLOADS = ["backfill", "upsert_stream"]
MIN_CYCLES = 3


class Run:
    """State of one benchmark run, passed to the workload function."""

    def __init__(self, args, work: str, cores: int):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.corrupt = args.corrupt
        self.overrides = json.loads(args.params) if args.params else {}
        self.work = work
        self.cores = cores
        self.max_cycles = max(4, self.seconds)
        self.spark = None
        self.tracer = None
        self.params: dict = {}
        self.setup: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self._accum: dict[str, list] = {}
        self.check_failures: dict[str, int] = {}
        self.checks = 0
        self.attempted = 0
        self.failed = 0
        self._op_bad: bool | None = None
        self._timed = 0.0
        self.e2e: dict | None = None
        self.detail: dict = {}
        self._clock = time.time() - time.perf_counter()

    # -- paths and clocks
    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def wall_of(self, perf: float) -> float:
        return perf + self._clock

    # -- set-up and measurement
    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def measuring(self, done: int) -> bool:
        """Whether to run another cycle: until the timed parts of the
        cycles add up to `--seconds`, and at least three cycles, so that
        every median rests on three samples or more and leaves out the
        first timed cycle, which still runs slower than the ones after it."""
        return done < MIN_CYCLES or (self._timed < self.seconds and done < self.max_cycles)

    def timed(self, seconds: float) -> None:
        self._timed += seconds

    @contextmanager
    def op(self, name: str):
        class _Op:
            ok = False

        o = _Op()
        self.attempted += 1
        self._op_bad = False
        try:
            yield o
        finally:
            if not o.ok or self._op_bad:
                self.failed += 1
            self._op_bad = None

    def check(self, name: str, ok: bool) -> None:
        self.checks += 1
        if ok:
            return
        self.check_failures[name] = self.check_failures.get(name, 0) + 1
        if self._op_bad is None:  # a check outside any timed operation
            self.attempted += 1
            self.failed += 1
        else:
            self._op_bad = True

    def tamper(self, name: str, out):
        """The engine output of check `name`, with one row dropped when the
        run was asked to corrupt it."""
        if self.corrupt != name:
            return out
        if hasattr(out, "num_rows"):
            return out.slice(1)
        return list(out)[1:]

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(round(value, 6))

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def accum(self, name: str, value: float, unit: str, mean: bool = True) -> None:
        self._accum.setdefault(name, [[], unit, mean])[0].append(float(value))

    def pop_accum(self, name: str) -> list[float]:
        """The values `accum` collected under `name`, taken out of the
        layer figures so the caller can report them its own way."""
        return self._accum.pop(name, [[]])[0]

    def result(self, throughput: float, cycles: list[float], detail: dict) -> None:
        self.e2e = {"throughput_per_s": throughput, "cycle_p50_s": common.median(cycles)}
        self.detail.update(detail)
        self.samples["cycle_s"] = [round(c, 6) for c in cycles]

    def session(self):
        """The SparkSession, started (and timed as set-up) on first use, so
        a workload can start work that needs no Spark before it."""
        if self.spark is None:
            t0 = time.perf_counter()
            self.spark = common.start_spark(ROOT, self.work, self.cores)
            self.setup["session"] = time.perf_counter() - t0
            self.tracer.rebind(self.spark.sparkContext)
        return self.spark

    def restart(self, cores: int) -> None:
        self.spark = common.restart_spark(self.spark, ROOT, self.work, cores)
        self.tracer.rebind(self.spark.sparkContext)

    def finish_layers(self) -> None:
        for name, (vals, unit, mean) in self._accum.items():
            self.layers[name] = ((sum(vals) / len(vals)) if mean else sum(vals), unit)


def _workload_fn(name: str):
    import cdc

    return {
        "backfill": cdc.backfill,
        "upsert_stream": cdc.upsert,
    }[name]


def _report(run: Run, noise: dict, peak_mb: float, setup_s: float) -> None:
    frac = run.failed / max(1, run.attempted)
    common_vals = {"setup_s": (setup_s, "s"), "peak_rss_mb": (peak_mb, "MB"),
                   "ops_failed_frac": (frac, "frac")}
    print(f"== perfbench {run.workload} seed={run.seed} trace={int(run.trace)} "
          f"local[{run.cores}] one closed-loop client")
    for name, unit in REPORT_METRICS:
        v = common_vals.get(name) or run.detail.get(name)
        shown = f"{v[0]:.6g} {v[1]}" if v else f"n/a ({unit}; not measured by this workload)"
        print(f"  {name:<22} {shown}")
    record = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": int(run.trace), "cores": run.cores, "params": run.params,
        "setup_phases_s": {k: round(v, 4) for k, v in run.setup.items()},
        "samples": run.samples, "noise": noise, "checks": run.checks,
        "check_failures": run.check_failures,
        "detail": {k: [v[0], v[1]] for k, v in run.detail.items()},
    }
    if run.trace:
        record["layer_moves"] = {n: t[3] for n, t in TARGETS.items()}
        record["spans"] = run.tracer.dump()
    print("perfbench-record " + json.dumps(record, default=str))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--params", default=None)
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "go_tfdata_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    deadline = time.time() + 30
    while common.other_spark_jvms():
        if time.time() > deadline:
            print("perfbench: other Spark JVMs are running; refusing to measure",
                  file=sys.stderr)
            return 3
        time.sleep(1)

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    noise = common.NoiseRecord()
    run = Run(args, work, cores)
    error = None
    try:
        with common.MemSampler() as mem:
            run.tracer = common.Tracer(None, run.trace)
            try:
                _workload_fn(args.workload)(run)
            except Exception:  # noqa: BLE001 - reported as a failed operation
                error = traceback.format_exc()
                run.attempted += 1
                run.failed += 1
            finally:
                common.stop_spark(run.spark)
    finally:
        common.wait_descendants_gone()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if error:
        print(error, file=sys.stderr)
    run.finish_layers()
    setup_s = sum(run.setup.values())
    _report(run, {**noise.finish(), "mem_at_peak": mem.at_peak}, mem.peak_mb, setup_s)
    correct = run.failed == 0 and error is None and run.e2e is not None
    if args.trace:
        metrics = {}
        run.layer("spark.peak_rss_mb", mem.peak_mb, "MB")
        if run.e2e:
            run.layer("traced.throughput_per_s", run.e2e["throughput_per_s"], "1/s")
            run.layer("traced.cycle_p50_s", run.e2e["cycle_p50_s"], "s")
        for name, unit in PER_LAYER:
            v = run.layers.get(name, (0.0, unit))[0]
            metrics[name] = {"value": v, "unit": unit}
    else:
        metrics = {}
        if run.e2e:
            vals = {"setup_s": setup_s, **run.e2e}
            metrics = {n: {"value": vals[n], "unit": u} for n, u in E2E}
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
