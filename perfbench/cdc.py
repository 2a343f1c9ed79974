"""CDC workloads: `backfill` and `upsert_stream`; the traced `upsert_stream`
run also streams into a merge-on-read table and runs the corpus segment
(`corpus.py`).

The engine is driven only through its public functions: `replay`,
`apply_changes`, `read_table`, `table_changes`, `LakeTable.compact`, and
for the traced layer ladder `precompute_epoch_stats`, `physical_rows` and
`aligned_lww_fold`. Every timed call forces its whole output, through a
noop sink or a full collect.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from common import JobMetrics, median, noop
from layers import LADDER
from oracle import USER_COLS, CdcOracle, same_rows

# The engine's broadcast gate: a batch goes through the broadcast COW merge
# while events * 96 B <= 32 MiB (`operators/merge._resolve_strategy`).
GATE_EVENTS = (32 << 20) // 96

BACKFILL = dict(epoch_sizes=[380_000, 380_000], n_convs=24_000, skew=1.0,
                delete_frac=0.05, late_frac=0.10, text_chars=256, num_buckets=4,
                merge_strategy="auto", ladder_events_per_epoch=60_000)
UPSERT = dict(preload_events=20_000, epoch_events=10_000, n_convs=20_000, skew=1.0,
              delete_frac=0.05, late_frac=0.10, text_chars=256, num_buckets=4,
              mor_compact_deltas=12, mor_epochs=5)
PHYS_ORDER = ["ts", "_lsn", "_src_part"]


def _engine():
    from go_tfdata_spark.model import TRANSCRIPTS_SCHEMA
    from go_tfdata_spark.operators import merge
    from go_tfdata_spark.sources.changes import read_change_log

    return TRANSCRIPTS_SCHEMA, merge, read_change_log


def _state_ok(run, table, oracle: CdcOracle, pos: int) -> bool:
    from go_tfdata_spark.operators.merge import read_table

    got = run.tamper("final_state", read_table(table).toArrow())
    return same_rows(got, oracle.state(pos))


def _table_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.path, f["path"]))
               for f in table.snapshot().files)


# ------------------------------------------------------------------ backfill


def backfill(run) -> None:
    schema, merge, read_change_log = _engine()
    p = dict(BACKFILL, **run.overrides)
    with run.setup_phase("generate"):
        log = gen.change_log(run.seed, p["epoch_sizes"], p["n_convs"], skew=p["skew"],
                             delete_frac=p["delete_frac"], late_frac=p["late_frac"],
                             text_chars=p["text_chars"])
        files = gen.write_epochs(log, run.path("inputs", "backfill"))
        n_events = sum(t.num_rows for t in log)
        del log
    run.params.update(p, events=n_events, epochs=len(files),
                      epoch_events_over_gate=[round(s / GATE_EVENTS, 3) for s in p["epoch_sizes"]])
    oracle = CdcOracle(files)
    last = len(files) - 1
    want_counts = [oracle.epoch_counts(e) for e in range(len(files))]
    spark = run.session()

    def cycle(i: int):
        """Replay the whole log into an empty table, then read it all."""
        tdir = run.path("tables", f"bf{i}")
        table = merge.create_transcripts_table(spark, tdir, schema, num_buckets=p["num_buckets"])
        changes = read_change_log(spark, run.path("inputs", "backfill"))
        with run.op("replay") as op:
            t0 = time.perf_counter()
            with run.tracer.span("merge.replay") as sp:
                results = merge.replay(table, changes, "backfill",
                                       merge_strategy=p["merge_strategy"])
            t1 = time.perf_counter()
            with run.tracer.span("table.full_read"):
                noop(merge.read_table(table))
            t2 = time.perf_counter()
            op.ok = True
        run.check("lineage", all(
            sum(ln["offsets_applied"] for ln in r.lineage) == want_counts[r.epoch][0]
            and sum(ln["rows_upserted"] + ln["rows_deleted"] for ln in r.lineage)
            == want_counts[r.epoch][1]
            for r in results) and len(results) == len(files))
        run.check("fused_path", table.snapshot().summary.get("merge_strategy") == "aligned-fused")
        return tdir, table, changes, sp, t1 - t0, t2 - t1

    # The warmup is the first whole cycle, untimed and checked in full.
    # Later cycles are checked against its digest.
    with run.setup_phase("warmup"):
        _, table, changes, _, _, _ = cycle(0)
    run.check("final_state", _state_ok(run, table, oracle, last))
    digest = _digest(merge.read_table(table))
    v = table.current_version()
    r = merge.apply_changes(table, changes.filter(f"epoch = {last}"), "backfill", last)
    run.check("reapply_noop", r.skipped and table.current_version() == v)
    bpr = _table_bytes(table) / max(1, oracle.live_rows(last))
    replay_s, read_s = [], []
    while run.measuring(len(replay_s)):
        tdir, table, _, sp, rep, rd = cycle(len(replay_s) + 1)
        run.timed(rep + rd)
        replay_s.append(rep)
        read_s.append(rd)
        run.record("replay_s", rep)
        run.record("full_read_s", rd)
        if run.trace:
            _backfill_trace_commit(run, sp, table, n_events)
        run.check("final_state_digest", _digest(merge.read_table(table)) == digest)
        shutil.rmtree(tdir, ignore_errors=True)
    oracle.close()
    run.result(
        throughput=n_events / median(replay_s),
        cycles=[a + b for a, b in zip(replay_s, read_s)],
        detail={
            "events_per_s": (n_events / median(replay_s), "1/s"),
            "replay_p50_s": (median(replay_s), "s"),
            "full_read_s": (median(read_s), "s"),
            "bytes_per_row": (bpr, "B"),
        },
    )
    if run.trace:
        ladder_all(run, files, p["num_buckets"], p["ladder_events_per_epoch"])


def _digest(df) -> int:
    """Order-insensitive digest of every user column."""
    from pyspark.sql import functions as F

    return df.select(
        F.sum(F.xxhash64(*[F.col(c) for c in USER_COLS]).cast("decimal(38,0)"))
    ).first()[0]


def _backfill_trace_commit(run, sp, table, n_events) -> None:
    jm = JobMetrics(run.spark.sparkContext, sp["group"], with_tasks=True)
    run.layer("arrow_fold.task_skew", jm.max_task_skew(), "ratio")
    run.layer("arrow_fold.shuffle_bytes", jm.shuffle_write_bytes, "B")
    run.layer("spark.task_retries", jm.task_retries, "count")
    run.layer("spark.spill_bytes", jm.spill_bytes, "B")
    run.layer("table.bytes_written_per_event", _table_bytes(table) / n_events, "B")
    phys = table.read(resolve=False).count()
    run.layer("arrow_fold.winners_per_row", phys / n_events, "ratio")


def _ladder(run, log_dir: str, nb: int, tag: str) -> dict[str, float]:
    """Cumulative noop-sink ladder over the replay's layers; each step adds
    one layer to the plan of the step before, so a layer's time is the
    difference of two steps. The stats pass is a separate job of replay and
    is timed alone. `arrow_fold.fold_s` folds the whole log in one pass and
    returns the winners to the JVM; `arrow_fold.write_s` is write-in-fold
    minus that, so it is negative when the parquet write in the worker
    costs less than the row return it replaces."""
    from go_tfdata_spark.lake.table import _WRITE_SPLITS_PER_BUCKET as splits
    from go_tfdata_spark.lake.table import bucket_expr, split_expr
    from go_tfdata_spark.operators.arrow_fold import aligned_lww_fold

    schema, merge, read_change_log = _engine()
    spark = run.spark
    changes = read_change_log(spark, log_dir)
    table = merge.create_transcripts_table(spark, run.path("tables", f"ladder-{tag}"),
                                           schema, num_buckets=nb)
    snap = table.snapshot()
    split_by = snap.split_by or snap.bucket_by
    phys = merge.physical_rows(changes)
    pid = (bucket_expr(snap.bucket_by, nb).cast("long") * splits
           + split_expr(split_by, splits).cast("long"))
    routed = phys.repartition(nb * splits, pid)

    def drain(batches):
        for _ in batches:
            pass
        yield from ()

    def fold(write_dir=None):
        return aligned_lww_fold(phys, key_cols=["conv_id", "turn_idx"], order_cols=PHYS_ORDER,
                                bucket_by=snap.bucket_by, num_buckets=nb, splits=splits,
                                split_by=split_by, write_dir=write_dir)

    wdir = run.path("tables", f"ladder-write-{tag}")
    os.makedirs(wdir, exist_ok=True)
    steps = [
        ("scan", lambda: noop(changes)),
        ("stats", lambda: merge.precompute_epoch_stats(table, changes)),
        ("project", lambda: noop(phys)),
        ("shuffle", lambda: noop(routed)),
        ("transpose", lambda: noop(routed.mapInArrow(drain, "n long"))),
        ("fold", lambda: noop(fold())),
        ("write", lambda: fold(wdir).collect()),
    ]
    t: dict[str, float] = {}
    for name, fn in steps:
        with run.tracer.span(f"ladder.{name}", cores=tag):
            t0 = time.perf_counter()
            fn()
            t[name] = time.perf_counter() - t0
    rt = merge.create_transcripts_table(spark, run.path("tables", f"ladder-replay-{tag}"),
                                        schema, num_buckets=nb)
    with run.tracer.span("ladder.replay", cores=tag) as sp:
        merge.replay(rt, changes, "ladder", merge_strategy="aligned")
    jm = JobMetrics(spark.sparkContext, sp["group"])
    return {
        "changes.scan_s": t["scan"],
        "merge.stats_s": t["stats"],
        "merge.project_s": t["project"] - t["scan"],
        "arrow_fold.shuffle_s": t["shuffle"] - t["project"],
        "arrow_fold.transpose_s": t["transpose"] - t["shuffle"],
        "arrow_fold.fold_s": t["fold"] - t["transpose"],
        "arrow_fold.write_s": t["write"] - t["fold"],
        "table.commit_s": (sp["end"] - sp["start"]) - jm.job_s,
    }


def ladder_all(run, files, nb, ladder_events) -> None:
    """The ladder at local[nproc] and local[1], on the first
    `ladder_events` events of each epoch, sized so that both legs fit in
    one run; the replay step is forced onto the fused path as at full size."""
    import pyarrow.parquet as pq

    log_dir = run.path("inputs", "ladder")
    os.makedirs(log_dir, exist_ok=True)
    for f in files:
        pq.write_table(pq.read_table(f).slice(0, ladder_events),
                       os.path.join(log_dir, os.path.basename(f)), row_group_size=32_768)
    hi = _ladder(run, log_dir, nb, str(run.cores))
    run.restart(1)
    lo = _ladder(run, log_dir, nb, "1")
    for k in LADDER:
        run.layer(f"{k}.local1", lo[k], "s")
        run.layer(f"{k}.localN", hi[k], "s")
        run.layer(f"{k}.scaling_eff", (lo[k] / hi[k]) / run.cores if hi[k] else 0.0, "ratio")


# ------------------------------------------------------------------ upserts


class _Stream:
    """One table fed stream epochs one at a time with `apply_changes`, the
    way `start_ingest`'s foreachBatch does, each commit followed by a point
    read of the hot conversation and a change-feed read of that epoch."""

    def __init__(self, run, files, oracle, hot, name, mor, p):
        schema, self.merge, self.read_change_log = _engine()
        self.run, self.files, self.oracle, self.hot, self.mor = run, files, oracle, hot, mor
        self.kwargs = ({"merge_strategy": "mor", "auto_compact_deltas": p["mor_compact_deltas"]}
                       if mor else {})
        self.table = self.merge.create_transcripts_table(
            run.spark, run.path("tables", name), schema, num_buckets=p["num_buckets"])

    def batch(self, pos):
        return self.read_change_log(self.run.spark, self.files[pos])

    def preload(self):
        self.merge.replay(self.table, self.batch(0), "preload")

    def cycle(self, pos, trace: bool):
        from pyspark.sql import functions as F

        run, merge, table = self.run, self.merge, self.table
        e = pos - 1
        df = self.batch(pos)
        v0 = table.current_version()
        t0 = time.perf_counter()
        with run.tracer.span("merge.apply_changes", epoch=e) as sp_c:
            r = merge.apply_changes(table, df, "stream", e, **self.kwargs)
        t1 = time.perf_counter()
        with run.tracer.span("table.point_read"):
            pdf = merge.read_table(table).filter(F.col("conv_id") == self.hot)
            point = pdf.toArrow()
        t2 = time.perf_counter()
        with run.tracer.span("table.feed_read"):
            fdf = merge.table_changes(table, "stream", e)
            feed = fdf.toArrow()
        t3 = time.perf_counter()
        v1 = table.current_version()
        n_ev, n_keys = self.oracle.epoch_counts(pos)
        run.check("lineage", sum(ln["offsets_applied"] for ln in r.lineage) == n_ev
                  and sum(ln["rows_upserted"] + ln["rows_deleted"] for ln in r.lineage) == n_keys)
        run.check("point_read", same_rows(run.tamper("point_read", point),
                                          self.oracle.state(pos, self.hot)))
        run.check("feed_read", same_rows(run.tamper("feed_read", feed), self.oracle.feed(pos)))
        if not self.mor:
            run.check("broadcast_path",
                      table.snapshot(r.version).summary.get("merge_strategy") == "broadcast")
        again = merge.apply_changes(table, df, "stream", e, **self.kwargs)
        run.check("reapply_noop", again.skipped and table.current_version() == v1)
        if trace:
            _commit_trace(run, table, sp_c, pdf, fdf, n_ev, v0, v1, self.mor)
        return n_ev, (t1 - t0, t2 - t1, t3 - t2)


def upsert(run) -> None:
    _, merge, _ = _engine()
    p = {k: run.overrides.get(k, v) for k, v in UPSERT.items()}
    n_stream = max(run.max_cycles + 1, p["mor_epochs"])
    with run.setup_phase("generate"):
        sizes = [p["preload_events"]] + [p["epoch_events"]] * n_stream
        log = gen.change_log(run.seed, sizes, p["n_convs"], skew=p["skew"],
                             delete_frac=p["delete_frac"], late_frac=p["late_frac"],
                             text_chars=p["text_chars"], late_span=int(1.5 * p["epoch_events"]))
        files = gen.write_epochs(log, run.path("inputs", "upsert"))
        del log
    hot = gen.hot_conv(p["n_convs"])
    run.params.update(p, stream_epoch_events_over_gate=round(p["epoch_events"] / GATE_EVENTS, 4),
                      preload_events_over_gate=round(p["preload_events"] / GATE_EVENTS, 4),
                      hot_conv=hot)
    oracle = CdcOracle(files)
    run.session()
    cow = _Stream(run, files, oracle, hot, "cow", mor=False, p=p)
    with run.setup_phase("preload"):
        cow.preload()
    # The pre-load is itself a broadcast merge, into an empty table; the
    # warmup adds one whole untimed cycle (a broadcast merge into a loaded
    # table, point read, change feed) and a full read.
    with run.setup_phase("warmup"):
        with run.op("commit+reads") as op:
            cow.cycle(1, trace=False)
            op.ok = True
        noop(merge.read_table(cow.table))
    pos = 2
    commit_s, point_s, feed_s, cycles, rates = [], [], [], [], []
    while run.measuring(len(cycles)) and pos < len(files):
        with run.op("commit+reads") as op:
            n_ev, (c, pr, fr) = cow.cycle(pos, trace=run.trace)
            op.ok = True
        run.timed(c + pr + fr)
        commit_s.append(c)
        point_s.append(pr)
        feed_s.append(fr)
        cycles.append(c + pr + fr)
        run.record("commit_s", c)
        run.record("point_read_s", pr)
        run.record("feed_read_s", fr)
        rates.append(n_ev / c)
        pos += 1
    last = pos - 1
    t0 = time.perf_counter()
    with run.tracer.span("table.full_read"):
        noop(merge.read_table(cow.table))
    full = time.perf_counter() - t0
    run.check("final_state", _state_ok(run, cow.table, oracle, last))
    run.result(
        throughput=median(rates),
        cycles=cycles,
        detail={
            "events_per_s": (median(rates), "1/s"),
            "commit_p50_s": (median(commit_s), "s"),
            "commit_samples": (len(commit_s), "count"),
            "point_read_p50_s": (median(point_s), "s"),
            "feed_read_p50_s": (median(feed_s), "s"),
            "full_read_s": (full, "s"),
            "bytes_per_row": (_table_bytes(cow.table) / max(1, oracle.live_rows(last)), "B"),
        },
    )
    if run.trace:
        snap = cow.table.snapshot()
        run.layer("table.files_live", len(snap.files), "count")
        run.layer("table.manifest_bytes", len(snap.to_json()), "B")
        _mor_segment(run, files, oracle, hot, p, merge)
    oracle.close()
    if run.trace:
        from corpus import corpus_segment

        corpus_segment(run)


def _mor_segment(run, files, oracle, hot, p, merge) -> None:
    """Traced run only: the same stream into a merge-on-read table with
    auto-compaction, for the delta, resolve and compaction layers."""
    mor = _Stream(run, files, oracle, hot, "mor", mor=True, p=p)
    mor.preload()
    n = p["mor_epochs"]
    for pos in range(1, n + 1):
        mor.cycle(pos, trace=True)
    snap = mor.table.snapshot()
    run.layer("table.delta_files_live", sum(1 for f in snap.files if f.get("delta")), "count")
    comp_s = run.pop_accum("table.compact_s")
    comp_bytes = run.pop_accum("table.compact_bytes_rewritten")
    run.check("mor_compacted", len(comp_s) >= 1)
    run.layer("table.compactions", len(comp_s), "count")
    run.layer("table.compact_s", median(comp_s) if comp_s else 0.0, "s")
    run.layer("table.compact_bytes_rewritten", median(comp_bytes) if comp_bytes else 0.0, "B")
    if snap.has_deltas:
        t0 = time.perf_counter()
        noop(merge.read_table(mor.table))
        t1 = time.perf_counter()
        noop(mor.table.read(resolve=False))
        run.layer("lww.resolve_s", (t1 - t0) - (time.perf_counter() - t1), "s")
    run.check("mor_final_state", _state_ok(run, mor.table, oracle, n))


def _commit_trace(run, table, sp_c, pdf, fdf, n_ev, v0, v1, mor) -> None:
    """Per-commit layer numbers, averaged over the traced commits; on the
    merge-on-read table, the time and bytes of each compaction."""
    added_files, added_bytes = 0, 0
    by_name: dict[str, int | None] = {}
    for v in range(v0 + 1, v1 + 1):
        m = table.snapshot(v)
        old = {f["path"] for f in table.snapshot(m.parent).files}
        added = [f for f in m.files if f["path"] not in old]
        b = sum(os.path.getsize(os.path.join(table.path, f["path"])) for f in added)
        if m.summary.get("operation") == "compact":
            # the compaction is the last step of the commit
            run.accum("table.compact_s", run.wall_of(sp_c["end"]) - m.timestamp, "s")
            run.accum("table.compact_bytes_rewritten", b, "B")
        else:
            added_files += len(added)
            added_bytes += b
        by_name.update({os.path.basename(f["path"]): f.get("bucket")
                        for f in table.snapshot(m.parent).files + m.files})
    if mor:
        return
    jm = JobMetrics(run.spark.sparkContext, sp_c["group"])
    wall = sp_c["end"] - sp_c["start"]
    run.accum("merge.jobs_per_commit", jm.jobs, "count")
    run.accum("merge.job_s_per_commit", jm.job_s, "s")
    run.accum("merge.driver_s_per_commit", wall - jm.job_s, "s")
    run.accum("spark.task_retries", jm.task_retries, "count", mean=False)
    run.accum("spark.spill_bytes", jm.spill_bytes, "B", mean=False)
    run.accum("table.files_written_per_commit", added_files, "count")
    run.accum("table.bytes_written_per_event", added_bytes / max(1, n_ev), "B")
    run.accum("table.files_scanned_per_point_read", len(pdf.inputFiles()), "count")
    buckets = {by_name.get(os.path.basename(f)) for f in fdf.inputFiles()}
    run.accum("table.buckets_read_per_feed", len(buckets - {None}), "count")
