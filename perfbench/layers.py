"""Metric catalogue: names, units, and for every per-layer metric the
end-to-end metric it should move and the workload it is measured on.

Every workload emits every metric of the set its run reports. A layer a
workload does not exercise reports 0 in the traced run.
"""

from __future__ import annotations

# End-to-end metrics of the result line (--trace 0).
E2E = [
    ("setup_s", "s"),            # session start + input generation + pre-load + warmup
    ("throughput_per_s", "1/s"),  # change events committed per second of apply wall
    ("cycle_p50_s", "s"),        # median wall of one client cycle
]
# Peak memory (the driver JVM's RSS plus its Python workers' PSS) is in the
# report and, for the traced run, a per-layer metric, not an end-to-end one:
# under the engine's 8g default heap its run-to-run spread is set by how far
# G1 grows the heap, 0.15-0.20 of the median on a quiet host.

# The workload-specific end-to-end metrics the report prints by name.
REPORT_METRICS = [
    ("setup_s", "s"), ("events_per_s", "1/s"), ("commit_p50_s", "s"),
    ("point_read_p50_s", "s"), ("feed_read_p50_s", "s"), ("full_read_s", "s"),
    ("bytes_per_row", "B"), ("shingle_docs_per_s", "1/s"), ("minhash_docs_per_s", "1/s"),
    ("simhash_docs_per_s", "1/s"), ("embed_vecs_per_s", "1/s"), ("ops_failed_frac", "frac"),
    ("peak_rss_mb", "MB"),
]

LADDER = ["changes.scan_s", "merge.stats_s", "merge.project_s", "arrow_fold.shuffle_s",
           "arrow_fold.transpose_s", "arrow_fold.fold_s", "arrow_fold.write_s",
           "table.commit_s"]

# name -> (unit, better, workload(s), end-to-end metric it should move)
TARGETS: dict[str, tuple[str, str, str, str]] = {}
for _m in LADDER:
    TARGETS[f"{_m}.localN"] = ("s", "lower", "backfill", "events_per_s")
    TARGETS[f"{_m}.local1"] = ("s", "lower", "backfill", "events_per_s")
    TARGETS[f"{_m}.scaling_eff"] = ("ratio", "higher", "backfill", "events_per_s")
TARGETS.update({
    "arrow_fold.shuffle_bytes": ("B", "lower", "backfill", "events_per_s"),
    "arrow_fold.winners_per_row": ("ratio", "lower", "backfill", "events_per_s"),
    "arrow_fold.task_skew": ("ratio", "lower", "backfill", "events_per_s"),
    "spark.task_retries": ("count", "lower", "backfill, upsert_stream", "events_per_s"),
    "spark.spill_bytes": ("B", "lower", "backfill, upsert_stream", "events_per_s"),
    "table.bytes_written_per_event": ("B", "lower", "backfill, upsert_stream",
                                      "commit_p50_s, bytes_per_row"),
    "merge.jobs_per_commit": ("count", "lower", "upsert_stream", "commit_p50_s"),
    "merge.job_s_per_commit": ("s", "lower", "upsert_stream", "commit_p50_s"),
    "merge.driver_s_per_commit": ("s", "lower", "upsert_stream", "commit_p50_s"),
    "table.files_written_per_commit": ("count", "lower", "upsert_stream", "commit_p50_s, bytes_per_row"),
    "table.manifest_bytes": ("B", "lower", "upsert_stream", "commit_p50_s"),
    "table.files_live": ("count", "lower", "upsert_stream", "point_read_p50_s, full_read_s"),
    "table.files_scanned_per_point_read": ("count", "lower", "upsert_stream",
                                           "point_read_p50_s, full_read_s"),
    "table.buckets_read_per_feed": ("count", "lower", "upsert_stream", "feed_read_p50_s"),
    "table.delta_files_live": ("count", "lower", "upsert_stream (traced MOR table)", "events_per_s, full_read_s"),
    "table.compactions": ("count", "lower", "upsert_stream (traced MOR table)", "events_per_s, full_read_s"),
    # median over the compaction commits: the cost of one compaction
    "table.compact_s": ("s", "lower", "upsert_stream (traced MOR table)", "events_per_s, full_read_s"),
    "table.compact_bytes_rewritten": ("B", "lower", "upsert_stream (traced MOR table)", "events_per_s, full_read_s"),
    "lww.resolve_s": ("s", "lower", "upsert_stream (traced MOR table)", "full_read_s, point_read_p50_s"),
    "dedup.shingle_s": ("s", "lower", "upsert_stream (traced corpus segment)", "shingle_docs_per_s"),
    "dedup.shingle_shuffle_bytes": ("B", "lower", "upsert_stream (traced corpus segment)", "shingle_docs_per_s"),
    "dedup.pair_partition_rows_max": ("count", "lower", "upsert_stream (traced corpus segment)", "shingle_docs_per_s"),
    "dedup.minhash_sig_s": ("s", "lower", "upsert_stream (traced corpus segment)", "minhash_docs_per_s"),
    "dedup.lsh_candidates": ("count", "lower", "upsert_stream (traced corpus segment)", "minhash_docs_per_s"),
    "dedup.lsh_yield": ("ratio", "higher", "upsert_stream (traced corpus segment)", "minhash_docs_per_s"),
    "dedup.cluster_s": ("s", "lower", "upsert_stream (traced corpus segment)", "minhash_docs_per_s"),
    "dedup.simhash_fp_s": ("s", "lower", "upsert_stream (traced corpus segment)", "simhash_docs_per_s"),
    "dedup.simhash_yield": ("ratio", "higher", "upsert_stream (traced corpus segment)", "simhash_docs_per_s"),
    "similarity.cosine_s": ("s", "lower", "upsert_stream (traced corpus segment)", "embed_vecs_per_s"),
    "dedup.embed_yield": ("ratio", "higher", "upsert_stream (traced corpus segment)", "embed_vecs_per_s"),
    "dedup.cache_stage_reruns": ("count", "lower", "upsert_stream (traced corpus segment)", "all four dedup rates"),
})
for _c in ["shingle_jaccard", "dedup_corpus", "simhash_near_dups", "embedding_near_dups_lsh"]:
    TARGETS[f"dedup.count_vs_noop_s.{_c}"] = (
        "s", "lower", "upsert_stream (traced corpus segment)", "none: how much count() under-times the operator")
TARGETS["spark.peak_rss_mb"] = ("MB", "lower", "all", "peak_rss_mb (report)")
TARGETS["traced.throughput_per_s"] = ("1/s", "higher", "all", "throughput_per_s (traced run)")
TARGETS["traced.cycle_p50_s"] = ("s", "lower", "all", "cycle_p50_s (traced run)")

PER_LAYER = [(name, t[0]) for name, t in TARGETS.items()]
