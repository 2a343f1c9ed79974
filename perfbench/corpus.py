"""The corpus segment of the traced `upsert_stream` run: the shingle_jaccard,
dedup_corpus, simhash_near_dups and embedding_near_dups_lsh contract
callables, in the same session, over a generated corpus with the contract
tables' schemas, and the dedup/similarity layers under them."""

from __future__ import annotations

import os
import threading
import time

import gen
from common import JobMetrics, noop, plan_nodes
from oracle import DedupOracle

CORPUS = dict(n_docs=400, n_vecs=800, dim=64, vocab=4000, dup_rate=0.10,
              non_ascii_frac=0.08, long_tail_frac=0.01, long_tail_words=[150, 300])
CALLABLES = ["shingle_jaccard", "dedup_corpus", "simhash_near_dups", "embedding_near_dups_lsh"]
# callables that pin a `_take_cache` intermediate
CACHED = ["shingle_jaccard", "dedup_corpus", "simhash_near_dups"]
DETAIL = {"shingle_jaccard": "shingle_docs_per_s", "dedup_corpus": "minhash_docs_per_s",
          "simhash_near_dups": "simhash_docs_per_s", "embedding_near_dups_lsh": "embed_vecs_per_s"}


def corpus_segment(run) -> None:
    """The dedup and similarity layers, in the traced `upsert_stream` run:
    one checked round of the four callables (which also warms their plan
    shapes), then each layer timed alone through a noop sink."""
    import __spark_entry__ as entry
    from go_tfdata_spark.operators.dedup import release_caches

    p = {k: run.overrides.get(k, v) for k, v in CORPUS.items()}
    cdir = run.path("inputs", "corpus")
    docs, emb = gen.corpus(run.seed, p["n_docs"], p["n_vecs"], dim=p["dim"], vocab=p["vocab"],
                           dup_rate=p["dup_rate"], non_ascii_frac=p["non_ascii_frac"],
                           long_tail_frac=p["long_tail_frac"],
                           long_tail_words=tuple(p["long_tail_words"]))
    gen.write_corpus(docs, emb, cdir)
    run.params["corpus"] = p
    # The DuckDB restatements take longer than the engine at this size; they
    # run on a thread during the checked round and are joined after it.
    oracle = DedupOracle(cdir, entry.oracle_sql())
    expect = threading.Thread(target=lambda: [oracle.expected(n) for n in CALLABLES])
    expect.start()
    spark = run.spark
    qs = entry.queries()
    outs = []
    for name in CALLABLES:
        with run.op(name) as op, run.tracer.span(f"dedup.{name}"):
            df = qs[name](spark, cdir)
            outs.append((name, df.columns, run.tamper(name, df.collect())))
            release_caches()
            op.ok = True
    expect.join()
    for name, cols, rows in outs:
        run.check(name, oracle.matches(name, cols, rows))
    noop_s = _trace_layers(run, qs, cdir, oracle, release_caches)
    items = {n: p["n_vecs"] if n.startswith("embedding") else p["n_docs"] for n in CALLABLES}
    run.detail.update({DETAIL[n]: (items[n] / noop_s[n], "1/s") for n in CALLABLES})
    oracle.close()


def _timed(run, name: str, fn, with_tasks=False, metrics=True):
    """Wall seconds of `fn()` and, unless `metrics` is false, the job
    metrics of its span."""
    with run.tracer.span(name) as sp:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
    return dt, JobMetrics(run.spark.sparkContext, sp["group"], with_tasks) if metrics else None


def _trace_layers(run, qs, cdir, oracle, release_caches) -> dict[str, float]:
    """Every dedup/similarity layer metric; returns each callable's wall
    through the noop sink."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from go_tfdata_spark.functions.vectors import cosine_similarity
    from go_tfdata_spark.operators import dedup

    spark = run.spark
    docs = spark.read.parquet(os.path.join(cdir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(cdir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))

    dt, jm = _timed(run, "dedup.shingle", lambda: noop(dedup.shingle_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.03, max_doc_freq=100)), with_tasks=True)
    release_caches()
    run.layer("dedup.shingle_s", dt, "s")
    run.layer("dedup.shingle_shuffle_bytes", jm.shuffle_write_bytes, "B")
    run.layer("dedup.pair_partition_rows_max", max(jm.task_shuffle_records, default=0), "count")

    sigs = lambda: dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=3)  # noqa: E731
    dt, _ = _timed(run, "dedup.minhash_sig", lambda: noop(sigs()), metrics=False)
    run.layer("dedup.minhash_sig_s", dt, "s")
    cands = dedup.lsh_candidate_pairs(sigs(), "doc_id", bands=4, sig_len=16).count()
    pairs = dedup.minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=4, n=3,
                                    threshold=0.125).collect()
    release_caches()
    run.layer("dedup.lsh_candidates", cands, "count")
    run.layer("dedup.lsh_yield", len(pairs) / cands if cands else 0.0, "ratio")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long, est_jaccard double")
    dt, _ = _timed(run, "dedup.cluster", lambda: noop(dedup.cluster_dups(pdf)), metrics=False)
    run.layer("dedup.cluster_s", dt, "s")

    dt, _ = _timed(run, "dedup.simhash_fp", lambda: noop(
        dedup.simhash(docs, "doc_id", "text", bits=32)), metrics=False)
    run.layer("dedup.simhash_fp_s", dt, "s")
    sdf = qs["simhash_near_dups"](spark, cdir)
    kept = len(sdf.collect())
    release_caches()
    sim_cands = _candidates_verified(spark.sparkContext, sdf, "bit_count")
    run.layer("dedup.simhash_yield", kept / sim_cands if sim_cands else 0.0, "ratio")

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["v"]]
    qv = F.array(*[F.lit(x) for x in q])
    dt, _ = _timed(run, "similarity.cosine", lambda: noop(
        emb.select("vec_id", cosine_similarity(F.col("v"), qv).alias("cos"))), metrics=False)
    run.layer("similarity.cosine_s", dt, "s")
    # The engine's own bucket join with a cosine floor every pair passes
    # gives its candidate pairs.
    emb_cands = dedup.embedding_near_dups(
        emb, "vec_id", "v", threshold=-1.0, hyperplanes=entry._EMB_PLANES,
        seed=entry._EMB_SEED, dim=entry._EMB_DIM).count()
    emb_pairs = len(oracle.expected("embedding_near_dups_lsh")[1])
    run.layer("dedup.embed_yield", emb_pairs / emb_cands if emb_cands else 0.0, "ratio")

    # count() against the noop sink, once per callable
    noop_s = {}
    for name in CALLABLES:
        t_count, _ = _timed(run, f"count.{name}", lambda: qs[name](spark, cdir).count(),
                            metrics=False)
        release_caches()
        t_noop, _ = _timed(run, f"noop.{name}", lambda: noop(qs[name](spark, cdir)),
                           metrics=False)
        release_caches()
        run.layer(f"dedup.count_vs_noop_s.{name}", t_noop - t_count, "s")
        noop_s[name] = t_noop

    # Cached stages recomputed: the stages of the cache-backed callables run
    # twice over with every one consumed right after it is built, against
    # all six built first (more live caches than the registry keeps) and
    # consumed afterwards.
    _, a = _timed(run, "dedup.cache_in_order",
                     lambda: [noop(qs[n](spark, cdir)) for n in CACHED])
    release_caches()

    def built_first():
        dfs = [qs[n](spark, cdir) for n in CACHED * 2]
        for df in dfs:
            noop(df)

    _, b = _timed(run, "dedup.cache_built_first", built_first)
    release_caches()
    run.layer("dedup.cache_stage_reruns", b.stages - 2 * a.stages, "count")
    return noop_s


def _candidates_verified(sc, df, marker: str) -> int:
    """Rows the executed plan of `df` fed into the node (filter or join)
    whose condition mentions `marker`: the candidate pairs that reached
    the exact check. Read from the first node below it on its streamed
    (first) side that counts its output rows."""
    for node in plan_nodes(sc, df):
        cls = node.getClass().getSimpleName()
        if cls == "FilterExec":
            cond = node.condition()
        elif cls.endswith("JoinExec") and node.condition().isDefined():
            cond = node.condition().get()
        else:
            continue
        if marker not in cond.sql():
            continue
        for below in plan_nodes(sc, None, node.children().head()):
            m = below.metrics().get("numOutputRows")
            if m.isDefined():
                return int(m.get().value())
    raise AssertionError(f"no plan node checks {marker!r}")
