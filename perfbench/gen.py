"""Seeded input generators owned by the benchmark.

Nothing here imports the engine: an engine change cannot change the
inputs. Every generator is a pure function of its seed and parameters and
writes plain parquet with the engine's input schemas (the CDC change-log
schema and the `documents` / `embeddings` tables of the contract queries).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The change-log schema the engine reads (`model.CHANGES_SCHEMA`), restated
# so the generator stays independent of engine code.
CHANGES_ARROW = pa.schema([
    pa.field("op", pa.string(), False),
    pa.field("lsn", pa.int64(), False),
    pa.field("ts", pa.timestamp("us", tz="UTC"), False),
    pa.field("conv_id", pa.string(), False),
    pa.field("turn_idx", pa.int32(), False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("epoch", pa.int32(), False),
    pa.field("src_part", pa.int32(), False),
])

_TS0_US = 1_735_689_600 * 1_000_000  # 2025-01-01 UTC
_ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
# Small rows per row group, so a single epoch file still scans as many tasks.
_ROW_GROUP = 32_768


def conv_name(idx: int) -> str:
    return f"c{idx:08d}"


def _filler_pool(rng: np.random.Generator, n: int, chars: int) -> list[str]:
    words = ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), int(k)))
             for k in rng.integers(2, 10, 512)]
    pool = []
    for _ in range(n):
        s = ""
        while len(s) < chars:
            s += " " + words[int(rng.integers(len(words)))]
        pool.append(s)
    return pool


def change_log(
    seed: int,
    epoch_sizes: list[int],
    n_convs: int,
    turns_per_conv: int = 8,
    n_src_parts: int = 8,
    skew: float = 1.0,
    delete_frac: float = 0.05,
    late_frac: float = 0.10,
    text_chars: int = 256,
    late_span: int | None = None,
) -> list[pa.Table]:
    """One Arrow table per epoch of a CDC change log.

    - conversations are Zipf-distributed with exponent `skew` (rank 0 is the
      hottest; `hot_conv(n_convs)` names it);
    - lsn is the global event index, ts is one second per lsn, except a
      `late_frac` share whose ts is pushed back by up to `late_span` seconds
      (default 1.5 x the mean epoch size), so they arrive out of order and
      across epoch boundaries;
    - `delete_frac` of events are deletes, 30% inserts, the rest updates;
    - text is `text_chars` long with a unique (conv, turn, lsn) prefix.
    """
    rng = np.random.default_rng(seed)
    n = int(sum(epoch_sizes))
    if late_span is None:
        late_span = max(2, int(1.5 * n / max(1, len(epoch_sizes))))
    ranks = np.arange(1, n_convs + 1, dtype=np.float64)
    p = ranks ** -skew
    p /= p.sum()
    perm = _conv_perm(n_convs)
    conv = perm[rng.choice(n_convs, size=n, p=p)]
    turn = rng.integers(0, turns_per_conv, n).astype(np.int32)
    u_op = rng.random(n)
    op = np.where(u_op < delete_frac, "D", np.where(u_op < delete_frac + 0.3, "I", "U"))
    lsn = np.arange(n, dtype=np.int64)
    late = rng.random(n) < late_frac
    back = rng.integers(1, late_span, n)
    ts_s = np.where(late, np.maximum(lsn - back, 0), lsn)
    role = _ROLES[rng.integers(0, 4, n)]
    tool_n = rng.integers(0, 5, n)
    src = rng.integers(0, n_src_parts, n).astype(np.int32)
    names = pa.array([conv_name(i) for i in range(n_convs)], pa.string())
    conv_ids = names.take(pa.array(conv))
    # fixed-width unique prefix "<conv>-<turn>-<lsn>:" then filler to length
    prefix = pc.binary_join_element_wise(
        conv_ids, pc.cast(pa.array(turn), pa.string()),
        pc.utf8_lpad(pc.cast(pa.array(lsn), pa.string()), width=10, padding="0"), "-")
    width = max(0, text_chars - len(prefix[0].as_py()) - 1)
    pool = pa.array([f[:width] for f in _filler_pool(rng, 1024, width)], pa.string())
    filler = pool.take(pa.array(rng.integers(0, len(pool), n)))
    texts = pc.binary_join_element_wise(prefix, filler, ":")
    role_arr = pa.array(role.tolist(), pa.string())
    tools = pc.if_else(pc.equal(role_arr, "tool"),
                       pc.binary_join_element_wise(
                           pa.scalar("tool"), pc.cast(pa.array(tool_n), pa.string()), ""),
                       pa.scalar(None, pa.string()))
    op_arr = pa.array(op.tolist(), pa.string())
    ts_arr = pa.array(_TS0_US + ts_s * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    out, start = [], 0
    for e, size in enumerate(epoch_sizes):
        sl = slice(start, start + size)
        out.append(pa.table({
            "op": op_arr[sl],
            "lsn": pa.array(lsn[sl]),
            "ts": ts_arr[sl],
            "conv_id": conv_ids[sl],
            "turn_idx": pa.array(turn[sl]),
            "role": role_arr[sl],
            "text": texts[sl],
            "tool": tools[sl],
            "epoch": pa.array(np.full(size, e, dtype=np.int32)),
            "src_part": pa.array(src[sl]),
        }, schema=CHANGES_ARROW))
        start += size
    return out


def _conv_perm(n_convs: int) -> np.ndarray:
    """Conversation id of each Zipf rank. Fixed, not drawn from the run's
    seed: every seed has the same hot keys, so where the skew lands in the
    bucket layout does not change from seed to seed."""
    return np.random.default_rng(0x5EED).permutation(n_convs)


def hot_conv(n_convs: int) -> str:
    """The conversation with Zipf rank 0 (the most-updated one)."""
    return conv_name(int(_conv_perm(n_convs)[0]))


def write_epochs(epochs: list[pa.Table], out_dir: str) -> list[str]:
    """One parquet file per epoch; returns the paths in epoch order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for e, t in enumerate(epochs):
        p = os.path.join(out_dir, f"epoch-{e:05d}.parquet")
        pq.write_table(t, p, row_group_size=_ROW_GROUP)
        paths.append(p)
    return paths


# ----------------------------------------------------------------- corpus

_NON_ASCII_WORDS = [
    "café", "naïve", "façade", "über", "straße", "größe", "élan", "señor",
    "данные", "поток", "таблица", "ключ", "δεδομένα", "ροή", "数据", "表格",
    "流处理", "合并", "データ", "テーブル", "데이터", "테이블", "çalışma", "żółw",
]


def corpus(
    seed: int,
    n_docs: int,
    n_vecs: int,
    dim: int = 64,
    vocab: int = 4000,
    dup_rate: float = 0.10,
    non_ascii_frac: float = 0.08,
    long_tail_frac: float = 0.02,
    long_tail_words: tuple[int, int] = (400, 1500),
) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) with the contract tables' schemas.

    - doc length: lognormal body (median ~40 words) plus a `long_tail_frac`
      share of very long docs (`long_tail_words`), the padding case for
      per-doc prefix-hash kernels;
    - `non_ascii_frac` of docs mix in accented / Cyrillic / Greek / CJK words;
    - `dup_rate` of docs (and of vectors) are planted near-duplicates of an
      earlier one: a few words substituted / small Gaussian noise added.
    """
    rng = np.random.default_rng(seed)
    alphabet = list("abcdefghijklmnopqrstuvwxyz")
    words = sorted({
        "".join(rng.choice(alphabet, int(k))) for k in rng.integers(3, 10, vocab)
    })
    w_p = 1.0 / np.arange(1, len(words) + 1) ** 0.8
    w_p /= w_p.sum()
    lengths = np.clip(rng.lognormal(np.log(40), 0.5, n_docs), 4, 200).astype(int)
    tail = rng.random(n_docs) < long_tail_frac
    lengths[tail] = rng.integers(*long_tail_words, int(tail.sum()))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_rate:
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(base) // 20)):
                base[int(rng.integers(len(base)))] = words[int(rng.choice(len(words), p=w_p))]
            texts.append(" ".join(base))
            continue
        toks = [words[j] for j in rng.choice(len(words), lengths[i], p=w_p)]
        if rng.random() < non_ascii_frac:
            for _ in range(max(1, len(toks) // 5)):
                toks[int(rng.integers(len(toks)))] = _NON_ASCII_WORDS[
                    int(rng.integers(len(_NON_ASCII_WORDS)))]
        texts.append(" ".join(toks))
    langs = np.array(["en", "de", "fr", "zh", "ru"], dtype=object)[rng.integers(0, 5, n_docs)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 4, n_docs)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    for i in range(10, n_vecs):
        if rng.random() < dup_rate:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.3, dim).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return docs, emb


def write_corpus(docs: pa.Table, emb: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"), row_group_size=1024)
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"), row_group_size=1024)
