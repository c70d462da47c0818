"""Seeded input generators for the benchmark, with their exact answers.

Self-contained on purpose: the library's own test fixtures can change
without moving the benchmark. Every table is a pure function of its
arguments and the seed. The exact answers the per-job checks need
(distinct counts, top token counts, ``n_tok`` and the planted near-dup
pairs) are computed here, at generation time, with NumPy.

Token table schema: ``doc_id bigint, source string, n_tok int,
tokens array<int>``. The text corpus is tokenized the same way: ``doc_id
bigint, text string, n_tok int, tokens array<int>`` (word ids).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "code", "books", "wiki")
SOURCE_P = (0.4, 0.25, 0.2, 0.15)
MEAN_TOKENS = 307  # 60 k docs ≈ 18.4 M tokens
ZIPF_S = 1.2
ZIPF_VOCAB = 50_000
BLOOM_SAMPLE = 10_000


def _doc_lengths(rng: np.random.Generator, n_docs: int) -> np.ndarray:
    return rng.integers(64, 2 * MEAN_TOKENS - 64 + 1, n_docs)


def _zipf_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Bounded Zipf(s) over a fixed vocabulary, by inverse CDF; ranks are
    mapped through a random permutation so frequent ids are not small."""
    w = 1.0 / np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n), side="right")
    return rng.permutation(ZIPF_VOCAB).astype(np.int32)[np.minimum(ranks, ZIPF_VOCAB - 1)]


def _write_files(path: str, table: pa.Table, n_files: int) -> None:
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:04d}.parquet"))


def token_table(path: str, seed: int, n_docs: int, n_files: int, dist: str) -> dict:
    """Write a token table under ``path``; return its exact answers."""
    rng = np.random.default_rng([seed, 1 if dist == "uniform" else 2])
    lens = _doc_lengths(rng, n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    n = int(offsets[-1])
    if dist == "uniform":
        flat = rng.integers(0, 2**31, n, dtype=np.int64).astype(np.int32)
    elif dist == "zipf":
        flat = _zipf_ids(rng, n)
    else:
        raise ValueError(f"unknown token distribution {dist!r}")
    src_idx = rng.choice(len(SOURCES), n_docs, p=SOURCE_P)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "source": pa.array(np.array(SOURCES)[src_idx]),
            "n_tok": pa.array(lens.astype(np.int32)),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)), pa.array(flat)
            ),
        }
    )
    _write_files(path, table, n_files)

    uniq, counts = np.unique(flat, return_counts=True)
    top = np.argsort(counts, kind="stable")[::-1][:100]
    tok_src = np.repeat(src_idx, lens)
    by_source = {
        s: int(len(np.unique(flat[tok_src == i])))
        for i, s in enumerate(SOURCES)
        if (src_idx == i).any()
    }
    sample = rng.choice(uniq, min(BLOOM_SAMPLE, len(uniq)), replace=False)
    return {
        "n_docs": n_docs,
        "n_tokens": n,
        "distinct": int(len(uniq)),
        "distinct_by_source": by_source,
        "top100": [[int(uniq[i]), int(counts[i])] for i in top],
        "n_tok_sorted": np.sort(lens).tolist(),
        "bloom_sample": sample.tolist(),
    }


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def text_corpus(
    path: str, seed: int, n_docs: int, n_files: int, dup_every: int = 10,
    replace_frac: float = 0.04,
) -> dict:
    """Word-salad docs; every ``dup_every``-th doc is an earlier doc with
    ``replace_frac`` of its words replaced. Returns the planted pairs."""
    rng = np.random.default_rng([seed, 3])
    vocab = _words(rng, 20_000)
    n_words = rng.integers(40, 120, n_docs)
    docs: list[np.ndarray] = []
    planted = []
    for i in range(n_docs):
        if i % dup_every == dup_every - 1:
            j = int(rng.integers(max(0, i - 50), i))
            w = docs[j].copy()
            k = max(1, int(round(replace_frac * len(w))))
            w[rng.choice(len(w), k, replace=False)] = rng.integers(0, len(vocab), k)
            planted.append([j, i])
        else:
            w = rng.integers(0, len(vocab), n_words[i])
        docs.append(w)
    lens = np.array([len(w) for w in docs])
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([" ".join(vocab[w]) for w in docs]),
            "n_tok": pa.array(lens.astype(np.int32)),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(np.concatenate(docs).astype(np.int32))
            ),
        }
    )
    _write_files(path, table, n_files)
    return {
        "n_docs": n_docs,
        "n_tokens": int(offsets[-1]),
        "planted": planted,
    }


def ensure(cache_dir: str, key: str, make) -> tuple[str, dict]:
    """Return ``(data_dir, answers)`` for ``key``, generating on a miss.

    ``make(data_dir)`` writes the parquet files and returns the answers.
    A directory without its answers file is a torn write and is rebuilt."""
    root = os.path.join(cache_dir, key)
    data, answers_path = os.path.join(root, "data"), os.path.join(root, "answers.json")
    if not os.path.exists(answers_path):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(data)
        answers = make(data)
        tmp = answers_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(answers, fh)
        os.replace(tmp, answers_path)
    os.utime(root)  # the cache keeps the most recently used entries
    with open(answers_path) as fh:
        return data, json.load(fh)
