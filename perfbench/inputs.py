"""Seeded benchmark inputs: an input_hint corpus written as parquet files,
and BM25 queries sampled from target documents.

Same seed, same bytes. The corpus keeps the shape of the package's
synthetic corpus (repo, path, commit, lang, content; Zipf s=1.2 over the
code-like vocabulary, ~8 tokens a line) but draws every token in one
vectorized call, and its documents are shorter, so a corpus whose head term
crosses ``BuildConfig().hot_df_threshold`` can be generated and built
within one benchmark run.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from information_retrieval_project_spark.corpus import LANGS, VOCAB

_EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}
_VOCAB = np.array(VOCAB)
_ZIPF = np.arange(1, len(VOCAB) + 1, dtype=np.float64) ** -1.2
_ZIPF /= _ZIPF.sum()
QUERY_CYCLE = 4  # query lengths 1..4


def corpus_table(seed: int, n_docs: int, min_len: int, max_len: int,
                 start: int = 0) -> pa.Table:
    """Rows [start, start + n_docs) of the corpus for `seed`."""
    rng = np.random.default_rng((seed, start, n_docs))
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    words = _VOCAB[rng.choice(len(VOCAB), size=int(lens.sum()), p=_ZIPF)]
    langs = rng.integers(0, len(LANGS), size=n_docs)
    ends = np.cumsum(lens)
    content = []
    for lo, hi in zip(ends - lens, ends):
        w = words[lo:hi]
        content.append("\n".join(" ".join(w[j:j + 8]) for j in range(0, len(w), 8)))
    ids = range(start, start + n_docs)
    lang = [LANGS[i] for i in langs]
    return pa.table({
        "repo": [f"org{i % 7}/repo{i % 97}" for i in ids],
        "path": [f"src/pkg{i % 13}/mod{i}.{_EXT[g]}" for i, g in zip(ids, lang)],
        "commit": [hashlib.sha1(f"s{seed}c{i}".encode()).hexdigest() for i in ids],
        "lang": lang,
        "content": content,
    })


def write_files(table: pa.Table, out_dir: str, n_files: int,
                prefix: str = "part") -> list[str]:
    """Split `table` into `n_files` parquet files; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        p = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), p)
        paths.append(p)
    return paths


def sample_queries(table: pa.Table, seed: int, n: int) -> list[list[str]]:
    """`n` queries of 1-4 distinct terms, each sampled from one seeded target
    document. Lengths cycle through 1, 2, 3, 4, and the second query of each
    cycle also carries a term that no document contains, so every whole
    cycle has the same mix."""
    rng = np.random.default_rng((seed, 7919))
    content = table.column("content")
    out = []
    for q in range(n):
        toks = sorted(set(content[int(rng.integers(0, table.num_rows))]
                          .as_py().split()))
        m = min(len(toks), 1 + q % QUERY_CYCLE)
        terms = [toks[i] for i in rng.choice(len(toks), size=m, replace=False)]
        if q % QUERY_CYCLE == 1:
            terms.append(f"absent_{seed}_{q}")
        out.append(terms)
    return out
