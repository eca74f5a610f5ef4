"""The workloads' inputs, and the exact answers the correctness checks
compare against.

tokens_build's `sequences` table is generated from the seed by the
library's own generator; query_mix reads the fixed sf0.1 tables shipped
in `data/sf0.1` (the seed only orders its queries and splits the
warehouse batches). Exact answers are numpy/pyarrow/DuckDB in the
benchmark process: the library only ever sees the parquet files.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the four tables the query mix reads, copied unchanged from the
# repository's sf0.1 test data (SHA-256 sums in data/sf0.1/SHA256SUMS)
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
SF_TABLES = ("lineitem", "events", "documents", "embeddings")
QS = [0.5, 0.95, 0.99, 0.999]
DAY_US = 86_400_000_000


# ------------------------------------------------------------- sequences

@dataclass
class Sequences:
    path: str
    n_tokens: int
    ntok_by_source: dict            # source -> sorted int32 n_tok values
    token_counts: np.ndarray        # [len(SOURCES), VOCAB] exact counts


def write_sequences(out_dir: str, seed: int, n_rows: int,
                    n_files: int = 4) -> Sequences:
    """The library's `generate_sequences` table for (n_rows, seed) —
    the same rows, chunk by chunk from its `_gen_chunk` — written as
    `n_files` parquet files of whole chunks, with the exact per-source
    `n_tok` values and token counts the checks use."""
    from p2pddsketch_spark.sources.sequences import CHUNK, SOURCES, VOCAB, _gen_chunk
    os.makedirs(out_dir, exist_ok=True)
    n_chunks = -(-n_rows // CHUNK)

    def chunk(c: int):
        lo = c * CHUNK
        n_tok, tokens, offsets, source = _gen_chunk(c, min(CHUNK, n_rows - lo), seed,
                                                    "normal")
        order = np.argsort(SOURCES)
        src = order[np.searchsorted(SOURCES, source, sorter=order)]   # index into SOURCES
        ids = np.char.add("doc-", np.char.zfill(np.arange(lo, lo + n_tok.size)
                                                .astype(str), 12))
        tb = pa.table({
            "doc_id": pa.array(ids.tolist(), pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
            "n_tok": pa.array(n_tok),
            "source": pa.array(source.tolist(), pa.string()),
        })
        tok_src = np.repeat(src.astype(np.int64), n_tok)
        counts = np.bincount(tok_src * VOCAB + tokens, minlength=len(SOURCES) * VOCAB)
        return tb, n_tok, src, counts.reshape(len(SOURCES), VOCAB)

    with ThreadPoolExecutor(max_workers=4) as ex:
        parts = list(ex.map(chunk, range(n_chunks)))
    bounds = [n_chunks * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        pq.write_table(pa.concat_tables([p[0] for p in parts[bounds[i]:bounds[i + 1]]]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    n_tok = np.concatenate([p[1] for p in parts])
    src = np.concatenate([p[2] for p in parts])
    return Sequences(
        path=out_dir, n_tokens=int(n_tok.sum()),
        ntok_by_source={str(s): np.sort(n_tok[src == i]) for i, s in enumerate(SOURCES)},
        token_counts=sum(p[3] for p in parts))


# ----------------------------------------------------------- exact answers

def exact_quantile(sorted_vals: np.ndarray, q: float) -> float:
    """Rank convention of the library's accuracy tests: the element at
    0-based index floor(q*(n-1)) (tests/test_ddsketch.py)."""
    return float(sorted_vals[int(np.floor(q * (len(sorted_vals) - 1)))])


def rel_err(est: float, exact: float) -> float:
    """|est - exact| / |exact|; an exact zero must be estimated as zero."""
    if exact == 0:
        return 0.0 if est == 0 else float("inf")
    return abs(est - exact) / abs(exact)


def word_shingles(text: str, n: int = 2) -> set[str]:
    """The library's word n-gram shingles: single-space split, distinct
    n-grams, none for documents shorter than n words."""
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else float("nan")


def similar_pairs(shingles: dict, threshold: float, block: int = 1024) -> set:
    """Every (id_a, id_b), id_a < id_b, whose exact shingle-set Jaccard is
    at least `threshold`: all pairs at once as a product of the
    documents' 0/1 shingle-incidence matrix, `block` rows at a time."""
    ids = sorted(i for i, s in shingles.items() if s)
    vocab = {g: k for k, g in enumerate(sorted(set().union(*(shingles[i] for i in ids))))}
    m = np.zeros((len(ids), len(vocab)), dtype=np.float32)
    for r, i in enumerate(ids):
        m[r, [vocab[g] for g in shingles[i]]] = 1.0
    size = m.sum(axis=1)
    out = set()
    for lo in range(0, len(ids), block):
        inter = (m[lo:lo + block] @ m.T).astype(np.float64)
        jac = inter / (size[lo:lo + block, None] + size[None, :] - inter)
        for a, b in zip(*np.nonzero(jac >= threshold)):
            if lo + a < b:
                out.add((ids[lo + a], ids[b]))
    return out
