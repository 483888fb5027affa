"""Seeded benchmark inputs: vectors, the query pool, write batches and
documents with planted duplicates.

numpy and pyarrow only. Nothing here imports the engine, so a change to the
program cannot change what the program is given. Every array comes from
``np.random.default_rng(SeedSequence([seed, stream]))`` with its own
stream number, so adding a stream never shifts another one.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CORPUS = 5_000
# Same density as 100k vectors around 1,000 centres: ~100 vectors a centre.
N_CENTRES = 50
CENTRE_SCALE = 1.0  # centres overlap, so approximate search can miss
POOL = 2_000  # held-out queries, never stored in the corpus
ZIPF_S = 1.1  # request skew over the pool: some requests repeat
BATCH_QUERIES = 500  # rows in one batch-search DataFrame
APPEND_ROWS = 500  # rows the ingest phase appends
DELETE_ROWS = 200  # corpus rows the ingest phase deletes

N_DOCS = 3_000
VOCAB = 5_000  # synthetic words; word 3-shingles of random docs never collide
DOC_WORDS = (40, 60)
EXACT_SHARE = 0.05  # docs that are verbatim copies of an original
NEAR_SHARE = 0.05  # docs that are one-word edits of an original

_CORPUS, _POOL, _ZIPF, _APPEND, _DELETE, _DOCS = range(6)


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


@dataclass(frozen=True)
class Vectors:
    corpus_ids: np.ndarray  # int64 (N_CORPUS,)
    corpus: np.ndarray  # float32 (N_CORPUS, DIM)
    pool: np.ndarray  # float32 (POOL, DIM); query_id = row index
    centres: np.ndarray  # float64 (N_CENTRES, DIM)


def _mixture(g: np.random.Generator, centres: np.ndarray, n: int) -> np.ndarray:
    lab = g.integers(0, len(centres), n)
    return (centres[lab] + g.normal(size=(n, centres.shape[1]))).astype(np.float32)


def make_vectors(seed: int) -> Vectors:
    g = rng(seed, _CORPUS)
    centres = g.normal(size=(N_CENTRES, DIM)) * CENTRE_SCALE
    corpus = _mixture(g, centres, N_CORPUS)
    pool = _mixture(rng(seed, _POOL), centres, POOL)
    return Vectors(np.arange(N_CORPUS, dtype=np.int64), corpus, pool, centres)


def zipf_requests(seed: int, n: int) -> np.ndarray:
    """Pool indices of ``n`` requests, Zipf-skewed: rank r is drawn with
    probability proportional to r**-ZIPF_S, ranks mapped to pool rows by a
    seeded permutation."""
    g = rng(seed, _ZIPF)
    p = 1.0 / np.arange(1, POOL + 1) ** ZIPF_S
    ranks = g.choice(POOL, size=n, p=p / p.sum())
    return g.permutation(POOL)[ranks]


def append_batch(seed: int, v: Vectors) -> tuple[np.ndarray, np.ndarray]:
    """(ids, vectors) of the rows the ingest phase appends; ids continue
    after the corpus."""
    ids = np.arange(N_CORPUS, N_CORPUS + APPEND_ROWS, dtype=np.int64)
    return ids, _mixture(rng(seed, _APPEND), v.centres, APPEND_ROWS)


def delete_ids(seed: int) -> np.ndarray:
    """Sorted corpus ids the ingest phase deletes."""
    return np.sort(rng(seed, _DELETE).permutation(N_CORPUS)[:DELETE_ROWS]).astype(np.int64)


@dataclass(frozen=True)
class Documents:
    doc_ids: np.ndarray  # int64
    texts: list[str]
    n_distinct: int  # distinct texts: what exact dedup must keep
    near_pairs: np.ndarray  # (n, 2) int64 planted (original, one-word edit)


def _vocab(g: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(g.integers(3, 9))
        words.add("".join(letters[g.integers(0, 26, n)]))
    return np.array(sorted(words))


def make_documents(seed: int) -> Documents:
    """Originals first, then exact copies and one-word edits of originals.

    A one-word edit of a 40-60 word doc keeps word-3-shingle Jaccard
    >= 0.88, above the pipeline's 0.8 cut; originals share no shingles."""
    g = rng(seed, _DOCS)
    vocab = _vocab(g)
    n_exact = int(N_DOCS * EXACT_SHARE)
    n_near = int(N_DOCS * NEAR_SHARE)
    n_orig = N_DOCS - n_exact - n_near
    toks = [g.integers(0, VOCAB, int(g.integers(*DOC_WORDS))) for _ in range(n_orig)]
    texts = [" ".join(vocab[t]) for t in toks]
    src_exact = g.integers(0, n_orig, n_exact)
    texts += [texts[i] for i in src_exact]
    src_near = g.choice(n_orig, n_near, replace=False)
    for i in src_near:
        t = toks[i].copy()
        pos = int(g.integers(3, len(t) - 3))
        t[pos] = (t[pos] + 1 + g.integers(0, VOCAB - 1)) % VOCAB  # a different word
        texts.append(" ".join(vocab[t]))
    near_ids = np.arange(n_orig + n_exact, N_DOCS, dtype=np.int64)
    return Documents(
        doc_ids=np.arange(N_DOCS, dtype=np.int64),
        texts=texts,
        n_distinct=len(set(texts)),
        near_pairs=np.stack([src_near.astype(np.int64), near_ids], axis=1),
    )


def vector_table(ids: np.ndarray, X: np.ndarray, id_col: str, vec_col: str) -> pa.Table:
    flat = pa.array(np.ascontiguousarray(X, dtype=np.float32).ravel())
    vecs = pa.FixedSizeListArray.from_arrays(flat, X.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({id_col: pa.array(ids, type=pa.int64()), vec_col: vecs})


def write_vectors(path: str, ids: np.ndarray, X: np.ndarray,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    pq.write_table(vector_table(ids, X, id_col, vec_col), path)


def write_queries(path: str, ids: np.ndarray, Q: np.ndarray) -> None:
    write_vectors(path, ids, Q, "query_id", "qvec")


def write_documents(path: str, docs: Documents) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(docs.doc_ids, type=pa.int64()),
                  "text": pa.array(docs.texts, type=pa.string())}),
        path,
    )
