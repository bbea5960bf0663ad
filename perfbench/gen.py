"""Seeded input generators and the arithmetic the certificates check.

Everything here is numpy/pyarrow in one process: the program under
test only ever sees the files written.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LABELS = 50
SOURCES = 8


def logical_bytes(id_len, dim: int, meta_len):
    """Logical canonical bytes of a record (or, elementwise, of arrays
    of records): id UTF-8, 4 bytes per float32 vector element, and
    metadata key/value UTF-8."""
    return id_len + 4 * dim + meta_len


def _utf8_lens(values: np.ndarray) -> np.ndarray:
    return np.fromiter((len(str(v).encode()) for v in values), np.int64, len(values))


def id_weight(ids: np.ndarray) -> np.ndarray:
    """Per-row weight in the vector checksum, so a vector attached to
    the wrong id changes the sum."""
    return (ids % 1009 + 1).astype(np.float64)


def vector_checksum(ids: np.ndarray, vectors: np.ndarray) -> float:
    """float64 checksum over (id, vector) pairs, independent of row
    order up to float64 rounding."""
    return float(np.dot(vectors.astype(np.float64).sum(axis=1), id_weight(ids)))


@dataclass(frozen=True)
class Corpus:
    """A generated canonical-shaped corpus and what it must migrate to."""

    path: str
    rows: int
    logical_bytes: int
    checksum: float
    ids: np.ndarray


def make_corpus(path: str, rows: int, files: int, seed: int) -> Corpus:
    """``rows`` records in ``files`` parquet files under ``path``:
    int64 id, 64-dim float32 vector, ``label``/``src`` string columns."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(rows).astype(np.int64) + int(rng.integers(0, 10**9))
    vectors = rng.standard_normal((rows, DIM), dtype=np.float32)
    labels = np.char.add("label-", rng.integers(0, LABELS, rows).astype(str))
    srcs = np.char.add("src-", rng.integers(0, SOURCES, rows).astype(str))
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(rows), files)):
        flat = pa.array(vectors[part].ravel())
        table = pa.table(
            {
                "id": ids[part],
                "vector": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, len(part) * DIM + 1, DIM, dtype=np.int32)),
                    flat,
                ),
                "label": labels[part],
                "src": srcs[part],
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{k:02d}.parquet"))
    meta_len = _utf8_lens(labels) + _utf8_lens(srcs) + len("label") + len("src")
    total = int(logical_bytes(_utf8_lens(ids), DIM, meta_len).sum())
    return Corpus(path, rows, total, vector_checksum(ids, vectors), ids)


# ---------------------------------------------------------------- suite

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window join data column small customer query filter "
    "stream order group vector big of and to in is"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.15, 0.15, 0.14, 0.12])


@dataclass(frozen=True)
class SuiteTables:
    """The two tables the curation slice reads, and their sizes."""

    sf_dir: str
    rows: dict[str, int]
    logical_bytes: dict[str, int]


def make_suite_tables(sf_dir: str, docs: int, vecs: int, seed: int) -> SuiteTables:
    """``documents`` and ``embeddings`` with the schemas of the repo's
    testdata (``doc_id, text, lang, source, n_chars`` and ``vec_id,
    embedding, label``). One in twenty rows is a near copy of an
    earlier row, so the dedup operators have pairs to find."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    lens = rng.integers(8, 90, docs)
    words = rng.integers(0, len(_WORDS), lens.sum())
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(_WORDS[w] for w in chunk) for chunk in np.split(words, cuts)]
    for i in range(docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.08:
            texts[i] += f" mail user{i}@example.com"
        elif r < 0.10:
            texts[i] += f" call 555-{i % 1000:03d}-{i % 10000:04d}"
    lang = rng.choice(_LANGS, docs, p=_LANG_P)
    source = np.char.add("src", (np.arange(docs) % 20).astype(str))
    n_chars = np.fromiter((len(t) for t in texts), np.int64, docs)
    doc_ids = np.arange(docs, dtype=np.int64)
    pq.write_table(
        pa.table(
            {"doc_id": doc_ids, "text": texts, "lang": lang, "source": source,
             "n_chars": n_chars}
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )

    emb = rng.standard_normal((vecs, DIM))
    dup = np.flatnonzero(rng.random(vecs) < 0.05)
    dup = dup[dup > 0]
    emb[dup] = emb[rng.integers(0, dup)] + 0.01 * rng.standard_normal((len(dup), DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, vecs).astype(np.int32)
    vec_ids = np.arange(vecs, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "vec_id": vec_ids,
                "embedding": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, vecs * DIM + 1, DIM, dtype=np.int32)),
                    pa.array(emb.ravel()),
                ),
                "label": labels,
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )

    doc_meta = (
        np.fromiter((len(t.encode()) for t in texts), np.int64, docs)
        + _utf8_lens(lang) + _utf8_lens(source) + _utf8_lens(n_chars)
        + len("text") + len("lang") + len("source") + len("n_chars")
    )
    # as canonical records: documents carry no vector, every other
    # column is a metadata key/value
    return SuiteTables(
        sf_dir,
        {"documents": docs, "embeddings": vecs},
        {
            "documents": int(logical_bytes(_utf8_lens(doc_ids), 0, doc_meta).sum()),
            "embeddings": int(
                logical_bytes(_utf8_lens(vec_ids), DIM, _utf8_lens(labels) + len("label")).sum()
            ),
        },
    )
