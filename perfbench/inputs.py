"""Seeded input generators for the benchmark workloads.

Every value is drawn from md5 of a key that starts with the seed, so
the same seed gives byte-identical inputs on any host and in any
process, with no RNG state to carry around (the scheme of
``tools/clustered_ann_proof.py``). The engine only ever sees the
parquet files written here.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _u(key: str) -> float:
    """Deterministic uniform [0, 1): first 8 hex chars of md5(key)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 16**8


def _uniform(seed: int, tag: str, rows: int, cols: int) -> np.ndarray:
    return np.array(
        [_u(f"{seed}|{tag}|{i}|{d}") for i in range(rows) for d in range(cols)],
        dtype=np.float64,
    ).reshape(rows, cols)


@dataclass(frozen=True)
class VectorInputs:
    """A clustered corpus (uniform noise around random centers), its
    probes and the upsert pool."""

    ids: np.ndarray  # int64 corpus ids 0..n-1
    vectors: np.ndarray  # float32 (n, dim)
    labels: np.ndarray  # int32 true cluster of each corpus row
    probes: np.ndarray  # float32 (n_probes, dim)
    extra: np.ndarray  # float32 (n_extra, dim): vectors for upserts
    delete_order: np.ndarray  # int64: corpus ids in the order rounds delete them


def vector_inputs(
    seed: int,
    n: int,
    dim: int = 64,
    clusters: int = 16,
    noise: float = 0.4,
    n_probes: int = 16,
    n_extra: int = 512,
) -> VectorInputs:
    """Centers uniform in [-1, 1]^dim; each point is its center plus
    uniform noise of width `noise` per coordinate, so the clusters are
    far apart in angle. Probes and upserts come from the same mixture.

    The engine's k-means seeds on the rows with the smallest md5(id).
    Those `clusters` rows are put in distinct clusters, so Lloyd's
    iterations with `clusters` cells settle on the true clusters: an
    unlucky draw can neither empty a cell nor make the index build
    fail."""
    centers = 2.0 * _uniform(seed, "c", clusters, dim) - 1.0

    def draw(tag: str, rows: int, seeded: bool = False) -> tuple[np.ndarray, np.ndarray]:
        labels = np.array(
            [int(_u(f"{seed}|{tag}l|{i}") * clusters) for i in range(rows)],
            dtype=np.int32,
        )
        if seeded:
            first = sorted(range(rows), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            labels[first[:clusters]] = np.arange(clusters)
        jitter = noise * (_uniform(seed, tag, rows, dim) - 0.5)
        return (centers[labels] + jitter).astype(np.float32), labels

    vectors, labels = draw("p", n, seeded=True)
    probes, _ = draw("q", n_probes)
    extra, _ = draw("x", n_extra)
    ids = np.arange(n, dtype=np.int64)
    delete_order = ids[np.argsort([_u(f"{seed}|del|{i}") for i in range(n)])]
    return VectorInputs(ids, vectors, labels, probes, extra, delete_order)


def write_embeddings(inp: VectorInputs, data_dir: str) -> str:
    """`embeddings.parquet` in the fixture-table schema (FIXTURES.md)."""
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, "embeddings.parquet")
    table = pa.table(
        {
            "vec_id": pa.array(inp.ids, pa.int64()),
            "embedding": pa.array(list(inp.vectors), pa.list_(pa.float32())),
            "label": pa.array(inp.labels, pa.int32()),
        }
    )
    pq.write_table(table, path)
    return path


# the fixture corpus vocabulary style: short tokens, heavy reuse
_VOCAB = (
    "spark window merge table column vector stream value data small batch "
    "part line order sort fast scan hash slow group agg filter query big "
    "key row join customer the a"
).split()
_BOILERPLATE = (
    "all rights reserved",
    "subscribe to our newsletter",
    "click here to read more",
)


def document_texts(seed: int, base_docs: int, replicas: int) -> list[str]:
    """`base_docs` seeded documents, replicated `replicas` times the
    ``build_sf1`` way (replica r > 0 appends the token ``r<r>``, so the
    copies are near- not exact duplicates). One base document in 16
    gains a shared boilerplate line (line dedup attrits it) and one in
    32 is an exact copy of its predecessor (exact dedup attrits it)."""
    base: list[str] = []
    for i in range(base_docs):
        if i and _u(f"{seed}|dup|{i}") < 1 / 32:
            base.append(base[-1])
            continue
        n_tok = 10 + int(_u(f"{seed}|len|{i}") * 91)
        words = [
            _VOCAB[int(_u(f"{seed}|w|{i}|{j}") * len(_VOCAB))] for j in range(n_tok)
        ]
        text = " ".join(words)
        if _u(f"{seed}|bp|{i}") < 1 / 16:
            line = _BOILERPLATE[int(_u(f"{seed}|bpl|{i}") * len(_BOILERPLATE))]
            text = f"{text}\n{line}"
        base.append(text)
    return [
        text if r == 0 else f"{text} r{r}" for r in range(replicas) for text in base
    ]


def write_documents(texts: list[str], data_dir: str) -> str:
    """`documents.parquet` with the (doc_id, text) columns curation reads."""
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, "documents.parquet")
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(table, path)
    return path
