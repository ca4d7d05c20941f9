"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from a seed:
R-MAT edge lists written as the reference's ``"<src> <dst>"`` text
format, and a documents parquet fixture for the catalog entries. The same seed gives the same
bytes; nothing is read from outside the working directory.
"""

from __future__ import annotations

import os

import numpy as np

# Graph500 quadrant probabilities (d = 1 - a - b - c).
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19


def rmat(scale: int, edge_factor: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """R-MAT edge arrays (src, dst) over 2^scale vertices, with
    ``edge_factor << scale`` edges. Duplicates and self-loops are kept,
    as the reference parser keeps them (mr-pr-cpp.cpp:89-108)."""
    rng = np.random.default_rng(seed)
    m = edge_factor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    ab, abc = RMAT_A + RMAT_B, RMAT_A + RMAT_B + RMAT_C
    for _ in range(scale):
        u = rng.random(m)
        src = (src << 1) | (u >= ab)
        dst = (dst << 1) | (((u >= RMAT_A) & (u < ab)) | (u >= abc))
    return src, dst


def write_edge_file(path: str, src: np.ndarray, dst: np.ndarray) -> int:
    """Write one ``"<src> <dst>"`` line per edge; returns the file size."""
    with open(path, "w") as f:
        f.write("\n".join(f"{s} {d}" for s, d in zip(src.tolist(), dst.tolist())))
        f.write("\n")
    return os.path.getsize(path)


# ----------------------------------------------------------- catalog fixture
# The documents table the benchmark's catalog entries read, with the
# schema sources/tables.py and tests/test_fixture_schemas.py pin, and
# the shape and row count of the repo's sf0.1 fixture (TESTDATA.md):
# texts of 10-100 words drawn uniformly from a 30-word vocabulary, 5% of
# documents a copy of another one with " dup" appended.

N_DOCS = 5000
_VOCAB = (
    "the a data query table row column scan filter join agg group sort "
    "merge hash key value part line order customer batch stream window "
    "spark fast slow big small vector"
).split()
_LANGS, _LANG_P = ("en", "es", "de", "fr", "zh"), (0.41, 0.15, 0.14, 0.15, 0.15)
_DUP_FRAC = 0.05


def _documents(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_VOCAB, size=int(k))) for k in lens]
    for i in np.flatnonzero(rng.random(n) < _DUP_FRAC):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(_LANGS, size=n, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def catalog_fixture(out_dir: str, seed: int) -> None:
    """Write documents.parquet into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = _documents(np.random.default_rng(seed), N_DOCS)
    pq.write_table(pa.table(docs), os.path.join(out_dir, "documents.parquet"))
