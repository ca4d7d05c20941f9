"""Output checks: the written PageRank ranks against the NumPy oracle
of tests/oracle_pagerank.py, NumPy expectations for the MapReduce
phase, and the catalog's row-count + value-hash fingerprint under the
oracle-parity normalisation of tests/test_oracle_parity.py."""

from __future__ import annotations

import glob
import hashlib

import numpy as np


def read_rank_file(out_dir: str) -> tuple[np.ndarray, np.ndarray, float]:
    """Parse the format_ranks sink: ``"<id> = <rank>"`` lines in id
    order and the ``"s = <sum>"`` trailer. Returns (ids, ranks, s)."""
    ids, ranks, trailer = [], [], None
    for part in sorted(glob.glob(f"{out_dir}/part-*")):
        with open(part) as f:
            for line in f:
                key, _, val = line.partition(" = ")
                if key == "s":
                    trailer = float(val)
                else:
                    ids.append(int(key))
                    ranks.append(float(val))
    if trailer is None:
        raise ValueError(f"no 's = ' trailer in {out_dir}")
    return np.array(ids, dtype=np.int64), np.array(ranks), trailer


# Ranks are written with 12 significant digits (graph.io.format_ranks)
# and differ from the oracle by float summation order only.
REL_TOL = 1e-6


def pagerank_errors(out_dir: str, expected: np.ndarray) -> tuple[list[str], float]:
    """Compare the written rank file with the oracle's ranks at the
    reference checker's 1e-4 tolerance (correctness_checker.cpp:48)
    and at REL_TOL of each rank: on a graph of 2^17 vertices most ranks
    are below 1e-4, so the absolute test alone would pass almost any
    ranks. Returns the errors and the max |rank - oracle|."""
    ids, ranks, s = read_rank_file(out_dir)
    if not np.array_equal(ids, np.arange(len(expected))):
        return [f"rank ids are not 0..{len(expected) - 1} in order"], float("inf")
    diff = np.abs(ranks - expected)
    err, rel = float(diff.max()), float((diff / expected).max())
    errs = [f"max |rank - oracle| = {err:.3g} > 1e-4"] if err > 1e-4 else []
    if rel > REL_TOL:
        errs.append(f"max |rank - oracle| / oracle = {rel:.3g} > {REL_TOL}")
    if abs(s - 1.0) > 1e-4:
        errs.append(f"rank sum {s} != 1")
    return errs, err


def mapreduce_expected(src: np.ndarray, dst: np.ndarray) -> dict:
    """What websize / out_degrees / reverse_adjacency must return."""
    return {
        "websize": int(max(src.max(), dst.max())) + 1,
        "outdeg_rows": int(np.count_nonzero(np.bincount(src))),
        "outdeg_sum": int(len(src)),
        "inlink_rows": int(np.count_nonzero(np.bincount(dst))),
        "inlink_len": int(len(dst)),
        "inlink_src_sum": int(src.sum()),
    }


def fingerprint(rows, columns) -> tuple[int, str]:
    """(row count, value hash) of a result, order-insensitive, columns
    sorted by name, floats rounded to 9 digits: the parity gate's
    normalisation, so a run that reproduces the oracle-checked output
    reproduces this fingerprint."""
    from tests.test_oracle_parity import _key, _norm

    cols = sorted(columns)
    idx = [columns.index(c) for c in cols]
    norm = sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=_key)
    h = hashlib.sha256(repr((cols, [_key(r) for r in norm])).encode())
    return len(norm), h.hexdigest()[:16]
