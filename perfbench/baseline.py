"""Report-only BASELINE mode: the reverse-adjacency build, which is the
phase the reference timed, on seeded Barabási–Albert and Erdős–Rényi
graphs (``gen_barabasi`` / ``gen_erdos`` of tests/oracle_pagerank.py)
at BASELINE.md's sizes, printed next to the reference's cpp / mpi /
mpi-base milliseconds.

    python3 perfbench/run.py --baseline [--seed N]

Each row parses the generated edge file once (cached, untimed, like the
reference's parse), then times ``reverse_adjacency`` materialized with
the noop writer; after one untimed build, the median of three
builds is reported. Nothing here is gated: the reference ran on a
different host, and Spark's fixed per-job cost dominates at these
sizes (see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import time

import numpy as np

import inputs
from harness import ROOT, start_session, stop_session, work_dir

REPS = 3


def baseline_rows(path: str) -> list[tuple[str, int, float, float, float]]:
    """(kind, vertices, cpp_ms, mpi_ms, mpi_base_ms) from BASELINE.md's
    Barabási–Albert and Erdős–Rényi tables."""
    rows, kind = [], None
    with open(path) as f:
        for line in f:
            if line.startswith("## "):
                kind = ("barabasi" if "Barab" in line else
                        "erdos" if "Erd" in line else None)
                continue
            m = re.match(r"\|\s*([\d,]+)\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|",
                         line)
            if kind and m:
                n = int(m.group(1).replace(",", ""))
                rows.append((kind, n, *(float(m.group(i)) for i in (2, 3, 4))))
    return rows


def main(seed: int) -> int:
    from pagerank_mapreduce_spark.graph.pagerank import reverse_adjacency
    from pagerank_mapreduce_spark.sources.edges import read_edge_list

    from tests.oracle_pagerank import gen_barabasi, gen_erdos

    gens = {"barabasi": gen_barabasi, "erdos": gen_erdos}
    rows = baseline_rows(os.path.join(ROOT, "BASELINE.md"))
    work = work_dir(f"baseline-{seed}")
    out = []
    try:
        spark, _ = start_session(work, trace=False)
        try:
            print(f"{'graph':>9} {'vertices':>8} {'edges':>7} {'spark_ms':>9} "
                  f"{'cpp_ms':>7} {'mpi_ms':>7} {'mpi_base_ms':>11}")
            for kind, n, cpp, mpi, mpi_base in rows:
                src, dst = np.array(gens[kind](n, seed=seed), dtype=np.int64).T
                path = os.path.join(work, f"{kind}-{n}.txt")
                inputs.write_edge_file(path, src, dst)
                edges = read_edge_list(spark, path).persist()
                edges.count()
                walls = []
                for _ in range(REPS + 1):  # the first build is untimed warm-up
                    t0 = time.perf_counter()
                    reverse_adjacency(edges).write.format("noop").mode("overwrite").save()
                    walls.append((time.perf_counter() - t0) * 1000.0)
                edges.unpersist()
                ms = statistics.median(walls[1:])
                print(f"{kind:>9} {n:>8} {len(src):>7} {ms:>9.1f} "
                      f"{cpp:>7.2f} {mpi:>7.2f} {mpi_base:>11.2f}")
                out.append({"graph": kind, "vertices": n, "edges": len(src),
                            "spark_ms": round(ms, 2), "cpp_ms": cpp, "mpi_ms": mpi,
                            "mpi_base_ms": mpi_base})
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"baseline": out, "seed": seed}))
    return 0
