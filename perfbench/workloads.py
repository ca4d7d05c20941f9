"""The benchmark's workloads. Each one generates its inputs from the
seed, warms the session, runs timed passes of calls into the package's
public functions, checks every output, and turns the traced calls into
per-layer metrics.

A pass is one complete job as a user would run it; every call inside
it runs under its own Spark job group (see ``Session.call``).
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import eventlog
import inputs

PAGERANK_SCALE = 17  # 2^17 vertices, 1,048,576 edges
REVADJ_SCALE = 18  # 2^18 vertices, 2,097,152 edges
WARM_SCALE = 12  # the graph workloads' warm-up pass: 32,768 edges
# Every PageRank iteration after the first runs the same plan, so two
# iterations warm the code paths of all of them.
WARM_ITERATIONS = 2
EDGE_FACTOR = 8
# Fixed: catalog entries are checked against the DuckDB oracle on this
# fixture; the workload seed sets the order the entries run in.
CATALOG_FIXTURE_SEED = 42
# An iterative driver, bound by job count and driver gap
# (graph.algorithms), and data-parallel kernels whose executor time
# dominates their wall (operators.dedup and operators.ranking, both over
# functions.text).
CATALOG_LOOPS = ("graph_kcore",)
CATALOG_KERNELS = ("dedup_span_coverage", "text_lm_score")
CATALOG_ENTRIES = CATALOG_LOOPS + CATALOG_KERNELS


@dataclass
class Call:
    name: str
    pass_no: int  # 0 = set-up, 1.. = timed passes
    group: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    wall: float  # perf_counter seconds


@dataclass
class Session:
    spark: object
    work: str
    seed: int
    calls: list[Call] = field(default_factory=list)

    def call(self, name: str, pass_no: int):
        return _CallScope(self, name, pass_no)


class _CallScope:
    def __init__(self, session: Session, name: str, pass_no: int):
        self.s, self.name, self.pass_no = session, name, pass_no
        self.group = f"{name}#{pass_no}"

    def __enter__(self):
        self.s.spark.sparkContext.setJobGroup(self.group, self.name)
        self.t0, self.w0 = time.perf_counter(), time.time()
        return self

    def __exit__(self, *exc):
        wall, end = time.perf_counter() - self.t0, time.time()
        self.s.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.s.calls.append(Call(self.name, self.pass_no, self.group, self.w0, end, wall))


# ------------------------------------------------------------ per-layer
@dataclass
class CallProfile:
    wall: float
    jobs: int
    stages: int
    totals: eventlog.StageTotals
    gap_frac: float
    job_list: list[eventlog.Job]


def profile(log: eventlog.EventLog, c: Call) -> CallProfile:
    jobs = log.group_jobs(c.group)
    totals, n_stages = log.totals(jobs)
    ivs = [(j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0) for j in jobs]
    span = c.end - c.start
    gap = eventlog.driver_gap(c.start, c.end, ivs)
    return CallProfile(c.wall, len(jobs), n_stages, totals,
                       gap / span if span > 0 else 0.0, jobs)


def median_over_passes(session: Session, log, name: str, fn) -> float:
    vals = [fn(profile(log, c)) for c in session.calls if c.name == name and c.pass_no > 0]
    return statistics.median(vals) if vals else 0.0


def tasks_per_stage(p: CallProfile) -> float:
    return p.totals.tasks / p.stages if p.stages else 0.0


# The per-layer metrics every traced run reports (0 where a workload
# does not call the layer). (name, unit, better)
LAYER_METRICS = [
    ("session.get_spark_s", "s", "lower"),
    ("sources.edges.read_edge_list_s", "s", "lower"),
    ("sources.edges.read_edge_list_jobs", "count", "lower"),
    ("sources.edges.input_bytes", "B", "lower"),
    ("sources.edges.edges_per_s", "1/s", "higher"),
    ("graph.pagerank.websize_s", "s", "lower"),
    ("graph.pagerank.out_degrees_s", "s", "lower"),
    ("graph.pagerank.reverse_adjacency_s", "s", "lower"),
    ("graph.pagerank.reverse_adjacency_shuffle_bytes", "B", "lower"),
    ("graph.pagerank.reverse_adjacency_spill_bytes", "B", "lower"),
    ("graph.pagerank.reverse_adjacency_gc_s", "s", "lower"),
    ("graph.pagerank.pagerank_s", "s", "lower"),
    ("graph.pagerank.iterations", "count", "lower"),
    ("graph.pagerank.s_per_iter", "s", "lower"),
    ("graph.pagerank.jobs", "count", "lower"),
    ("graph.pagerank.tasks_per_stage", "count", "higher"),
    ("graph.pagerank.iter_p50_s", "s", "lower"),
    ("graph.pagerank.iter_max_s", "s", "lower"),
    ("graph.pagerank.shuffle_read_bytes_per_iter", "B", "lower"),
    ("graph.pagerank.shuffle_write_bytes_per_iter", "B", "lower"),
    ("graph.pagerank.executor_run_s", "s", "lower"),
    ("graph.pagerank.gc_s", "s", "lower"),
    ("graph.pagerank.spill_bytes", "B", "lower"),
    ("graph.pagerank.driver_gap_frac", "ratio", "lower"),
    ("graph.pagerank.max_abs_err", "abs", "lower"),
    ("graph.pagerank.edge_iters_per_s", "1/s", "higher"),
    ("graph.io.format_ranks_s", "s", "lower"),
    ("graph.io.bytes_written", "B", "lower"),
    ("trace.wall_s", "s", "lower"),
] + [
    (f"queries.{e}.{m}", u, b)
    for e in CATALOG_ENTRIES
    for m, u, b in (
        ("s", "s", "lower"),
        ("jobs", "count", "lower"),
        ("tasks_per_stage", "count", "higher"),
        ("driver_gap_frac", "ratio", "lower"),
        ("executor_run_s", "s", "lower"),
        ("first_call_s", "s", "lower"),
    )
]


# ------------------------------------------------------------ workloads
class Workload:
    name = ""
    why = ""
    max_passes = math.inf  # timed passes per run, within --seconds

    def prepare(self, s: Session) -> None:
        """Generate the inputs (timed as part of set-up)."""

    def warm_up(self, s: Session) -> None:
        """Run the code paths once so timed passes see a warm JVM."""

    def run_pass(self, s: Session, k: int) -> None:
        raise NotImplementedError

    def check(self, s: Session) -> tuple[int, list[str]]:
        """(operations checked, error messages)."""
        raise NotImplementedError

    def layers(self, s: Session, log: eventlog.EventLog) -> dict[str, float]:
        raise NotImplementedError


def _edges_file(s: Session, scale: int) -> tuple[str, np.ndarray, np.ndarray]:
    src, dst = inputs.rmat(scale, EDGE_FACTOR, s.seed)
    path = os.path.join(s.work, f"rmat-s{scale}.txt")
    inputs.write_edge_file(path, src, dst)
    return path, src, dst


class PagerankRmat(Workload):
    name = "pagerank_rmat"
    why = ("the paper's whole job (parse, PageRank fixed point, rank sink) on an "
           "R-MAT graph big enough that each iteration shuffles real data")

    # One timed pass after a warm-up pass over a small graph: the warm-up
    # runs every call of the pass once, so the timed pass does not also
    # measure the JIT and first-job costs. Those vary from run to run
    # more than the work does: on a 4-core host, the wall of ten cold
    # passes spread by 0.25 of their median, that of ten warm passes by
    # 0.10-0.15 in three sets. A second timed pass would not fit the
    # run's time.
    max_passes = 1

    def prepare(self, s):
        self.path, self.src, self.dst = _edges_file(s, PAGERANK_SCALE)
        self.warm_path, _, _ = _edges_file(s, WARM_SCALE)
        self.results: dict[int, tuple[int, str]] = {}

    def warm_up(self, s):
        self._pass(s, 0, self.warm_path, max_iterations=WARM_ITERATIONS)

    def run_pass(self, s, k):
        self.results[k] = self._pass(s, k, self.path)

    def _pass(self, s, k, path, **pagerank_args):
        from pagerank_mapreduce_spark.graph.io import format_ranks
        from pagerank_mapreduce_spark.graph.pagerank import pagerank
        from pagerank_mapreduce_spark.sources.edges import read_edge_list

        out = os.path.join(s.work, f"ranks-{k}")
        with s.call("sources.edges.read_edge_list", k):
            edges = read_edge_list(s.spark, path)
        with s.call("graph.pagerank.pagerank", k):
            res = pagerank(edges, **pagerank_args)
        with s.call("graph.io.format_ranks", k):
            format_ranks(res.ranks).coalesce(1).write.mode("overwrite").text(out)
        return res.iterations, out

    def check(self, s):
        from tests.oracle_pagerank import pagerank_oracle

        expected, expected_iters = pagerank_oracle(
            list(zip(self.src.tolist(), self.dst.tolist())))
        errs, self.max_err = [], 0.0
        for k, (iters, out) in self.results.items():
            if iters != expected_iters:
                errs.append(f"pass {k}: {iters} iterations, oracle needs {expected_iters}")
            pass_errs, err = checks.pagerank_errors(out, expected)
            errs += [f"pass {k}: {e}" for e in pass_errs]
            self.max_err = max(self.max_err, err)
        return len(self.results), errs

    def layers(self, s, log):
        m: dict[str, float] = {}
        med = lambda name, fn: median_over_passes(s, log, name, fn)  # noqa: E731
        iters, out = next(iter(self.results.values()))
        m["sources.edges.read_edge_list_s"] = med("sources.edges.read_edge_list", lambda p: p.wall)
        m["sources.edges.read_edge_list_jobs"] = med("sources.edges.read_edge_list", lambda p: p.jobs)
        m["sources.edges.input_bytes"] = med("sources.edges.read_edge_list",
                                             lambda p: p.totals.input_bytes)
        pr = "graph.pagerank.pagerank"
        m["graph.pagerank.pagerank_s"] = med(pr, lambda p: p.wall)
        m["graph.pagerank.iterations"] = float(iters)
        m["graph.pagerank.s_per_iter"] = m["graph.pagerank.pagerank_s"] / iters
        m["graph.pagerank.jobs"] = med(pr, lambda p: p.jobs)
        m["graph.pagerank.tasks_per_stage"] = med(pr, tasks_per_stage)
        m["graph.pagerank.executor_run_s"] = med(pr, lambda p: p.totals.executor_run_ms / 1000.0)
        m["graph.pagerank.gc_s"] = med(pr, lambda p: p.totals.gc_ms / 1000.0)
        m["graph.pagerank.spill_bytes"] = med(pr, lambda p: p.totals.spill_bytes)
        m["graph.pagerank.driver_gap_frac"] = med(pr, lambda p: p.gap_frac)

        def per_iter(p: CallProfile):
            # one checkpoint job per iteration closes the call; an
            # iteration lasts from the previous job's end to its own
            ends = [j.end_ms / 1000.0 for j in p.job_list if j.end_ms is not None]
            walls = [b - a for a, b in zip(ends[-iters - 1:], ends[-iters:])]
            t, _ = log.totals(p.job_list[-iters:])
            return walls, t

        iter_rows = [per_iter(profile(log, c)) for c in s.calls if c.name == pr and c.pass_no > 0]
        if iter_rows:
            m["graph.pagerank.iter_p50_s"] = statistics.median(
                statistics.median(w) for w, _ in iter_rows if w)
            m["graph.pagerank.iter_max_s"] = statistics.median(max(w) for w, _ in iter_rows if w)
            m["graph.pagerank.shuffle_read_bytes_per_iter"] = statistics.median(
                t.shuffle_read_bytes / iters for _, t in iter_rows)
            m["graph.pagerank.shuffle_write_bytes_per_iter"] = statistics.median(
                t.shuffle_write_bytes / iters for _, t in iter_rows)
        m["graph.pagerank.max_abs_err"] = self.max_err
        passes = [c.wall for c in s.calls if c.pass_no > 0]
        pass_wall = sum(passes) / len(self.results)
        m["graph.pagerank.edge_iters_per_s"] = len(self.src) * iters / pass_wall
        m["graph.io.format_ranks_s"] = med("graph.io.format_ranks", lambda p: p.wall)
        m["graph.io.bytes_written"] = float(sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
            if f.startswith("part-")))
        return m


class RevadjIngest(Workload):
    name = "revadj_ingest"
    why = ("the reference's timed MapReduce phase: scan and validate the edge "
           "text, then websize, out-degrees and the reverse adjacency lists")

    # One timed pass after a warm-up pass over a small graph, as for
    # PagerankRmat.
    max_passes = 1

    def prepare(self, s):
        self.path, src, dst = _edges_file(s, REVADJ_SCALE)
        self.warm_path, _, _ = _edges_file(s, WARM_SCALE)
        self.n_edges = len(src)
        self.expected = checks.mapreduce_expected(src, dst)
        self.results: dict[int, dict] = {}

    def warm_up(self, s):
        self._pass(s, 0, self.warm_path)

    def run_pass(self, s, k):
        self.results[k] = self._pass(s, k, self.path)

    def _pass(self, s, k, path):
        from pyspark.sql import functions as F

        from pagerank_mapreduce_spark.graph.pagerank import (
            out_degrees,
            reverse_adjacency,
            websize,
        )
        from pagerank_mapreduce_spark.sources.edges import read_edge_list

        got = {}
        with s.call("sources.edges.read_edge_list", k):
            edges = read_edge_list(s.spark, path)
        with s.call("graph.pagerank.websize", k):
            got["websize"] = websize(edges)
        with s.call("graph.pagerank.out_degrees", k):
            r = out_degrees(edges).agg(F.count("*"), F.sum("deg")).first()
            got["outdeg_rows"], got["outdeg_sum"] = int(r[0]), int(r[1])
        with s.call("graph.pagerank.reverse_adjacency", k):
            r = reverse_adjacency(edges).agg(
                F.count("*"),
                F.sum(F.size("in_links")),
                F.sum(F.aggregate("in_links", F.lit(0).cast("bigint"), lambda a, x: a + x)),
            ).first()
            got["inlink_rows"], got["inlink_len"], got["inlink_src_sum"] = (int(v) for v in r)
        return got

    def check(self, s):
        errs = [
            f"pass {k}: {key} = {v}, expected {self.expected[key]}"
            for k, got in self.results.items()
            for key, v in got.items()
            if v != self.expected[key]
        ]
        return len(self.results) * len(self.expected), errs

    def layers(self, s, log):
        med = lambda name, fn: median_over_passes(s, log, name, fn)  # noqa: E731
        ra = "graph.pagerank.reverse_adjacency"
        passes = [c.wall for c in s.calls if c.pass_no > 0]
        return {
            "sources.edges.read_edge_list_s": med("sources.edges.read_edge_list", lambda p: p.wall),
            "sources.edges.read_edge_list_jobs": med("sources.edges.read_edge_list",
                                                     lambda p: p.jobs),
            "sources.edges.input_bytes": med("sources.edges.read_edge_list",
                                             lambda p: p.totals.input_bytes),
            "sources.edges.edges_per_s": self.n_edges / (sum(passes) / len(self.results)),
            "graph.pagerank.websize_s": med("graph.pagerank.websize", lambda p: p.wall),
            "graph.pagerank.out_degrees_s": med("graph.pagerank.out_degrees", lambda p: p.wall),
            "graph.pagerank.reverse_adjacency_s": med(ra, lambda p: p.wall),
            "graph.pagerank.reverse_adjacency_shuffle_bytes": med(
                ra, lambda p: p.totals.shuffle_write_bytes),
            "graph.pagerank.reverse_adjacency_spill_bytes": med(ra, lambda p: p.totals.spill_bytes),
            "graph.pagerank.reverse_adjacency_gc_s": med(ra, lambda p: p.totals.gc_ms / 1000.0),
        }


class Catalog(Workload):
    name = "catalog"
    why = ("catalog entries on an sf0.1-sized fixture: an iterative graph driver bound by "
           "job count and driver gap, and text/dedup kernels bound by executor time")

    def prepare(self, s):
        self.sf = os.path.join(s.work, "fixture")
        inputs.catalog_fixture(self.sf, CATALOG_FIXTURE_SEED)
        order = np.random.default_rng(s.seed).permutation(len(CATALOG_ENTRIES))
        self.entries = [CATALOG_ENTRIES[i] for i in order]
        self.checked: dict[str, tuple[int, str]] = {}
        self.errors: list[str] = []
        self.attempted = 0

    def _run(self, s, name, k):
        from pagerank_mapreduce_spark.queries import CATALOG

        # cached relations from an earlier call of the same entry would
        # otherwise be reused by plan equality, and a call would no
        # longer pay for the work a fresh caller pays for
        s.spark.catalog.clearCache()
        with s.call(f"queries.{name}", k):
            df = CATALOG[name].fn(s.spark, self.sf)
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def warm_up(self, s):
        # each entry's first call, checked against its DuckDB oracle
        import duckdb
        from tests.test_oracle_parity import assert_frames_match

        from pagerank_mapreduce_spark.queries import CATALOG

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf}/documents.parquet'")
        for name in self.entries:
            cols, rows = self._run(s, name, 0)
            self.attempted += 1
            rel = con.execute(CATALOG[name].oracle)
            try:
                assert_frames_match(name, rows, rel.fetchall(), cols,
                                    [d[0] for d in rel.description])
            except AssertionError as e:
                self.errors.append(f"first call: {e}")
            self.checked[name] = checks.fingerprint(rows, cols)
        con.close()

    def run_pass(self, s, k):
        for name in self.entries:
            cols, rows = self._run(s, name, k)
            self.attempted += 1
            got = checks.fingerprint(rows, cols)
            if got != self.checked[name]:
                self.errors.append(f"pass {k}: {name} gave {got}, checked {self.checked[name]}")

    def check(self, s):
        return self.attempted, self.errors

    def layers(self, s, log):
        m = {}
        for e in CATALOG_ENTRIES:
            name = f"queries.{e}"
            m[f"{name}.s"] = median_over_passes(s, log, name, lambda p: p.wall)
            m[f"{name}.jobs"] = median_over_passes(s, log, name, lambda p: p.jobs)
            m[f"{name}.tasks_per_stage"] = median_over_passes(s, log, name, tasks_per_stage)
            m[f"{name}.driver_gap_frac"] = median_over_passes(s, log, name, lambda p: p.gap_frac)
            m[f"{name}.executor_run_s"] = median_over_passes(
                s, log, name, lambda p: p.totals.executor_run_ms / 1000.0)
            m[f"{name}.first_call_s"] = next(
                c.wall for c in s.calls if c.name == name and c.pass_no == 0)
        return m


WORKLOADS = {w.name: w for w in (PagerankRmat, RevadjIngest, Catalog)}
