"""Damped PageRank over an edge DataFrame — the reference's raison d'être.

Semantics replicate the reference kernel exactly (mr-pr-cpp.cpp:110-180,
identical in mr-pr-mpi.cpp:121-191 and mr-pr-mpi-base.cpp:40-110):

- vertices are dense ids ``0..n-1`` with ``n = max(id)+1`` (websize,
  mr-pr-cpp.cpp:203-210); ids that never appear in the edge list still
  hold rank (they are dangling).
- rank vector initialized to ``e1 = (1, 0, ..., 0)`` (mr-pr-cpp.cpp:128).
- per iteration (mr-pr-cpp.cpp:130-177):
  ``sum_pr``/``dangling_pr`` computed over the *pre-normalization*
  current vector; old vector normalized to sum 1 (skipped on iteration
  0); ``one_Av = alpha * dangling_pr / n``; ``one_Iv = (1-alpha)/n``;
  ``new[i] = alpha * sum_{j->i} old[j]/outdeg[j] + one_Av + one_Iv``;
  L1 diff vs the normalized old vector; stop at diff <= convergence or
  max_iterations. Defaults alpha=0.85, convergence=1e-5,
  max_iterations=10000 (mr-pr-cpp.cpp:11-13).
- duplicate edges contribute multiply; self-loops count
  (the reference parser never dedups, mr-pr-cpp.cpp:89-108).

Scale design (100 TB stance):

- **No reverse-adjacency materialization.** The reference builds
  ``incoming[i]`` lists via MapReduce; at power-law skew a
  ``collect_list`` would OOM the hot keys. Contributions are
  aggregated directly with an algebraic ``sum`` (map-side partial
  aggregation is automatic), so skewed in-degree stays safe.
- **One parse.** One job materializes the projected edges and
  observes websize and the edge count in flight; nothing else reads
  the edge input.
- **``links`` laid out once.** From that one parse, the edges are
  hash-partitioned on ``src``, sorted within partitions, and given
  their source's out-degree by a window over the partitioned data (no
  aggregate, no join), then checkpointed as a plan leaf that records
  its partitioning and ordering. The vertex/degree relation is derived
  from it, and the parse is released.
- **Only contributions shuffle.** The rank vector is checkpointed
  hash-partitioned and sorted on ``id`` with the same partition count
  as ``links``, so neither ``pr ⋈ links`` nor ``pr ⟕ contribs`` needs
  an exchange: each iteration has exactly one Exchange (the partial
  sums of the contributions) and one Sort (the n aggregated sums).
  The checkpoint keeps the partitioning usable only while its ``id``
  is the rank vector's own attribute. A same-name alias (the optimizer
  drops it, so the recorded partitioning names the pre-alias
  attribute) or a view qualifier (a self-join re-instance then fails
  to rename the partitioning) makes Spark reshuffle the rank vector
  twice per iteration; ``tests/test_pagerank.py`` pins the plan.
- **Driver sees scalars only** — three aggregates per iteration
  (diff, sum, dangling-sum), observed on the checkpoint job, so each
  iteration is exactly one job; ranks never ``collect()``.
- **Lineage truncated every iteration** via ``localCheckpoint``,
  keeping plan analysis O(1) across thousands of iterations (Catalyst
  has no fixed-point operator; the loop lives in the driver,
  SURVEY.md §4.3). Each iteration's plan is a few DataFrame calls plus
  one ``selectExpr`` whose per-iteration scalars are exact DOUBLE
  literals.
"""

from __future__ import annotations

import logging
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ALPHA = 0.85  # mr-pr-cpp.cpp:11
CONVERGENCE = 1e-5  # mr-pr-cpp.cpp:12
MAX_ITERATIONS = 10000  # mr-pr-cpp.cpp:13
# The dense layout builds one row per id in 0..max(id). m edges touch
# at most 2m ids, so a websize beyond this many ids per edge means the
# ids are sparse labels, not the reference's dense page numbers.
MAX_IDS_PER_EDGE = 1000

_log = logging.getLogger(__name__)


class SparseIdsError(ValueError):
    """Vertex ids too sparse for the dense ``0..max(id)`` layout."""


def check_dense_ids(n: int, m: int) -> None:
    """Fail fast on inputs the dense vertex layout cannot serve: no
    vertices at all, or a websize ``n`` far beyond what ``m`` edges
    can reach (one edge ``0 4000000000`` would otherwise build a
    4e9-row vertex relation)."""
    if n <= 0:
        raise ValueError("empty graph")
    if n > MAX_IDS_PER_EDGE * max(m, 1):
        raise SparseIdsError(
            f"vertex ids too sparse for the dense 0..max(id) layout: "
            f"max id {n - 1} with {m} edges (limit {MAX_IDS_PER_EDGE} "
            f"ids per edge); relabel the vertices to dense ids first"
        )


def pagerank_oracle_sql(
    edges_sql: str,
    alpha: float = ALPHA,
    convergence: float = CONVERGENCE,
    max_iterations: int = MAX_ITERATIONS,
    round_digits: int = 8,
    personalize: list[int] | None = None,
    weighted: bool = False,
) -> str:
    """DuckDB oracle replaying the full :func:`pagerank` fixed point as
    a recursive CTE — iteration for iteration, scalar for scalar.

    The loop state is entirely derivable from the carried rank vector:
    ``sum_pr`` and ``dangling_pr`` (pre-normalization, like the
    reference mr-pr-cpp.cpp:132-138) are aggregates over the previous
    generation, and the L1 diff that gates the next round rides along
    as a column on every emitted row. Generations stop exactly when
    Spark's ``while diff > convergence and it < max_iterations`` does.

    Why exact hash equality is safe for an iterative float algorithm:
    the damped iteration is a contraction (factor ``alpha``), so the
    engines' summation-order noise does not compound — measured
    cross-engine divergence on the sf0.01 fixture is ~1e-18, while the
    closest rank to a round-8 boundary is ~1e-12 away and the closest
    L1 diff to the convergence threshold is 1.37x away. Every literal
    in the arithmetic is written with the same association order as
    the Spark expressions, and the base-case literals are cast to
    DOUBLE explicitly (DuckDB types bare ``1.0`` as DECIMAL, which
    would silently quantize the whole recursion).
    """
    a = repr(float(alpha))
    if personalize is None:
        init_case = "CASE WHEN id = 0 THEN 1.0 ELSE 0.0 END"
        redistribute = (
            f"+ {a} * s.dangling / (SELECT n FROM ws)\n"
            f"                        + (1.0 - {a}) / (SELECT n FROM ws)"
        )
    else:
        if not personalize:
            raise ValueError("personalize must name at least one vertex")
        # personalized teleport: dangling + (1-a) mass goes to the
        # source set, weight 1/|S| each — the literal is repr()'d once
        # so Spark and DuckDB compare bit-identical doubles
        ids = ", ".join(str(int(i)) for i in sorted(set(personalize)))
        tw = repr(1.0 / len(set(personalize)))
        tele = (
            f"CASE WHEN c.id IN ({ids}) THEN CAST({tw} AS DOUBLE) "
            f"ELSE CAST(0.0 AS DOUBLE) END"
        )
        init_case = f"CASE WHEN id IN ({ids}) THEN {tw} ELSE 0.0 END"
        redistribute = (
            f"+ {a} * s.dangling * {tele}\n"
            f"                        + (1.0 - {a}) * {tele}"
        )
    deg_agg = "sum(w)" if weighted else "count(*)"
    contrib_expr = "c.rank * e.w / v.deg" if weighted else "c.rank / v.deg"
    return f"""
      WITH RECURSIVE
      ed AS ({edges_sql}),
      ws AS (SELECT greatest(max(src), max(dst)) + 1 AS n FROM ed),
      deg AS (SELECT src AS id, CAST({deg_agg} AS DOUBLE) AS deg
              FROM ed GROUP BY src),
      verts AS (SELECT u.id, coalesce(d.deg, 0.0) AS deg
                FROM (SELECT unnest(generate_series(0, (SELECT n FROM ws) - 1))
                             AS id) u
                LEFT JOIN deg d ON u.id = d.id),
      t(it, id, rank, diff) AS (
        SELECT 0, id, CAST({init_case} AS DOUBLE),
               CAST(1e308 AS DOUBLE) FROM verts
        UNION ALL
        (WITH cur AS (SELECT it, id, rank FROM t
                      WHERE diff > {convergence!r} AND it < {max_iterations}),
         st AS (SELECT sum(c.rank) AS sum_pr,
                       sum(CASE WHEN v.deg = 0 THEN c.rank ELSE 0.0 END)
                         AS dangling
                FROM cur c JOIN verts v ON c.id = v.id),
         contrib AS (SELECT e.dst AS id, sum({contrib_expr}) AS h_raw
                     FROM cur c
                     JOIN ed e ON c.id = e.src
                     JOIN verts v ON c.id = v.id
                     GROUP BY e.dst),
         nxt AS (SELECT c.it + 1 AS it, c.id,
                        {a} * coalesce(h.h_raw, CAST(0.0 AS DOUBLE))
                          / (CASE WHEN c.it = 0 THEN 1.0 ELSE s.sum_pr END)
                        {redistribute} AS rank,
                        c.rank / (CASE WHEN c.it = 0 THEN 1.0 ELSE s.sum_pr END)
                          AS old_rank
                 FROM cur c CROSS JOIN st s LEFT JOIN contrib h ON c.id = h.id),
         dl AS (SELECT sum(abs(rank - old_rank)) AS d FROM nxt)
         SELECT it, id, rank, (SELECT d FROM dl) FROM nxt)
      )
      SELECT id, round(rank, {round_digits}) AS rank
      FROM t WHERE it = (SELECT max(it) FROM t)"""


def out_degrees(edges: DataFrame) -> DataFrame:
    """out-degree per src page (reference ``num_outgoing``,
    mr-pr-cpp.cpp:202-208). Returns (src, deg)."""
    return edges.groupBy("src").agg(F.count("*").alias("deg"))


def websize(edges: DataFrame) -> int:
    """``max(max(src), max(dst)) + 1`` (mr-pr-cpp.cpp:203-210)."""
    row = edges.agg(
        (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n")
    ).first()
    return int(row["n"]) if row["n"] is not None else 0


def reverse_adjacency(edges: DataFrame, sort: bool = True) -> DataFrame:
    """Reverse adjacency list: (dst, in_links ARRAY<BIGINT>).

    The exact semantic core of the reference's MapReduce job: map
    reverses each edge to (dst, src) (mr-pr-cpp.cpp:59-69), shuffle
    groups by dst, reduce re-emits the group (mr-pr-cpp.cpp:71-79 /
    collate+collect in mr-pr-mpi-base.cpp:143-146,202-203).

    NOTE: materializing per-vertex lists is inherently skew-fragile —
    the PageRank loop deliberately never calls this (see module doc);
    it exists for parity and for consumers that want the lists.
    """
    agg = F.collect_list("src")
    if sort:
        agg = F.array_sort(agg)
    return edges.groupBy("dst").agg(agg.alias("in_links"))


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id BIGINT, rank DOUBLE)
    iterations: int
    diff: float  # final L1 delta
    num_vertices: int
    diffs: list[float] = field(default_factory=list)


def pagerank(
    edges: DataFrame,
    alpha: float = ALPHA,
    convergence: float = CONVERGENCE,
    max_iterations: int = MAX_ITERATIONS,
    num_vertices: int | None = None,
    personalize: list[int] | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run the reference PageRank fixed point; returns distributed ranks.

    ``personalize``: teleport to this vertex set instead of uniformly —
    personalized PageRank (beyond the reference, which is global-only:
    mr-pr-cpp.cpp:110-180). Init mass, the damping teleport AND the
    dangling redistribution all go to the set, weight 1/|S| each; the
    global path's expressions are untouched when None. The set is
    embedded as an ``IN`` literal — the common small-seed-set case;
    a million-vertex seed set would want a broadcast-join variant.

    ``weight_col``: weighted variant (beyond the reference): a source's
    degree is its total outgoing weight and contributions scale by
    ``w / deg``. Weights must be positive — a zero-weight-sum source
    would divide by zero exactly like a phantom dangling vertex."""
    spark = edges.sparkSession
    cols = [
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    parsed = edges.select(*cols).persist()
    try:
        # the one parse: materialize the projection, observe websize
        # and the edge count on the same job
        size = Observation("pagerank_edges")
        parsed.observe(
            size,
            (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n"),
            F.count(F.lit(1)).alias("m"),
        ).write.format("noop").mode("overwrite").save()
        m = int(size.get["m"])
        n = num_vertices if num_vertices is not None else int(size.get["n"] or 0)
        check_dense_ids(n, m)
        if personalize is not None:
            seeds = set(personalize)
            if not seeds:
                raise ValueError("personalize must name at least one vertex")
            bad = [i for i in seeds if not (0 <= int(i) < n)]
            if bad:
                # an all-out-of-range set would silently converge to
                # the zero vector in one iteration — fail loudly instead
                raise ValueError(
                    f"personalize ids outside [0, {n}): {sorted(bad)[:5]}"
                )
        with _loop_scope(spark, m) as parts:
            links = _layout_links(parsed, parts)
            parsed.unpersist()
            return _pagerank_loop(
                links, n, parts, alpha, convergence, max_iterations,
                personalize,
            )
    finally:
        parsed.unpersist()


@contextmanager
def _loop_scope(spark, m: int):
    """Size the loop's shuffle to the graph, not the session default:
    every iteration is the same join+agg+join, so a partition count
    tuned once pays off every iteration. The session conf (cluster
    capacity) is the ceiling; ~250k edges per partition the target; 4
    the floor. AQE is disabled inside the loop — the per-iteration
    plans are tiny and fixed-shape, and AQE's per-stage re-planning
    latency dominates them (measured ~30% of iteration wall time at
    test scale). Yields the partition count; restores both settings."""
    conf = spark.conf
    saved = {
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    parts = max(4, min(int(saved["spark.sql.shuffle.partitions"]), m // 250_000 + 1))
    conf.set("spark.sql.shuffle.partitions", str(parts))
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield parts
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def _layout_links(parsed: DataFrame, parts: int) -> DataFrame:
    """(src, dst[, w], src_deg): the edges hash-partitioned on ``src``
    into ``parts`` partitions, sorted within them, each carrying its
    source's out-degree (edge count, or total weight when ``parsed``
    has a ``w`` column), checkpointed as a plan leaf."""
    weighted = "w" in parsed.columns
    by_src = Window.partitionBy("src")
    deg = F.sum("w") if weighted else F.count(F.lit(1))
    return (
        parsed.repartition(parts, "src")
        .sortWithinPartitions("src")
        .select("*", deg.over(by_src).alias("src_deg"))
        .localCheckpoint()
    )


def _initial_ranks(links: DataFrame, n: int, parts: int, init_rank: str) -> DataFrame:
    """(id, deg, rank) over the dense ids ``0..n-1``, partitioned like
    ``links`` and sorted on ``id``; ``deg`` is 0 for dangling ids."""
    degs = links.groupBy(F.col("src").alias("id")).agg(F.max("src_deg").alias("deg"))
    return (
        links.sparkSession.range(n)
        .repartition(parts, "id")
        .hint("merge")
        .join(degs, "id", "left")
        .selectExpr("id", "coalesce(deg, 0) AS deg", f"{init_rank} AS rank")
    )


def _stepper(links: DataFrame):
    """``step(pr, rank_exprs)``: one iteration's plan, h_raw[i] =
    sum_{j -> i} of each source's contribution, merged into the rank
    vector by ``rank_exprs``.

    Both joins are sort-merge joins over inputs already partitioned and
    sorted on their key, so the partial sums are the only exchange.
    The outer join and ``selectExpr`` keep ``pr``'s own ``id``
    attribute as the output key (see the module docstring). The
    columns are built once per run: constructing them per iteration
    costs as much as planning the iteration."""
    contrib = "rank * w / src_deg" if "w" in links.columns else "rank / src_deg"
    on = F.col("id") == F.col("src")
    dst = F.col("dst").alias("id")
    h_raw = F.expr(f"sum({contrib})").alias("h_raw")

    def step(pr: DataFrame, rank_exprs: list[str]) -> DataFrame:
        p = pr.hint("merge")
        contribs = p.join(links, on).groupBy(dst).agg(h_raw)
        return p.join(contribs, "id", "left").selectExpr(*rank_exprs)

    return step


def _double(x: float) -> str:
    """``x`` as an exact Spark SQL DOUBLE literal: ``repr`` round-trips
    and the ``D`` suffix keeps it out of DECIMAL (a bare ``0.85`` is
    DECIMAL in Spark SQL)."""
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _rank_exprs(alpha: float, n: int, personalize: list[int] | None) -> tuple[str, list[str]]:
    """The initial rank and the ``selectExpr`` list of one iteration
    over ``pr ⟕ contribs``: (id, deg, old_rank, rank), with ``{norm}``
    and ``{one_Av}`` left for each iteration's scalars.

    Every expression keeps the association order of the oracle's SQL
    (pagerank_oracle_sql), literal for literal: h / norm, then the
    redistribution terms added left to right."""
    h = f"{_double(alpha)} * coalesce(h_raw, 0.0D) / {{norm}}"
    if personalize is None:
        init_rank = "CASE WHEN id = 0 THEN 1.0D ELSE 0.0D END"
        new_rank = f"{h} + {{one_Av}} + {_double((1.0 - alpha) / n)}"
    else:
        # dangling + teleport mass both flow to the seed set, 1/|S| each
        ids = ", ".join(str(int(i)) for i in sorted(set(personalize)))
        tele_w = 1.0 / len(set(personalize))
        init_rank = f"CASE WHEN id IN ({ids}) THEN {_double(tele_w)} ELSE 0.0D END"
        new_rank = (
            f"{h} + {{one_Av}} * {init_rank}"
            f" + {_double(1.0 - alpha)} * {init_rank}"
        )
    return init_rank, ["id", "deg", "rank / {norm} AS old_rank", f"{new_rank} AS rank"]


def _pagerank_loop(
    links: DataFrame,
    n: int,
    parts: int,
    alpha: float,
    convergence: float,
    max_iterations: int,
    personalize: list[int] | None = None,
) -> PageRankResult:
    init_rank, rank_exprs = _rank_exprs(alpha, n, personalize)
    step = _stepper(links)
    dangling = F.expr("sum(CASE WHEN deg = 0 THEN rank ELSE 0.0D END)").alias("d")
    stats = (
        F.expr("sum(abs(rank - old_rank))").alias("diff"),
        F.expr("sum(rank)").alias("s"),
        dangling,
    )

    # init e1 (mr-pr-cpp.cpp:128), or uniform over the seed set; its
    # dangling mass rides the checkpoint job as an Observation
    init = Observation("pr_init")
    pr = (
        _initial_ranks(links, n, parts, init_rank)
        .observe(init, dangling)
        .localCheckpoint()
    )
    sum_pr, dangling_pr = 1.0, float(init.get["d"])

    diff = float("inf")
    diffs: list[float] = []
    iterations = 0
    while diff > convergence and iterations < max_iterations:
        start = time.perf_counter()
        # Iteration 0 uses the raw vector; later iterations normalize
        # the previous vector to sum 1 (mr-pr-cpp.cpp:139-147). The
        # dangling term uses the PRE-normalization mass, exactly as the
        # reference does (mr-pr-cpp.cpp:132-138,155); the personalized
        # variant spreads it over the seed set instead of over n.
        norm = 1.0 if iterations == 0 else sum_pr
        one_Av = alpha * dangling_pr
        if personalize is None:
            one_Av /= n
        scalars = {"norm": _double(norm), "one_Av": _double(one_Av)}
        nxt = step(pr, [e.format(**scalars) for e in rank_exprs])
        # The stats ride the checkpoint job, so each iteration runs
        # exactly ONE job: the eager localCheckpoint materializes the
        # new vector (truncating lineage) while the convergence
        # scalars are collected in flight.
        obs = Observation(f"pr_iter_{iterations}")
        pr = nxt.observe(obs, *stats).drop("old_rank").localCheckpoint()
        row = obs.get
        diff, sum_pr, dangling_pr = float(row["diff"]), float(row["s"]), float(row["d"])
        diffs.append(diff)
        iterations += 1
        _log.debug(
            "pagerank iteration %d: L1 diff %.6e, %.3f s",
            iterations, diff, time.perf_counter() - start,
        )

    return PageRankResult(
        ranks=pr.select("id", "rank"),
        iterations=iterations,
        diff=diff,
        num_vertices=n,
        diffs=diffs,
    )
