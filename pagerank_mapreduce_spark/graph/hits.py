"""HITS (hubs & authorities) over a directed edge DataFrame.

Beyond the reference (which is PageRank-only, mr-pr-cpp.cpp:110-180),
but the natural sibling capability on the same data model: the
Kleinberg power iteration over the same ``(src, dst)`` edge list the
PageRank pipeline consumes, with the same dense-vertex conventions
(ids ``0..n-1``, ``n = websize``, duplicate edges contribute
multiply — mr-pr-cpp.cpp:89-108, 203-210).

Per iteration (fixed count — the deterministic regime):

- ``ar[d] = sum_{s->d} hub[s]`` (authority mass, un-normalized)
- ``hr[s] = sum_{s->d} ar[d]``; ``hub' = hr / sum(hr)``

i.e. both half-steps run inside ONE fused job; only the hub vector is
re-normalized per iteration (L1 — keeps magnitudes bounded without a
cross-engine ``sqrt``), with the normalizer riding the checkpoint job
as an Observation and applied as a lazy scalar division — the
authority normalization cancels inside the fused step and is applied
once, at the end, from its own observed sum. The L1 convention is
rank-identical to the textbook L2 one.

Scale design (100 TB stance) — mirrors graph/pagerank.py:

- **No adjacency lists.** Both half-steps are algebraic ``sum``
  aggregates (map-side partial agg; AQE-safe under in-degree skew) —
  never a ``collect_list``.
- **Edges cached twice, each copy pre-partitioned on its half-step's
  join key** (``src`` for the authority step, ``dst`` for the hub
  step): only the O(n) score vector shuffles per iteration, the O(m)
  edge relation never moves after the one-time layout. The 2x edge
  memory is the explicit price for zero edge shuffles in-loop.
- **One job per iteration** (plus one final authority job): the fused
  a-then-h plan materializes via ``localCheckpoint`` with the L1
  normalizer observed in-flight; the driver sees scalars only.
- **Loop confs**: AQE off + shuffle partitions sized to the graph
  while iterating, restored on exit — the measured-better regime for
  fixed-shape iterative plans (the round-6 _loop_confs lesson; the
  first formulation of this loop ran 40 un-tuned jobs and was 10x
  slower at sf0.1 than the pagerank loop it sits next to).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pagerank_mapreduce_spark.graph.pagerank import check_dense_ids

HITS_ITERATIONS = 20


def hits_oracle_sql(
    edges_sql: str,
    iterations: int = HITS_ITERATIONS,
    round_digits: int = 8,
) -> str:
    """DuckDB oracle replaying :func:`hits` generation for generation
    with the SAME association order: the carried hub vector is the
    normalized one (each element divided before the next generation's
    sums), ``hr`` is summed un-normalized, and the authority vector is
    derived once from the final hub and normalized by its own sum.

    Why exact hash equality is safe for an iterative float algorithm:
    every generation re-normalizes to L1 mass 1, so summation-order
    noise between engines (~1e-16 relative) cannot compound beyond
    ~``iterations``x — absolute error ~1e-18 on scores of magnitude
    ~1/n, while the round-8 quantum is 1e-8. Base-case literals are
    cast to DOUBLE explicitly (bare ``1.0`` is DECIMAL in DuckDB).
    """
    return f"""
      WITH RECURSIVE
      ed AS ({edges_sql}),
      ws AS (SELECT greatest(max(src), max(dst)) + 1 AS n FROM ed),
      verts AS (SELECT unnest(generate_series(0, (SELECT n FROM ws) - 1))
                       AS id),
      t(it, id, hub) AS (
        SELECT 0, id, CAST(1.0 AS DOUBLE) FROM verts
        UNION ALL
        (WITH cur AS (SELECT it, id, hub FROM t WHERE it < {iterations}),
         ar AS (SELECT v.id, coalesce(s.x, CAST(0.0 AS DOUBLE)) AS a_raw
                FROM verts v LEFT JOIN
                  (SELECT e.dst AS id, sum(c.hub) AS x
                   FROM cur c JOIN ed e ON c.id = e.src GROUP BY e.dst) s
                ON v.id = s.id),
         hr AS (SELECT v.id, coalesce(s.x, CAST(0.0 AS DOUBLE)) AS h_raw
                FROM verts v LEFT JOIN
                  (SELECT e.src AS id, sum(a.a_raw) AS x
                   FROM ar a JOIN ed e ON a.id = e.dst GROUP BY e.src) s
                ON v.id = s.id)
         SELECT c.it + 1, h.id,
                h.h_raw / (SELECT sum(h_raw) FROM hr) AS hub
         FROM cur c JOIN hr h ON c.id = h.id)
      ),
      fin AS (SELECT id, hub FROM t WHERE it = {iterations}),
      arf AS (SELECT v.id, coalesce(s.x, CAST(0.0 AS DOUBLE)) AS a_raw
              FROM verts v LEFT JOIN
                (SELECT e.dst AS id, sum(c.hub) AS x
                 FROM fin c JOIN ed e ON c.id = e.src GROUP BY e.dst) s
              ON v.id = s.id)
      SELECT f.id, round(f.hub, {round_digits}) AS hub,
             round(a.a_raw / (SELECT sum(a_raw) FROM arf),
                   {round_digits}) AS auth
      FROM fin f JOIN arf a ON f.id = a.id"""


def hits(
    edges: DataFrame,
    iterations: int = HITS_ITERATIONS,
    num_vertices: int | None = None,
) -> DataFrame:
    """Run ``iterations`` full HITS rounds; returns (id, hub, auth)
    for every vertex in ``0..n-1`` (dangling / unreferenced vertices
    hold score 0 after the first round, like PageRank's conventions).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    spark = edges.sparkSession
    # websize + loop-sizing count fused into ONE aggregate job (the
    # graph/pagerank.py pre-loop fusion; values unchanged)
    if num_vertices is not None:
        n = num_vertices
        m = edges.count()
    else:
        _row = edges.agg(
            (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n"),
            F.count(F.lit(1)).alias("m"),
        ).first()
        n = int(_row["n"]) if _row["n"] is not None else 0
        m = int(_row["m"])
    check_dense_ids(n, m)

    conf = spark.conf
    saved = {
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        loop_partitions = max(
            4, min(int(saved["spark.sql.shuffle.partitions"]), m // 250_000 + 1)
        )
        conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
        conf.set("spark.sql.adaptive.enabled", "false")
        return _hits_loop(spark, edges, n, iterations)
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def _hits_loop(spark, edges: DataFrame, n: int, iterations: int) -> DataFrame:
    # One cached copy per half-step, pre-partitioned on that step's
    # join key — the vector (O(n)) shuffles per iteration, the edges
    # (O(m)) never do after this layout.
    by_src = edges.select("src", "dst").repartition("src").persist()
    by_dst = edges.select("src", "dst").repartition("dst").persist()

    # The loop works on the SUPPORT only (hub lives on src vertices,
    # auth on dst vertices): vertices outside a sum's support hold
    # exact 0.0, and adding explicit zero terms changes no float sum,
    # so the dense view the oracle computes is reconstructed ONCE at
    # the end instead of via two dense left-joins per iteration.
    def a_step(hub: DataFrame) -> DataFrame:
        """ar[d] = sum over in-edges of hub[s] (dst-support only)."""
        return (
            hub.alias("h")
            .join(by_src.alias("e"), F.col("h.id") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("id"))
            .agg(F.sum(F.col("h.hub")).alias("a_raw"))
        )

    hub = (
        spark.range(n)
        .select(F.col("id").cast("bigint").alias("id"), F.lit(1.0).alias("hub"))
    )
    try:
        for it in range(iterations):
            # fused a-then-h plan: ONE checkpoint job, normalizer
            # observed in-flight, division applied lazily below
            a = a_step(hub)
            h = (
                a.alias("a")
                .join(by_dst.alias("e"), F.col("a.id") == F.col("e.dst"))
                .groupBy(F.col("e.src").alias("id"))
                .agg(F.sum(F.col("a.a_raw")).alias("h_raw"))
            )
            obs = Observation(f"hits_{it}")
            h = h.observe(obs, F.sum("h_raw").alias("s")).localCheckpoint()
            raw = obs.get["s"]
            # None: empty support relation (sum over zero rows);
            # 0.0 is impossible with positive masses but guarded too —
            # either way normalizing would NaN the whole vector
            if raw is None or float(raw) == 0.0:
                raise ValueError("graph has no edges")
            sh = float(raw)
            hub = h.select("id", (F.col("h_raw") / F.lit(sh)).alias("hub"))

        # final authority vector: one extra job from the final hub
        a = a_step(hub)
        obs_a = Observation("hits_auth")
        a = a.observe(obs_a, F.sum("a_raw").alias("s")).localCheckpoint()
        sa = float(obs_a.get["s"])
        auth = a.select("id", (F.col("a_raw") / F.lit(sa)).alias("auth"))
    finally:
        by_src.unpersist()
        by_dst.unpersist()
    # densify: every vertex 0..n-1 appears, zeros outside each support
    verts = spark.range(n).select(F.col("id").cast("bigint").alias("id"))
    return (
        verts.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )
