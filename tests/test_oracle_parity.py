"""Local mirror of the driver's correctness gate: run every catalog
query on Spark AND its DuckDB oracle, compare row count + values
(order-insensitive, columns sorted by name). Exact equality is
required for non-float values; floats must match to 1e-9 (catalog
queries round explicitly so engine summation order cannot leak into
the driver's value hash)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from pagerank_mapreduce_spark.queries import CATALOG
from pagerank_mapreduce_spark.sources.tables import TABLE_NAMES

ORACLE_NAMES = [n for n, s in CATALOG.items() if s.oracle is not None]
ROWS_ONLY_NAMES = [n for n, s in CATALOG.items() if s.oracle is None]

# The parity gate is the suite's single largest file; the shard
# runner (tools/run_tests.sh) splits it across processes by catalog
# position: ORACLE_PARITY_SHARD="i/n" keeps every n-th entry starting
# at i. Unset = the full gate (the default for plain pytest runs).
_SHARD = os.environ.get("ORACLE_PARITY_SHARD")
if _SHARD:
    _i, _n = (int(x) for x in _SHARD.split("/"))
    ORACLE_NAMES = ORACLE_NAMES[_i::_n]
    ROWS_ONLY_NAMES = ROWS_ONLY_NAMES[_i::_n]

# Default (unsharded, `-m "not slow"`) runs keep a deterministic FAST
# SAMPLE of the gate — every _FAST_EVERY-th catalog entry plus the
# flagship and the entries the current round touched — so the
# driver's serial verify completes inside its budget (r13 verdict
# item 6: the full gate needs the 9-way shard runner, which always
# runs everything via -m "slow or not slow"). The sample rotates
# automatically as the catalog grows (position-based), and the full
# gate remains the committing bar.
_FAST_EVERY = 6
_ALWAYS_FAST = {
    "pagerank",
    "graph_ppr",
    "graph_pagerank_weighted",
    "text_textrank",
    "graph_betweenness",
    "graph_harmonic",
    "graph_louvain_full",
    "text_word_communities",
    "text_textrank_phrases",
    "sim_ivf_kmeans_topk",
    "sim_ivf_lloyd_topk",
    "sim_pq_spread_topk",
    "sim_ivf_knn_join",
}


def _sampled(names, every=_FAST_EVERY, always=_ALWAYS_FAST):
    return [
        pytest.param(
            n,
            marks=()
            if (i % every == 0 or n in always)
            else (pytest.mark.slow,),
        )
        for i, n in enumerate(names)
    ]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _key(row):
    return tuple(
        (x is None, "" if x is None else str(type(x)), str(x)) for x in row
    )


def assert_frames_match(name, spark_rows, duck_rows, spark_cols, duck_cols):
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    cols = sorted(spark_cols)
    s_idx = [spark_cols.index(c) for c in cols]
    d_idx = [duck_cols.index(c) for c in cols]
    s_rows = sorted(
        [tuple(_norm(r[i]) for i in s_idx) for r in spark_rows], key=_key
    )
    d_rows = sorted(
        [tuple(_norm(r[i]) for i in d_idx) for r in duck_rows], key=_key
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        for c, (x, y) in enumerate(zip(a, b)):
            # Type-strict: the driver hashes values by their rendered
            # form, so int 26 vs float 26.0 is a MISMATCH there even
            # though 26 == 26.0 in Python (round-2 lesson: DuckDB's
            # ceil() returns DOUBLE where Spark's returns BIGINT).
            if x is not None and y is not None and type(x) is not type(y):
                ok = False
            elif isinstance(x, float) and isinstance(y, float):
                ok = (
                    math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                    or (math.isnan(x) and math.isnan(y))
                )
            else:
                ok = x == y
            assert ok, f"{name}: row {i} col {cols[c]}: spark={x!r} duck={y!r}"


@pytest.mark.parametrize("name", _sampled(ORACLE_NAMES))
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = CATALOG[name]
    sdf = spec.fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    rel = duck.execute(spec.oracle)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()
    assert_frames_match(name, spark_rows, duck_rows, sdf.columns, duck_cols)


@pytest.mark.skipif(
    bool(_SHARD) and not _SHARD.startswith("0/"),
    reason="whole-catalog check runs in parity shard 0 only",
)
def test_no_oracle_output_column_is_hugeint(sf_dir):
    # Round-9 hardening: DuckDB integer sums widen to HUGEINT (int128),
    # which Spark has no counterpart for — the driver's value hash then
    # mismatches even when every value is identical. This artifact
    # class produced the ONLY driver-red rows in rounds 7 (rel_q12) and
    # 8 (graph_lpa, graph_kcore). Compile every oracle (bind + plan, no
    # execution) and assert no output column is HUGEINT/UHUGEINT; the
    # fix at the source is always a CAST(... AS BIGINT).
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    offenders = {}
    for name, spec in CATALOG.items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        bad = [
            (c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if "HUGEINT" in str(ty).upper()
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"HUGEINT-typed oracle outputs: {offenders}"


@pytest.mark.parametrize("name", _sampled(ROWS_ONLY_NAMES, every=2))
def test_rows_only_queries_run(spark, sf_dir, name):
    sdf = CATALOG[name].fn(spark, sf_dir)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


@pytest.mark.skipif(
    bool(_SHARD) and not _SHARD.startswith("0/"),
    reason="whole-catalog check runs in parity shard 0 only",
)
def test_driver_window_rotation_is_fair():
    # The driver's correctness gate checks only the FIRST 50 catalog
    # entries, so the catalog rotates entries that have not yet
    # received the strongest check their current form supports to the
    # front each round (a hash verdict for oracle-backed entries, any
    # driver verdict for irreducibly rows-only ones). The rotation
    # must be a pure reordering by the DYNAMIC record: unchecked
    # entries first, checked entries after, NO exclusions. Round-10
    # fix: the expectation is derived from the same `_is_checked`
    # record that orders the catalog — the old version froze "rows-only
    # entries appear only in the unchecked head" as an invariant, which
    # went red the moment the driver's all-green CORRECTNESS_r09.json
    # drained the backlog to 0 and the window legally extended into
    # checked territory (the third artifact-frozen meta-test in three
    # rounds; see test_future_driver_artifact_cannot_redden_suite for
    # the class-level kill).
    from pagerank_mapreduce_spark.queries import _is_checked

    names = list(CATALOG)
    flags = [_is_checked(n) for n in names]
    # the order is a partition: once a checked entry appears, every
    # later entry is checked (unchecked-first, no interleaving)
    first_checked = flags.index(True) if True in flags else len(names)
    assert all(flags[first_checked:]), "checked/unchecked interleaved"
    assert not any(flags[:first_checked]), "checked entry in head"
    # no exclusions: every UNCHECKED rows-only entry sits in the head —
    # the rotation must not filter rows-only entries from the window.
    # (A CHECKED rows-only entry may legally appear anywhere the
    # checked tail reaches, including inside the first-50 window once
    # the backlog is drained.)
    for n in names:
        if not _is_checked(n):
            assert names.index(n) < first_checked, n
    # the rotation is a pure reordering: nothing dropped, nothing added
    assert sorted(names) == sorted(CATALOG)


def test_future_driver_artifact_cannot_redden_suite(tmp_path):
    # META-META GUARD (round-10, kills the whole class): three rounds
    # in a row a verification meta-test encoded "the current artifact
    # set" as an invariant and went red when the driver dropped the
    # next CORRECTNESS_r*.json (r7: q12 anchor; r8: anchor history;
    # r9: window fairness). This test simulates the WORST-case future
    # drop — an all-green CORRECTNESS_r99.json covering every catalog
    # entry, on top of every committed artifact — re-imports the
    # catalog against it in a subprocess (SPARK_GRAFT_RECORD_ROOT),
    # and re-runs every driver meta-test in this module. If any
    # meta-test's expectation is secretly frozen to today's artifacts,
    # this fails TODAY instead of at next round's judge time.
    import glob
    import json
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        shutil.copy(p, tmp_path / os.path.basename(p))
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    rows_only = {"rows_match": True, "schema_match": None,
                 "hash_match": None, "spark_rows": 1, "oracle_rows": None,
                 "err": "no_oracle"}
    future = {
        n: (ok if CATALOG[n].oracle is not None else rows_only)
        for n in CATALOG
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(future))
    env = dict(os.environ)
    env["SPARK_GRAFT_RECORD_ROOT"] = str(tmp_path)
    env.pop("ORACLE_PARITY_SHARD", None)
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "--no-header", "-p",
         "no:cacheprovider", __file__,
         "-k", "driver_window or driver_record"],
        env=env, cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, (
        "a driver meta-test froze today's artifact set as an invariant;"
        " it would go red on the next driver drop:\n"
        + proc.stdout[-4000:] + proc.stderr[-2000:]
    )


def test_catalog_registrations_are_distinct_functions():
    # Guard for the decorator-stacking class (round-10: a new @_q
    # block pasted between an existing entry's decorator and its def
    # registered TWO names on one function — ts_resample_hourly
    # silently ran the seasonal decomposition and failed parity only
    # in the full suite). Every catalog name must map to its own
    # function, and every function name must be unique.
    fns = [spec.fn for spec in CATALOG.values()]
    assert len(set(fns)) == len(fns), (
        "two catalog names share one function: "
        + str({
            n: s.fn.__name__ for n, s in CATALOG.items()
            if fns.count(s.fn) > 1
        })
    )
    names = [f.__name__ for f in fns]
    assert len(set(names)) == len(names)


def test_driver_record_derivation(tmp_path):
    # the checked-record is DERIVED from the committed CORRECTNESS
    # artifacts; pin the rules on synthetic files: crashed rows are
    # not verdicts, no_oracle rows are driver-only, invalidated hash
    # verdicts are suppressed until re-earned in a later round
    import json

    from pagerank_mapreduce_spark.queries import (
        _RECORD_INVALIDATED,
        _load_driver_record,
    )

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": "no_oracle"}
    crashed = {"rows_match": None, "schema_match": None,
               "hash_match": None, "err": "Traceback ..."}
    red = {"rows_match": True, "schema_match": True, "hash_match": False,
           "err": None}
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "green": ok, "rows_only_entry": rows_only, "broken": crashed,
        "mismatch": red, "sim_ivf_topk": ok,
    }))
    (tmp_path / "CORRECTNESS_r06.json").write_text(json.dumps({
        "sim_ivf_topk": ok,
    }))
    driver, hashed = _load_driver_record(str(tmp_path))
    assert driver == {"green", "rows_only_entry", "mismatch", "sim_ivf_topk"}
    # r02's sim_ivf_topk verdict is invalidated (<= round 4) but the
    # r06 re-check re-earns it; "mismatch" ran fine but never hashed
    assert ("sim_ivf_topk", 4) in _RECORD_INVALIDATED
    assert hashed == {"green", "sim_ivf_topk"}
    # only the r02 file: the invalidated verdict stays suppressed
    (tmp_path / "CORRECTNESS_r06.json").unlink()
    _, hashed2 = _load_driver_record(str(tmp_path))
    assert "sim_ivf_topk" not in hashed2
    # an empty/missing record dir is safe: everything rotates unchecked
    empty = tmp_path / "nothing"
    empty.mkdir()
    assert _load_driver_record(str(empty)) == (frozenset(), frozenset())


def test_driver_record_matches_committed_history():
    # TIME-STABLE anchors only (round-9 fix: the old version froze
    # r07's record as an invariant — "q12 not yet hash-checked" — and
    # went red the moment the driver's r08 artifact flipped q12 green).
    # Now we pin (a) monotone positives: verdicts earned in rounds long
    # past and never invalidated can only stay earned; (b) structural
    # facts: an entry with no oracle can run driver-green but can never
    # earn a hash verdict; (c) consistency: the import-time sets are
    # exactly a fresh derivation from the artifacts present, so a new
    # CORRECTNESS_r*.json landing in the tree can never desync them.
    from pagerank_mapreduce_spark.queries import (
        _DRIVER_CHECKED,
        _HASH_CHECKED,
        _load_driver_record,
    )

    # (a) monotone: hash-green since r02/r06, no invalidation entries
    assert "rel_q1_pricing" in _HASH_CHECKED
    assert "pagerank" in _HASH_CHECKED
    # (b) structural: irreducibly rows-only entries are driver-checked
    # but can never be hash-checked while they carry no oracle
    for n in ROWS_ONLY_NAMES:
        if n in _DRIVER_CHECKED:
            assert n not in _HASH_CHECKED, n
    # (c) import-time state == fresh derivation from the repo root
    driver_now, hashed_now = _load_driver_record()
    assert _DRIVER_CHECKED == driver_now
    assert _HASH_CHECKED == hashed_now
    assert _HASH_CHECKED <= _DRIVER_CHECKED
