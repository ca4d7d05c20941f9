"""Tests of the benchmark's own pieces.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json

import pytest

import checks
import eventlog
import inputs


def _sha(path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_rmat_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a.txt", tmp_path / "b.txt", tmp_path / "c.txt"
    inputs.write_edge_file(str(a), *inputs.rmat(10, 8, seed=7))
    inputs.write_edge_file(str(b), *inputs.rmat(10, 8, seed=7))
    inputs.write_edge_file(str(c), *inputs.rmat(10, 8, seed=8))
    assert _sha(a) == _sha(b)
    assert _sha(a) != _sha(c)
    lines = a.read_text().splitlines()
    assert len(lines) == 8 << 10
    assert all(0 <= int(v) < 1 << 10 for line in lines[:100] for v in line.split(" "))


def test_catalog_fixture_same_seed_same_table(tmp_path):
    import pyarrow.parquet as pq

    inputs.catalog_fixture(str(tmp_path / "a"), seed=3)
    inputs.catalog_fixture(str(tmp_path / "b"), seed=3)
    assert pq.read_table(tmp_path / "a" / "documents.parquet").equals(
        pq.read_table(tmp_path / "b" / "documents.parquet"))


@pytest.mark.parametrize(
    "intervals, covered",
    [
        ([], 0.0),
        ([(1, 3)], 2.0),
        ([(1, 3), (2, 4)], 3.0),  # overlapping jobs count once
        ([(1, 3), (2, 4), (6, 7)], 4.0),
        ([(-5, 1), (9, 12)], 2.0),  # clipped to the call's window
        ([(-5, -1), (11, 12)], 0.0),  # entirely outside
        ([(0, 10), (2, 3)], 10.0),
    ],
)
def test_driver_gap_arithmetic(intervals, covered):
    assert eventlog.covered(0.0, 10.0, intervals) == pytest.approx(covered)
    assert eventlog.driver_gap(0.0, 10.0, intervals) == pytest.approx(10.0 - covered)


def _task_end(stage, run_ms, shuffle_w=0, gc=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": shuffle_w}}}


def test_parse_attributes_stages_to_the_job_that_ran_them():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g#1"}},
        _task_end(0, 10, shuffle_w=5), _task_end(0, 20, shuffle_w=5), _task_end(1, 30),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 reuses stage 1's shuffle (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "g#1"}},
        _task_end(2, 40, gc=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1800,
         "Stage IDs": [3], "Properties": {}},
        _task_end(3, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1900},
    ]
    log = eventlog.parse(json.dumps(e) for e in events)
    jobs = log.group_jobs("g#1")
    assert [j.job_id for j in jobs] == [0, 1]
    totals, stages = log.totals(jobs)
    assert stages == 3 and totals.tasks == 4
    assert totals.executor_run_ms == 100 and totals.gc_ms == 7
    assert totals.shuffle_write_bytes == 10 and totals.shuffle_read_bytes == 10
    assert [(j.submit_ms, j.end_ms) for j in jobs] == [(1000, 1500), (1600, 1700)]


def test_parse_counts_a_query_of_known_shape(tmp_path):
    """One shuffle aggregation with AQE off: one job, a 4-task scan
    stage and a 3-task reduce stage."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", f"file://{tmp_path}")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("known", "known shape")
        rows = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 5).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 5
    finally:
        spark.stop()
    (log_file,) = [p for p in tmp_path.iterdir() if p.is_file()]
    log = eventlog.parse_file(str(log_file))
    jobs = log.group_jobs("known")
    totals, stages = log.totals(jobs)
    assert (len(jobs), stages, totals.tasks) == (1, 2, 7)
    assert totals.shuffle_write_bytes > 0
    assert totals.shuffle_read_bytes == totals.shuffle_write_bytes


def test_pagerank_errors_catch_drift_below_the_absolute_tolerance(tmp_path):
    import numpy as np

    expected = np.array([0.6, 0.39999, 1e-5])

    def written(name, ranks):
        out = tmp_path / name
        out.mkdir()
        lines = [f"{i} = {r:.12g}" for i, r in enumerate(ranks)] + ["s = 1"]
        (out / "part-00000").write_text("\n".join(lines) + "\n")
        return str(out)

    assert checks.pagerank_errors(written("same", expected), expected)[0] == []
    drifted = expected * np.array([1.0, 1.0, 1.01])  # |diff| = 1e-7 < 1e-4
    errs, err = checks.pagerank_errors(written("drifted", drifted), expected)
    assert err < 1e-4 and len(errs) == 1 and "/ oracle" in errs[0]
