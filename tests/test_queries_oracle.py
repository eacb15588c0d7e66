"""Differential test: every registered oracle-checkable query must match
DuckDB exactly at sf0.01 — the same bar as the driver's t2 gate."""

from __future__ import annotations

import pytest

from python_cdc_spark.queries import QUERIES
from tests.conftest import SF_CORRECT
from tests.oracle import assert_matches_oracle

ORACLE_CHECKED = [n for n, s in QUERIES.items() if s.oracle is not None]
ROWS_ONLY = [n for n, s in QUERIES.items() if s.oracle is None]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_CORRECT)
    assert_matches_oracle(df, duck, spec.oracle, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_CORRECT)
    n = df.count()
    assert n >= 0


#: Spark jobs of one warm invocation of each CDC-maintained query at
#: sf0.01 (ROADMAP item 4: the per-refresh job budget; 35, 25, 25 and
#: 20 before the refreshes' probes were folded away)
MAINTAINED_JOBS = {
    "rollup_cdc_maintained": 15,
    "bm25_index_cdc_maintained": 15,
    "dedup_index_cdc_maintained": 15,
    "ann_index_cdc_maintained": 12,
}


@pytest.mark.parametrize("name", list(MAINTAINED_JOBS))
def test_maintained_query_job_receipt(spark, name):
    """Job receipt for one warm invocation of a CDC-maintained query.
    Every invocation still folds its delta (the rollup rebuilds its cube
    from the pre-delta state and refreshes it; the indexes fold into a
    copy of their cached base), so the count covers the fold's probes,
    checkpoints and writes, and the jobs of ``run_concurrent`` workers,
    which inherit the job group. A re-added probe, checkpoint or write
    shows up here."""
    sc = spark.sparkContext
    run = QUERIES[name].fn
    run(spark, SF_CORRECT).collect()  # cold: cached bases and schemas
    group = f"maintained_receipt_{name}"  # the tracker keeps finished groups
    sc.setJobGroup(group, group)
    try:
        rows = run(spark, SF_CORRECT).collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == MAINTAINED_JOBS[name]


def test_registry_count_matches_coverage_doc():
    """COVERAGE.md is the audit trail — its registry total must track
    the actual registry (it went stale once: said 99 at 108)."""
    import os
    import re

    doc = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    ).read()
    m = re.search(r"Registry totals: (\d+) queries", doc)
    assert m, "COVERAGE.md lost its registry-totals line"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md says {m.group(1)} queries; registry has {len(QUERIES)}"
    )
