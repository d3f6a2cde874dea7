from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_task_spark.session import get_spark  # noqa: E402

NETFLIX_CSV = "/root/reference/netflix_titles.csv"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_CORRECT = f"{TESTDATA}/sf0.01"


# Slow tier (r11, VERDICT r10 item 2): the full suite outgrew the
# driver's verify window (44 m measured r10; truncated runs report
# tests_ok:false with zero failures). The handful of long-tail
# soak/census/cross-surface tests below — ~18.5 of 36.5 minutes on the
# r11 sandbox — are skipped by DEFAULT so `pytest tests/ -x -q`
# finishes inside the window; set SPARK_GRAFT_SLOW_TESTS=1 to run
# everything (the full tier stays the pre-commit bar for changes that
# touch what a slow test pins — curation classify/run parity, the
# scale-soak machinery, the plan census, the semantic-dedup oracle).
# Keys are ``module.py::test_name[param]`` — the node id without its
# directory part — so a same-named test in another module still runs.
SLOW_TIER: dict[str, str] = {
    # classify()==run() row-parity across the full config grid — the
    # keepbest seam tests cover the same seam in-tier in ~12 s
    "test_curation.py::test_classify_matches_run": "612s: full classify/run config grid",
    "test_scale_patterns.py::test_scale_soak_audit_machinery": "198s: soak harness self-test",
    # this one entry's DuckDB oracle (recursive CC closure over the
    # semantic-dup graph) dominates the parity sweep; the entry itself
    # stays covered by tools/parity01.sh and the driver's own gate
    "test_oracle_parity.py::test_query_matches_oracle[embedding_semantic_dedup_survivors]":
        "172s: recursive-CTE oracle",
    # the every-entry plan census (builds all 250 physical plans); the
    # per-entry plan tests still run in-tier
    "test_plans_physical.py::test_no_cartesian_or_row_udfs_in_any_declared_entry":
        "124s: 250-plan census",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    for item in items:
        why = SLOW_TIER.get(item.nodeid.rsplit("/", 1)[-1])
        if why:
            item.add_marker(
                pytest.mark.skip(
                    reason=f"slow tier ({why}) — SPARK_GRAFT_SLOW_TESTS=1 runs it"
                )
            )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def in_job_group(spark):
    """``in_job_group(fn)`` -> (fn(), ids of the Spark jobs fn launched),
    counted through a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, set(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def netflix_csv() -> str:
    if not os.path.exists(NETFLIX_CSV):
        pytest.skip("reference CSV not present")
    return NETFLIX_CSV
