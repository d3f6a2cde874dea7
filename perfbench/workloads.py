"""The benchmark's workloads: which operations one pass runs, and how
each operation's output is checked.

A pass is a list of ``Op``s. ``build`` is the call into the package's
plan layer (``QUERIES[name](spark, sf_dir)``, ``NetflixPipeline.run``,
``netflix_queries.*``), which includes any jobs the plan runs eagerly;
``execute`` is the action that reaches Spark execution (``collect``,
``count``) and returns the rows to check. The workload seed only
shuffles the order of the operations within a pass, and for
``netflix_etl`` also drives the catalog generator.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import gen_netflix

# Short relational/event entries, where plan build and job dispatch
# rather than kernels set the time, plus the structured-streaming form of
# one of them, whose micro-batches run inside plan build.
# revenue_by_nation is not among them: on these tables it gives a wrong
# answer (perfbench/README.md, "Known defect").
RELATIONAL_DISPATCH = [
    "pricing_summary", "big_spender_segments", "orders_without_lineitems",
    "user_sessions", "hourly_event_stats", "stream_hourly_event_stats",
]
QUERY_WORKLOADS = {"relational_dispatch": RELATIONAL_DISPATCH}
NETFLIX = "netflix_etl"
WORKLOADS = [*QUERY_WORKLOADS, NETFLIX]


def canon_rows(rows: list[tuple], cols: list[str] | None = None) -> list[tuple]:
    """Rows canonicalised the way the repo's DuckDB-oracle comparison does
    it (``tests/oracle_harness.py``: columns sorted by name, values
    normalised, rows sorted); without ``cols``, columns keep their order."""
    from oracle_harness import _canon  # tests/ is on sys.path (run.py)

    if cols is None:
        cols = [f"{i:04d}" for i in range(len(rows[0]) if rows else 0)]
    return _canon(rows, cols)


def fingerprint(rows: list[tuple], cols: list[str]) -> dict:
    """Row count plus SHA-256 of the sorted column names and canonical
    rows: a Spark result and a DuckDB result of the same query match."""
    body = repr((sorted(cols), canon_rows(rows, cols)))
    return {"rows": len(rows), "sha256": hashlib.sha256(body.encode()).hexdigest()}


@dataclass
class Op:
    name: str
    layer: str  # "query" | "etl" | "analytics"
    build: Callable[[], Any]
    execute: Callable[[Any], tuple[list[tuple], list[str]]]
    check: Callable[[list[tuple], list[str]], bool]


def _collect(df) -> tuple[list[tuple], list[str]]:
    return [tuple(r) for r in df.collect()], list(df.columns)


class QueryWorkload:
    """Declared inventory entries, checked against committed fingerprints."""

    def __init__(self, spark, names: list[str], sf_dir: str, expected: dict) -> None:
        from data_engineer_task_spark.plans.analytics import QUERIES

        def op(name: str) -> Op:
            fn = QUERIES[name]
            want = expected.get(name, {})
            return Op(
                name, "query",
                build=lambda: fn(spark, sf_dir),
                execute=_collect,
                check=lambda rows, cols: fingerprint(rows, cols)["sha256"] == want.get("sha256"),
            )

        self.ops = [op(n) for n in names]

    def pass_ops(self, rng: random.Random, k: int) -> list[Op]:
        ops = list(self.ops)
        rng.shuffle(ops)
        return ops

    def end_pass(self, k: int) -> None:
        pass


class NetflixWorkload:
    """Seeded catalog CSV -> ``NetflixPipeline.run`` into a fresh
    warehouse -> table read-backs and the ten reference analytics."""

    def __init__(self, spark, work: str, seed: int, n_rows: int) -> None:
        os.makedirs(work, exist_ok=True)
        self.spark = spark
        self.work = work
        self.csv = os.path.join(work, f"catalog_seed{seed}.csv")
        self.expected = gen_netflix.expected(gen_netflix.generate(self.csv, n_rows, seed))
        self.expected["etl_run"] = [(True,)]

    def _wh(self, k: int) -> str:
        return os.path.join(self.work, f"warehouse_pass{k}")

    def pass_ops(self, rng: random.Random, k: int) -> list[Op]:
        from data_engineer_task_spark.plans import netflix_queries as q
        from data_engineer_task_spark.plans.netflix import NetflixPipeline

        pipe = NetflixPipeline(self.spark, self._wh(k))
        t = pipe.table
        person = gen_netflix.PERSON

        def etl(_):
            star = pipe.run(self.csv)
            return [(star is not None,)], ["ingested"]

        def op(name: str, layer: str, build, execute=_collect) -> Op:
            want = canon_rows(self.expected[name])
            return Op(name, layer, build, execute,
                      check=lambda rows, cols: canon_rows(rows) == want)

        def count(df):
            return [(df.count(),)], ["count"]

        reads = [
            op(f"count_{name}", "analytics", lambda name=name: t(name), count)
            for name in ("shows", "personnel", "movie_crew", "listings")
        ] + [
            op("shows_without_crew", "analytics",
               lambda: q.shows_without_crew(t("shows"), t("movie_crew"))),
            op("shows_without_listings", "analytics",
               lambda: q.shows_without_listings(t("shows"), t("listings"))),
            op("longest_addition_gap", "analytics", lambda: q.longest_addition_gap(t("shows"))),
            op("busiest_month", "analytics", lambda: q.busiest_month(t("shows"))),
            op("best_tv_show_growth_year", "analytics",
               lambda: q.best_tv_show_growth_year(t("shows"))),
            op("shows_featuring_count", "analytics",
               lambda: q.shows_featuring(t("personnel"), t("movie_crew"), person), count),
            op("frequent_costars", "analytics",
               lambda: q.frequent_costars(t("personnel"), t("movie_crew"), person)),
        ] + [
            op(f"most_common_first_name_{g}", "analytics",
               lambda g=g: q.most_common_first_name(t("personnel"), t("movie_crew"), g))
            for g in ("female", "male", "unknown")
        ]
        rng.shuffle(reads)
        return [op("etl_run", "etl", lambda: None, etl)] + reads

    def end_pass(self, k: int) -> None:
        shutil.rmtree(self._wh(k), ignore_errors=True)
