"""Reference-parity golden tests (SURVEY.md §2.2/§2.3 [verified] numbers).

Input is the reference's own CSV, read in place (read-only). The golden
numbers were derived independently (pandas replica + DuckDB, see
SURVEY.md) — NOT by running our engine, so these are genuine oracles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_task_spark.functions.gender import gender_lookup_df
from data_engineer_task_spark.plans import netflix_queries as q
from data_engineer_task_spark.plans.netflix import WAREHOUSE_SCHEMA, extract, transform


@pytest.fixture(scope="module")
def star(spark, netflix_csv):
    s = transform(extract(spark, netflix_csv), gender_lookup_df(spark))
    for df in (s.shows, s.personnel, s.movie_crew, s.listings):
        df.cache().count()
    yield s
    for df in (s.shows, s.personnel, s.movie_crew, s.listings):
        df.unpersist()


def test_extract_shape(spark, netflix_csv):
    raw = extract(spark, netflix_csv)
    assert (raw.count(), len(raw.columns)) == (7787, 12)  # ref task.py:256


def test_transform_cardinalities(star):
    assert (star.shows.count(), len(star.shows.columns)) == (7787, 9)  # ref task.py:262
    assert star.personnel.count() == 36924
    assert star.movie_crew.count() == 62070  # incl. 3 faithful dup rows
    assert star.listings.count() == 17071


def test_listings_untrimmed_quirk(star):
    # SURVEY §2.4 D1: 73 raw "distinct" genres (leading spaces kept)
    assert star.listings.select("listing").distinct().count() == 73
    assert (
        star.listings.select(F.trim("listing").alias("g")).distinct().count() == 42
    )


def test_movie_crew_split(star):
    by_type = {r["personnel_type"]: r["count"] for r in
               star.movie_crew.groupBy("personnel_type").count().collect()}
    assert by_type == {"cast": 55955, "director": 6115}


def test_q1_shows_without_crew(star):
    assert q.shows_without_crew(star.shows, star.movie_crew).collect()[0][0] == 299


def test_q2_shows_without_listings(star):
    assert q.shows_without_listings(star.shows, star.listings).collect()[0][0] == 0


def test_q6_longest_gap(star):
    row = q.longest_addition_gap(star.shows).collect()[0]
    assert (row["title"], row["gap"]) == ("Pioneers: First Women Filmmakers*", 93)


def test_q7_busiest_month(star):
    row = q.busiest_month(star.shows).collect()[0]
    assert (row["month"], row["n"]) == ("December", 833)


def test_q8_yoy_growth(star):
    row = q.best_tv_show_growth_year(star.shows).collect()[0]
    assert (row["release_year"], row["growth_pct"]) == (1990, 200.0)


def test_q9_woody_shows(star):
    assert q.shows_featuring(star.personnel, star.movie_crew, "Woody Harrelson").count() == 12


def test_q10_cohort_full(star):
    """EXACT Q10 cohort under the canonical snapshot (VERDICT r7 item
    2 — upgraded from the subset check the 544-name snapshot forced).
    The [verified] ungendered superset is the 10-name list ×2 (SURVEY
    §2.3 Q10); the gender filter ∈ (female, unknown) keeps exactly the
    three names the r8 vendored snapshot labels female (phoebe,
    emilia, thandie) and drops the seven labeled male (donald, bill,
    william, ron, paul, and — new labels — alden, joonas). A snapshot
    regression in ANY of the ten labels changes this set."""
    expected = {
        "Phoebe Waller-Bridge": 2,
        "Thandie Newton": 2,
        "Emilia Clarke": 2,
    }
    rows = q.frequent_costars(star.personnel, star.movie_crew, "Woody Harrelson").collect()
    assert {r["name"]: r["n"] for r in rows} == expected


def test_q5_golden_labels(star):
    """Q5_1_1/Q5_1_2/Q5_1_3 golden answers under the canonical
    snapshot (VERDICT r7 item 2: impossible at 544 names — the
    decisive ambiguous names were unlabeled). Kim/Chris/Lee hold the
    top of the unknown bucket deliberately (the nam_dict 'andy' fold;
    chris folds mostly_male → male per task.py:43-46), so the female
    top-1 is Sarah (142) ahead of Kate (140), the male top-1 Michael
    (513) ahead of John (471), and the unknown top-1 Kim (208)."""
    golden = {
        "female": ("Sarah", 142),
        "male": ("Michael", 513),
        "unknown": ("Kim", 208),
    }
    for gender, (name, n) in golden.items():
        row = q.most_common_first_name(
            star.personnel, star.movie_crew, gender
        ).collect()[0]
        assert (row["first_name"], row["n"]) == (name, n), gender


def test_gender_snapshot_census(star):
    """EVERY observed first name (threshold lowered 5 → 3 → 2 → 1;
    VERDICT r9 item 1 closed the singleton tail in r10) must be an
    EXPLICIT snapshot decision (male/female/unknown row in
    gender_names.csv) — unknowns are curated 'andy' folds,
    non-given-name tokens, or documented curator-declined rows
    (tools/gender_singletons.py), never accidental coverage gaps.
    Keeps future snapshot regenerations honest: a new dataset name
    fails here until tools/vendor_gender_names.py is re-run and the
    label reviewed."""
    from data_engineer_task_spark.functions.gender import _mapping

    mapping = _mapping()
    assert len(mapping) > 12000, "vendored snapshot missing or stale?"
    freq = (
        star.personnel.groupBy(F.lower("first_name").alias("k"))
        .count().where(F.col("count") >= 1).collect()
    )
    missing = sorted(r["k"] for r in freq if r["k"] not in mapping)
    assert not missing, f"uncurated observed names: {missing[:20]}"


def test_surrogate_ids_dense_unique(star):
    n = star.personnel.count()
    stats = star.personnel.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi"),
        F.countDistinct("id").alias("d")
    ).collect()[0]
    assert (stats["lo"], stats["hi"], stats["d"]) == (1, n, n)


def test_crew_referential_integrity(star):
    from data_engineer_task_spark.operators.quality import (
        assert_referential, assert_unique,
    )
    assert_unique(star.personnel, ["id"])
    assert_unique(star.shows, ["show_id"])
    assert_referential(star.movie_crew, star.personnel.select(F.col("id").alias("personnel_id")), "personnel_id")
    assert_referential(star.movie_crew, star.shows, "show_id")
    assert_referential(star.listings, star.shows, "show_id")


def test_sql_forms_match_dataframe_forms(spark, star):
    """Every query exists in both surfaces (SURVEY §3.2); the SQL text
    and the DataFrame expression must return identical rows."""
    from data_engineer_task_spark.plans.netflix_sql import register_star, run_sql

    register_star(star)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(run_sql(spark, "shows_without_crew")) == rows(
        q.shows_without_crew(star.shows, star.movie_crew)
    )
    assert rows(run_sql(spark, "shows_without_listings")) == rows(
        q.shows_without_listings(star.shows, star.listings)
    )
    for gender in ("female", "male", "unknown"):
        assert rows(run_sql(spark, "most_common_first_name", gender=gender)) == rows(
            q.most_common_first_name(star.personnel, star.movie_crew, gender)
        )
    assert rows(run_sql(spark, "longest_addition_gap")) == rows(
        q.longest_addition_gap(star.shows)
    )
    assert rows(run_sql(spark, "busiest_month")) == rows(q.busiest_month(star.shows))
    assert rows(run_sql(spark, "best_tv_show_growth_year")) == rows(
        q.best_tv_show_growth_year(star.shows)
    )
    woody = "Woody Harrelson"
    assert rows(run_sql(spark, "shows_featuring", name=woody)) == rows(
        q.shows_featuring(star.personnel, star.movie_crew, woody)
    )
    assert rows(run_sql(spark, "frequent_costars", name=woody)) == rows(
        q.frequent_costars(star.personnel, star.movie_crew, woody)
    )


def test_pipeline_multi_ingest_slices_and_full_path_ledger(spark, netflix_csv, tmp_path):
    """Two inputs sharing a BASENAME in different directories are
    distinct to the ledger (full-path keying, like the reference's
    check_history(args.input)); each lands in its own warehouse slice
    with an _ingest provenance value, and re-running one input
    overwrites its own slice instead of appending a duplicate."""
    import shutil

    from data_engineer_task_spark.plans.netflix import NetflixPipeline

    other_dir = tmp_path / "2021"
    other_dir.mkdir()
    other_csv = str(other_dir / netflix_csv.rsplit("/", 1)[-1])
    shutil.copy(netflix_csv, other_csv)

    pipe = NetflixPipeline(spark, str(tmp_path / "wh"))
    assert pipe.run(netflix_csv) is not None
    assert pipe.run(other_csv) is not None      # same basename — NOT skipped
    assert pipe.run(other_csv) is None          # exact same path — skipped

    shows = pipe.table("shows")
    assert shows.count() == 2 * 7787
    assert shows.select("_ingest").distinct().count() == 2

    # forced re-ingest replaces its own slice only
    assert pipe.run(other_csv, force=True) is not None
    assert pipe.table("shows").count() == 2 * 7787


def test_pandas_api_bridge_runs_reference_idioms(spark, netflix_csv):
    """Migration bridge for reference users: the engine's CSV source
    plus ``.pandas_api()`` (pandas-on-Spark) runs the reference's OWN
    transform idioms (``task.py:76-87``: str.split -> explode ->
    dropna -> str.strip) verbatim and reproduces the verified golden
    cardinalities — the incremental path from single-machine pandas to
    distributed execution without rewriting line one."""
    import pyspark.pandas as ps  # noqa: F401  (registers the API)

    from data_engineer_task_spark.sources.csv import read_csv

    psdf = read_csv(spark, netflix_csv, multi_line=True).pandas_api()
    assert psdf.shape == (7787, 12)  # ref task.py:256

    c = psdf[["show_id", "cast"]].copy()
    c["cast"] = c["cast"].str.split(",")       # task.py:76
    exploded = c.explode("cast").dropna()      # task.py:82, 112
    exploded["cast"] = exploded["cast"].str.strip()  # task.py:87
    assert len(exploded) == 55955              # SURVEY §2.2 golden
    assert exploded["cast"].nunique() == 32881  # distinct actors


# --- job budget and plan shape of the pipeline (self-contained input) ---
#
# The checks above need the reference CSV; these run on a small catalog
# written here, with the FIXTURES.md §1 edge cases that steer the plan:
# quoted commas and quotes, a multi-line field, a leading-space date, a
# show with neither director nor cast, a duplicated cast name.

_TINY_CATALOG = [
    ("s1", "Movie", 'Love, Death & "Robots"', "", "Cher, Woody Harrelson",
     "United States", "August 14, 2020", 2019, "TV-MA", "93 min",
     "Dramas, Comedies", "A tale, with commas"),
    ("s2", "TV Show", "Second", "Ann Lee, Bob Stone",
     "Woody Harrelson, Emma Stone, Emma Stone", "India, Japan",
     " August 4, 2017", 2016, "TV-14", "2 Seasons", "TV Dramas",
     "line one\nline two"),
    ("s3", "Movie", "Third", "", "", "", "", 2001, "", "101 min",
     "Documentaries", "no crew at all"),
    ("s4", "TV Show", "Fourth", "Bob Stone", "Ann Lee", "Japan",
     "May 1, 2002", 2001, "PG-13", "1 Season", "Kids' TV, TV Dramas",
     "director also acts elsewhere"),
]

# Jobs one NetflixPipeline.run launches on the catalog above (measured
# at 4 and 8 cores; the four star-table writes and the AQE query stages
# that feed them — the ledger launches none). SHRINK-ONLY — lower it
# when a change saves a job; raising it needs the new job named and
# justified here.
RUN_JOB_BUDGET = 8

# The ten read-backs (``task.py:181-227``) on the tiny warehouse: the
# rows each must return (derived by hand from _TINY_CATALOG, ids by
# name: Ann Lee 1, Bob Stone 2, Cher 3, Emma Stone 4, Woody Harrelson
# 5; snapshot genders: ann/cher/emma female, bob/woody male) and the
# Spark jobs it may launch (measured at 4 and 8 cores, SHRINK-ONLY like
# RUN_JOB_BUDGET). The three most_common_first_name genders count as
# three of the ten.
_PERSON = "Woody Harrelson"
READBACKS = {
    # s3 alone has neither cast nor director
    "shows_without_crew": (
        lambda t: q.shows_without_crew(t("shows"), t("movie_crew")), [(1,)], 3),
    "shows_without_listings": (
        lambda t: q.shows_without_listings(t("shows"), t("listings")), [(0,)], 3),
    # cast rows: Cher 1, Woody 2, Emma 2 (duplicated in s2), Ann 1
    "most_common_first_name[female]": (
        lambda t: q.most_common_first_name(t("personnel"), t("movie_crew"), "female"),
        [("Emma", 2)], 3),
    "most_common_first_name[male]": (
        lambda t: q.most_common_first_name(t("personnel"), t("movie_crew"), "male"),
        [("Woody", 2)], 3),
    "most_common_first_name[unknown]": (
        lambda t: q.most_common_first_name(t("personnel"), t("movie_crew"), "unknown"),
        [], 1),
    # every dated show has gap 1; s3 (no date) sorts last; title breaks the tie
    "longest_addition_gap": (
        lambda t: q.longest_addition_gap(t("shows")), [("Fourth", 1)], 1),
    "busiest_month": (lambda t: q.busiest_month(t("shows")), [("August", 2)], 2),
    # TV shows released 2001 and 2016: no consecutive years, no growth row
    "best_tv_show_growth_year": (
        lambda t: q.best_tv_show_growth_year(t("shows")), [], 3),
    "shows_featuring": (
        lambda t: q.shows_featuring(t("personnel"), t("movie_crew"), _PERSON),
        [("s1",), ("s2",)], 3),
    # s1 + s2 crew minus Woody: Cher 1, Ann Lee 1, Bob Stone 1 (male),
    # Emma Stone 2 — the duplicated cast row counts twice
    "frequent_costars": (
        lambda t: q.frequent_costars(t("personnel"), t("movie_crew"), _PERSON),
        [("Emma Stone", 2)], 5),
}

# The SQL twin of each read-back: (query name, binds).
_SQL_TWINS = {
    "most_common_first_name[female]": ("most_common_first_name", {"gender": "female"}),
    "most_common_first_name[male]": ("most_common_first_name", {"gender": "male"}),
    "most_common_first_name[unknown]": ("most_common_first_name", {"gender": "unknown"}),
    "shows_featuring": ("shows_featuring", {"name": _PERSON}),
    "frequent_costars": ("frequent_costars", {"name": _PERSON}),
}


@pytest.fixture(scope="module")
def tiny_run(spark, tmp_path_factory, in_job_group):
    """One pipeline run over the tiny catalog: (pipe, job ids of run)."""
    import csv

    from data_engineer_task_spark.plans.netflix import NetflixPipeline
    from data_engineer_task_spark.schemas import SHOWS_RAW

    d = tmp_path_factory.mktemp("tiny_netflix")
    path = str(d / "catalog.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(SHOWS_RAW.names)
        w.writerows(_TINY_CATALOG)
    pipe = NetflixPipeline(spark, str(d / "wh"))
    star, jobs = in_job_group(lambda: pipe.run(path))
    assert star is not None
    return pipe, jobs


def _run_plans(spark, jobs) -> list[str]:
    """Physical plan text of every SQL execution that ran one of ``jobs``."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(executions.size()):
        ex = executions.apply(i)
        ex_jobs = ex.jobs().keySet().toSeq()
        if any(ex_jobs.apply(j) in jobs for j in range(ex_jobs.size())):
            plans.append(ex.physicalPlanDescription())
    return plans


def test_run_stays_within_job_budget(tiny_run):
    _, jobs = tiny_run
    assert 0 < len(jobs) <= RUN_JOB_BUDGET, sorted(jobs)


def test_run_plans_have_no_python_rdd_scan(spark, tiny_run):
    """Every plan ``run`` executes stays in the JVM: a driver-built
    frame made by ``createDataFrame(list)`` plans as ``Scan
    ExistingRDD`` and starts a Python worker per task
    (``sources/local.py``)."""
    _, jobs = tiny_run
    plans = _run_plans(spark, jobs)
    assert len(plans) >= 4  # the four star-table writes
    assert not [p for p in plans if "ExistingRDD" in p]


def test_run_caches_only_the_raw_catalog(spark, tiny_run):
    """movie_crew resolves its ids against the personnel slice just
    written, so the only cached frame ``run`` reads is the parsed CSV:
    no InMemoryRelation of personnel (or of anything else)."""
    import re

    _, jobs = tiny_run
    cached = [
        args
        for p in _run_plans(spark, jobs)
        for args in re.findall(r"\(\d+\) InMemoryRelation\nArguments: \[([^\]]*)\]", p)
    ]
    assert cached, "the raw catalog is cached for the four writes"
    assert all("listed_in" in a and "first_name" not in a for a in cached), cached


def test_table_reads_launch_no_jobs_and_match_the_written_schema(spark, tiny_run, in_job_group):
    """``table`` reads with the declared schema, so building the frame
    runs no footer-inference job; the pinned schema must be exactly
    what ``load`` wrote (names, order and types)."""
    pipe, _ = tiny_run
    frames, jobs = in_job_group(
        lambda: {name: pipe.table(name) for name in WAREHOUSE_SCHEMA}
    )
    assert jobs == set()
    for name, df in frames.items():
        written = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{pipe.warehouse}/{name}").schema
        )
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in written
        ], name
    assert frames["shows"].count() == len(_TINY_CATALOG)
    assert frames["listings"].count() == 6
    assert frames["movie_crew"].count() == 9  # incl. the duplicated cast row


def _rows(rows) -> list[tuple]:
    # sorted: shows_featuring is a set; every ordered answer here has one row
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("name", list(READBACKS))
def test_readback_answers_within_job_budget(tiny_run, in_job_group, name):
    """Hand-derived answers for the ten analytics on the tiny warehouse
    (the golden tests above skip without the reference CSV), each
    within its shrink-only job budget."""
    pipe, _ = tiny_run
    build, want, budget = READBACKS[name]
    rows, jobs = in_job_group(lambda: build(pipe.table).collect())
    assert _rows(rows) == want
    assert 0 < len(jobs) <= budget, sorted(jobs)


def test_sql_twins_match_on_tiny_catalog(spark, tiny_run):
    """The SQL text and the DataFrame form of every read-back return the
    same rows on the tiny warehouse (no reference CSV needed)."""
    from types import SimpleNamespace

    from data_engineer_task_spark.plans.netflix_sql import register_star, run_sql

    pipe, _ = tiny_run
    register_star(SimpleNamespace(**{n: pipe.table(n) for n in WAREHOUSE_SCHEMA}))
    for name, (build, want, _) in READBACKS.items():
        query, binds = _SQL_TWINS.get(name, (name, {}))
        got = _rows(run_sql(spark, query, **binds).collect())
        assert got == _rows(build(pipe.table).collect()) == want, name


def test_frequent_costars_plans_broadcast_and_sort_in_one_partition(spark, tiny_run):
    """The cohort is broadcast (no hash shuffle of movie_crew for a
    sort-merge semi join) and the HAVING output is sorted in one
    partition (no range-partitioning sample job) — in the DataFrame
    form and in its SQL twin, initial and final AQE plans alike."""
    from types import SimpleNamespace

    from data_engineer_task_spark.plans.netflix_sql import register_star, run_sql

    pipe, _ = tiny_run
    t = pipe.table
    register_star(SimpleNamespace(**{n: t(n) for n in WAREHOUSE_SCHEMA}))
    for df in (
        q.frequent_costars(t("personnel"), t("movie_crew"), _PERSON),
        run_sql(spark, "frequent_costars", name=_PERSON),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan and "SortMergeJoin" not in plan, plan
        assert "rangepartitioning" not in plan, plan
