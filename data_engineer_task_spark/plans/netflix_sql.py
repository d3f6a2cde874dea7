"""The reference's 10-query workload as Spark-SQL TEXT — the
``spark.sql`` twin of the DataFrame forms in ``netflix_queries.py``
(SURVEY §3.2: each query exists in both surfaces; both compile to the
same Catalyst plans — ``frequent_costars`` carries the DataFrame form's
broadcast and single-partition sort as ``BROADCAST``/``COALESCE``
hints). ``tests/test_netflix.py::test_sql_twins_match_on_tiny_catalog``
checks that every twin returns its DataFrame form's rows, and
``test_frequent_costars_plans_broadcast_and_sort_in_one_partition``
pins both forms' plan shape.

Differences from the reference SQL (``queries.py:40-121``) carried
over identically from the DataFrame forms: explicit NULLS LAST (D3),
float division (D4), client-side post-processing folded in (D5), and
named-parameter binding via ``spark.sql(..., args=...)`` instead of
the reference's ``str.format`` splicing (``queries.py:36-38`` — the
injection-prone pattern SURVEY §2.1 T5 flags).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Spark SQL dialect; table names = the four star tables registered as
# temp views by ``register_star``.
NETFLIX_SQL: dict[str, str] = {
    "shows_without_crew": """
        SELECT count(*) AS n_shows_no_crew
        FROM shows s LEFT ANTI JOIN movie_crew mc ON s.show_id = mc.show_id
    """,
    "shows_without_listings": """
        SELECT count(*) AS n_shows_no_listing
        FROM shows s LEFT ANTI JOIN listings l ON s.show_id = l.show_id
    """,
    "most_common_first_name": """
        SELECT first_name, count(*) AS n
        FROM personnel p JOIN movie_crew mc ON p.id = mc.personnel_id
        WHERE p.gender = :gender AND mc.personnel_type = 'cast'
        GROUP BY first_name
        ORDER BY n DESC NULLS LAST, first_name ASC
        LIMIT 1
    """,
    "longest_addition_gap": """
        SELECT title, year(date_added) - release_year AS gap
        FROM shows
        ORDER BY gap DESC NULLS LAST, title ASC
        LIMIT 1
    """,
    "busiest_month": """
        SELECT date_format(date_added, 'MMMM') AS month, count(*) AS n
        FROM shows WHERE date_added IS NOT NULL
        GROUP BY month
        ORDER BY n DESC NULLS LAST, month ASC
        LIMIT 1
    """,
    "best_tv_show_growth_year": """
        WITH per_year AS (
          SELECT release_year, count(*) AS n
          FROM shows WHERE type = 'TV Show' GROUP BY release_year
        ),
        g AS (
          SELECT release_year, n,
                 CASE WHEN lag(release_year) OVER (ORDER BY release_year)
                           = release_year - 1
                      THEN (n - lag(n) OVER (ORDER BY release_year))
                           / CAST(lag(n) OVER (ORDER BY release_year) AS DOUBLE)
                           * 100
                 END AS growth_pct
          FROM per_year
        )
        SELECT release_year, growth_pct FROM g
        WHERE growth_pct IS NOT NULL
        ORDER BY growth_pct DESC NULLS LAST, release_year ASC
        LIMIT 1
    """,
    "shows_featuring": """
        SELECT DISTINCT mc.show_id AS show_id
        FROM movie_crew mc JOIN personnel p ON mc.personnel_id = p.id
        WHERE p.name = :name
    """,
    "frequent_costars": """
        WITH cohort AS (
          SELECT /*+ BROADCAST(p) */ mc.show_id
          FROM movie_crew mc JOIN personnel p ON mc.personnel_id = p.id
          WHERE p.name = :name
        ),
        in_cohort AS (
          SELECT /*+ BROADCAST(c) */ mc.* FROM movie_crew mc
          LEFT SEMI JOIN cohort c ON mc.show_id = c.show_id
        )
        SELECT /*+ COALESCE(1) */ p.name AS name, count(*) AS n
        FROM in_cohort mc JOIN personnel p ON mc.personnel_id = p.id
        WHERE array_contains(:genders, p.gender) AND p.name <> :name
        GROUP BY p.name
        HAVING count(*) >= :min_shows
        ORDER BY n DESC NULLS LAST, name ASC
    """,
}

# Per-query default binds: keeps the SQL surface parameter-compatible
# with its DataFrame twin (netflix_queries.frequent_costars takes
# genders/min_shows) — hard-coded literals here would silently diverge
# from any non-default DataFrame call.
_DEFAULT_PARAMS: dict[str, dict] = {
    "frequent_costars": {"genders": ["female", "unknown"], "min_shows": 2},
}


def register_star(star) -> None:
    """Register the four star tables as temp views for the SQL forms."""
    for name in ("shows", "personnel", "movie_crew", "listings"):
        getattr(star, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, query: str, **params) -> DataFrame:
    """Execute a named query with bound parameters (no string
    splicing). Per-query defaults fill any bind the caller omits, so
    the SQL surface accepts the same knobs as its DataFrame twin."""
    args = {**_DEFAULT_PARAMS.get(query, {}), **params}
    return spark.sql(NETFLIX_SQL[query], args=args or None)
