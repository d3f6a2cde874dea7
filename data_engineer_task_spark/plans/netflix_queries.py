"""The reference's 10-query analytics workload (``queries.py:40-121``,
driven by ``task.py:181-227``), as lazy DataFrame expressions.

Differences by design (SURVEY §2.3-§2.4):
 - client-side post-processing folded into the plan (D5): month-name
   mapping, the HAVING-in-Python filter, the Q9→Q10 IN-list splice
   (→ one semi-join query, no driver round-trip)
 - explicit NULLS LAST everywhere (D3)
 - float division for growth % (D4)

Each function takes the four star tables and returns a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import anti_join, top_k, yoy_growth


def shows_without_crew(shows: DataFrame, movie_crew: DataFrame) -> DataFrame:
    """Q1 ``query4_1_1``: shows with no crew at all. [verified] = 299.
    A plain key-only ``left_anti``, as the SQL twin."""
    return anti_join(shows, movie_crew, "show_id").agg(
        F.count(F.lit(1)).alias("n_shows_no_crew")
    )


def shows_without_listings(shows: DataFrame, listings: DataFrame) -> DataFrame:
    """Q2 ``query4_1_2``: shows with no genre listing. [verified] = 0.
    Same shape as Q1."""
    return anti_join(shows, listings, "show_id").agg(
        F.count(F.lit(1)).alias("n_shows_no_listing")
    )


def most_common_first_name(
    personnel: DataFrame, movie_crew: DataFrame, gender: str
) -> DataFrame:
    """Q3/Q4/Q5 ``query5_1_x``: most common cast first name by gender."""
    return top_k(
        personnel.join(
            movie_crew, personnel["id"] == movie_crew["personnel_id"]
        )
        .where((F.col("gender") == gender) & (F.col("personnel_type") == "cast"))
        .groupBy("first_name")
        .agg(F.count(F.lit(1)).alias("n")),
        [F.desc_nulls_last("n"), F.asc("first_name")],
    )


def longest_addition_gap(shows: DataFrame) -> DataFrame:
    """Q6 ``query5_2``: title with the largest release→added gap in
    years. NULLS LAST per D3 (the intended answer, not Postgres's
    null-first artifact). [verified] ('Pioneers: First Women
    Filmmakers*', 93)."""
    gap = (F.year("date_added") - F.col("release_year")).alias("gap")
    return top_k(
        shows.select("title", gap), [F.desc_nulls_last("gap"), F.asc("title")]
    )


def busiest_month(shows: DataFrame) -> DataFrame:
    """Q7 ``query5_3``: calendar month with most additions; month-name
    mapping folded in (D5). [verified] ('December', 833)."""
    return top_k(
        shows.where(F.col("date_added").isNotNull())
        .groupBy(F.date_format("date_added", "MMMM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n")),
        [F.desc_nulls_last("n"), F.asc("month")],
    )


def best_tv_show_growth_year(shows: DataFrame) -> DataFrame:
    """Q8 ``query5_4``: release year with the largest YoY % growth in
    TV Show count. Reference self-joins two identical subqueries on
    year = year+1 (``queries.py:93-108``); here one lag window
    (operators.yoy_growth). [verified] (1990, 200.0)."""
    per_year = (
        shows.where(F.col("type") == "TV Show")
        .groupBy("release_year")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grown = yoy_growth(per_year, "release_year", "n")
    return top_k(
        grown.where(F.col("growth_pct").isNotNull()).select(
            "release_year", "growth_pct"
        ),
        [F.desc_nulls_last("growth_pct"), F.asc("release_year")],
    )


def _person_show_ids(
    personnel: DataFrame, movie_crew: DataFrame, person_name: str
) -> DataFrame:
    """show_id of every crew row of the named person (repeats kept)."""
    person = personnel.where(F.col("name") == person_name).select("id")
    return movie_crew.join(
        F.broadcast(person), movie_crew["personnel_id"] == person["id"]
    ).select("show_id")


def shows_featuring(
    personnel: DataFrame, movie_crew: DataFrame, person_name: str
) -> DataFrame:
    """Q9 ``query5_5_1``: show_ids featuring a named person.
    [verified] 12 shows for 'Woody Harrelson'."""
    return _person_show_ids(personnel, movie_crew, person_name).distinct()


def frequent_costars(
    personnel: DataFrame,
    movie_crew: DataFrame,
    person_name: str,
    genders: tuple[str, ...] = ("female", "unknown"),
    min_shows: int = 2,
) -> DataFrame:
    """Q10 ``query5_5_2``: people with gender∈genders appearing in >1 of
    the named person's shows. Faithful quirks kept (SURVEY §2.3 Q10): no
    personnel_type filter (directors count), 'unknown' included. The
    reference's two-query IN-list splice + Python HAVING (``task.py:
    222-225``) is one semi-join + HAVING here (D5).

    The cohort (one person's shows) is bounded by that person, not by
    the corpus, so it is broadcast as is — no ``distinct`` (a semi join
    ignores repeats), and no hash shuffle of all of movie_crew for a
    sort-merge join. The HAVING output is small and sorted in one
    partition: no range-partitioner sampling job, no shuffle."""
    cohort_shows = _person_show_ids(personnel, movie_crew, person_name)
    return (
        movie_crew.join(F.broadcast(cohort_shows), "show_id", "left_semi")
        .join(personnel, movie_crew["personnel_id"] == personnel["id"])
        .where(F.col("gender").isin(*genders) & (F.col("name") != person_name))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_shows)
        .coalesce(1)
        .orderBy(F.desc_nulls_last("n"), F.asc("name"))
    )
