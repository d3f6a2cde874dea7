"""Explicit schemas for every table the engine touches.

Reference parity: the warehouse DDL lives at ``queries.py:1-34`` in the
reference (TEXT/BIGINT/TIMESTAMP only); ingest is inferred CSV
(``task.py:69-70``). We declare everything explicitly — inference is a
scale hazard (a second pass over 100 TB of input).

Nullability facts carried from SURVEY.md §1.4 [verified]: director,
cast, country, date_added, rating are nullable in the wild; everything
else is not. Spark does not *enforce* nullability on read, so these are
documentation + quality-check inputs (see operators/quality.py), which
is exactly how the reference's PK/FK constraints are re-expressed.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Netflix catalog ingest (reference netflix_titles.csv, 12 columns)
# ---------------------------------------------------------------------------

SHOWS_RAW = T.StructType(
    [
        T.StructField("show_id", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("director", T.StringType(), True),
        T.StructField("cast", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("date_added", T.StringType(), True),
        T.StructField("release_year", T.LongType(), False),
        T.StructField("rating", T.StringType(), True),
        T.StructField("duration", T.StringType(), False),
        T.StructField("listed_in", T.StringType(), False),
        T.StructField("description", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Star-schema warehouse (reference DDL queries.py:1-34)
# ---------------------------------------------------------------------------

SHOWS = T.StructType(
    [
        T.StructField("show_id", T.StringType(), False),  # PK (quality check)
        T.StructField("type", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("country", T.StringType(), True),  # multi-valued, never split (ref)
        T.StructField("date_added", T.TimestampType(), True),
        T.StructField("release_year", T.LongType(), True),
        T.StructField("rating", T.StringType(), True),
        T.StructField("duration", T.StringType(), True),  # "93 min" — never parsed (ref)
        T.StructField("description", T.StringType(), True),
    ]
)

PERSONNEL = T.StructType(
    [
        T.StructField("id", T.LongType(), False),  # surrogate PK
        T.StructField("name", T.StringType(), False),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),  # '' when single-token
        T.StructField("gender", T.StringType(), True),  # male|female|unknown
    ]
)

MOVIE_CREW = T.StructType(
    [
        T.StructField("personnel_id", T.LongType(), False),
        T.StructField("show_id", T.StringType(), False),
        T.StructField("personnel_type", T.StringType(), False),  # cast|director
    ]
)

LISTINGS = T.StructType(
    [
        T.StructField("show_id", T.StringType(), False),
        T.StructField("listing", T.StringType(), False),
    ]
)

STAR_SCHEMA = {
    "shows": SHOWS,
    "personnel": PERSONNEL,
    "movie_crew": MOVIE_CREW,
    "listings": LISTINGS,
}

# ---------------------------------------------------------------------------
# Driver testdata (TPC-H-ish; TESTDATA.md) — for self-registration helpers
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
