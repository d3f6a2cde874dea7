"""The Netflix-catalog ETL — the reference's whole program, Spark-first.

Reference: ``task.py`` ``main()`` (extract ``task.py:69-70`` →
transform ``task.py:74-139`` → load ``task.py:143-166`` → analytics
``task.py:181-227``), surveyed exhaustively in SURVEY.md §2-§3.

Differences by design (not omissions):
 - lazy DataFrame DAG; nothing materializes until load/collect
 - no Python UDFs: name split and gender enrichment are native ops +
   a broadcast lookup (reference's per-row ``.apply`` was ~97% of its
   transform wall time, SURVEY §6)
 - warehouse = parquet tables (+ optional JDBC for parity), not Postgres
 - surrogate ids ordered by name, not insertion position (SURVEY §2.4
   D2 — ids are join-keys only; no query depends on their values)

Faithful quirks preserved (golden numbers depend on them, SURVEY §2.2):
 - ``explode_outer`` semantics for null crew (pandas explode parity)
 - listings NOT trimmed (D1): 17,071 rows keep leading spaces
 - movie_crew keeps exact-duplicate (show,person,type) rows (3 of them)
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.gender import gender_lookup_df, with_gender
from ..functions.names import with_name_parts
from ..operators.normalize import explode_multivalue, surrogate_key
from ..schemas import SHOWS_RAW, STAR_SCHEMA
from ..sources.csv import read_csv
from ..sources.ledger import Ledger
from ..sources.parquet import write_parquet


def _ingest_digest(name: str) -> str:
    return hashlib.md5(name.encode()).hexdigest()[:12]


# Warehouse tables in FK load order, each read back with its declared
# columns in write order plus the ``_ingest`` provenance column that
# ``load`` appends. A pinned schema lets ``table`` plan with no footer-
# inference job (one per read otherwise).
WAREHOUSE_SCHEMA = {
    name: T.StructType(
        STAR_SCHEMA[name].fields + [T.StructField("_ingest", T.StringType())]
    )
    for name in ("shows", "personnel", "movie_crew", "listings")
}


@dataclass
class StarSchema:
    shows: DataFrame
    personnel: DataFrame
    movie_crew: DataFrame
    listings: DataFrame
    # the (show_id, name, personnel_type) pairs movie_crew resolves its
    # ids from — an intermediate, not a warehouse table
    crew: DataFrame


def extract(spark: SparkSession, path: str) -> DataFrame:
    """T1: CSV scan with explicit schema + RFC-4180 quoting. The
    catalog embeds newlines inside quoted fields, so this source pays
    the multiLine single-task-per-file cost knowingly (see
    ``sources/csv.py``)."""
    return read_csv(spark, path, SHOWS_RAW, multi_line=True)


def _crew_pairs(raw: DataFrame, col: str, personnel_type: str) -> DataFrame:
    """(show_id, name, personnel_type) rows from a multi-valued crew col.

    T6/T8/T9/T17 + constant column (``task.py:76-87,110-119``): split,
    explode, trim, drop nulls, tag with the crew type.
    """
    return explode_multivalue(
        raw.select("show_id", col), col, trim=True, keep_null_rows=False, out_col="name"
    ).where(F.col("name").isNotNull()).select(
        "show_id", "name", F.lit(personnel_type).alias("personnel_type")
    )


def resolve_crew_ids(crew: DataFrame, personnel: DataFrame) -> DataFrame:
    """movie_crew bridge: crew pairs with each name resolved to its
    personnel id (T18 — inner join ≡ the reference's left-join-then-
    dropna, since every crew name exists in personnel by construction).

    No broadcast hint: the dimension grows with the catalog, so Spark
    sizes the join from ``personnel``'s statistics. ``run`` passes the
    personnel slice it has just written, whose file size makes this a
    broadcast hash join while the slice is small and a sort-merge join
    once it is not."""
    return crew.join(personnel.select("id", "name"), "name").select(
        F.col("id").alias("personnel_id"), "show_id", "personnel_type"
    )


def transform(raw: DataFrame, gender_lookup: DataFrame) -> StarSchema:
    """T6-T18: raw 12-col frame → 4-table star schema (``task.py:74-139``)."""
    # cast ⧺ director (T11)
    crew = _crew_pairs(raw, "cast", "cast").union(
        _crew_pairs(raw, "director", "director")
    )

    # personnel: distinct names across both roles (T10-T12), surrogate
    # key (T13/D2), first-space name split (T14/T15), gender (T16/D6).
    personnel = with_gender(
        with_name_parts(
            surrogate_key(crew.select("name").distinct(), order_by=["name"], key_col="id")
        ),
        gender_lookup,
    ).select("id", "name", "first_name", "last_name", "gender")

    # listings: exploded but NOT trimmed — faithful quirk D1.
    listings = explode_multivalue(
        raw.select("show_id", "listed_in"),
        "listed_in",
        trim=False,
        keep_null_rows=False,
        out_col="listing",
    ).where(F.col("listing").isNotNull())

    # shows: parse date_added (T7 — trim handles the 88 leading-space
    # rows [verified]); drop the multi-valued source columns (ref
    # ``task.py:137``).
    # try_to_timestamp: under Spark 4's default ANSI mode a plain
    # to_timestamp would ABORT the whole job on one malformed date —
    # unparseable values must become NULL (the column's declared
    # contract), not kill a 100 TB ingest.
    shows = raw.select(
        "show_id",
        "type",
        "title",
        "country",
        F.try_to_timestamp(F.trim("date_added"), F.lit("MMMM d, yyyy")).alias(
            "date_added"
        ),
        "release_year",
        "rating",
        "duration",
        "description",
    )

    return StarSchema(
        shows=shows,
        personnel=personnel,
        movie_crew=resolve_crew_ids(crew, personnel),
        listings=listings,
        crew=crew,
    )


class NetflixPipeline:
    """End-to-end driver mirroring the reference ``main()`` flow:
    ledger check → extract → transform → load → analytics."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse = warehouse_dir.rstrip("/")
        self.ledger = Ledger(spark, f"{self.warehouse}/history")

    def run(self, csv_path: str, *, force: bool = False) -> StarSchema | None:
        """Each ingest writes into its OWN warehouse subdirectory
        (keyed by a digest of the input path) with overwrite mode, so:

        - a retry after a partial-load crash overwrites its own
          half-written slice instead of appending a duplicate copy
          (the ledger is only written after a successful load, so the
          retry path is the NORMAL path);
        - ``force=True`` re-ingests by replacing that same slice;
        - different input files coexist side by side, each slice
          carrying an ``_ingest`` provenance column — cross-ingest
          analytics must group/join per ingest, since show ids and
          surrogate personnel ids are only unique within one input
          (the reference is a single-CSV program; SURVEY §2.4 D2).

        The ledger keys on the FULL input path, like the reference's
        ``check_history(args.input)`` (``task.py:289``) — basename-only
        keying would silently skip a different file that happens to
        share a name."""
        name = csv_path
        seen = self.ledger.seen(name)  # ONE ledger lookup per run
        if seen and not force:
            return None  # already ingested — idempotency (ref task.py:289)
        # raw feeds all four tables — cache it so the four write
        # actions don't re-parse the CSV (lazy plans re-execute per
        # action otherwise).
        raw = extract(self.spark, csv_path).persist()
        try:
            star = self.load(
                transform(raw, gender_lookup_df(self.spark)),
                ingest=_ingest_digest(name),
            )
            # Record only AFTER a successful load — the reference
            # inserts during the pre-check (task.py:239), which poisons
            # the ledger when a later stage fails and makes retries
            # silently no-op.
            if not seen:  # forced re-ingests stay single in the ledger
                self.ledger.record(name)
        finally:
            raw.unpersist(False)
        return star

    def load(self, star: StarSchema, *, ingest: str) -> StarSchema:
        """T2: write star tables into the ingest's warehouse slice, in
        FK load order (``task.py:154-166``). movie_crew resolves its ids
        against the personnel slice just written, read back with the
        pinned schema: the dimension is computed once, by its own write,
        and never cached for its foreign-key consumer. Returns the star
        as written."""

        def slice_dir(table_name: str) -> str:
            return f"{self.warehouse}/{table_name}/{ingest}"

        def write(table_name: str, df: DataFrame) -> None:
            write_parquet(
                df.withColumn("_ingest", F.lit(ingest)),
                slice_dir(table_name),
                mode="overwrite",
            )

        write("shows", star.shows)
        write("personnel", star.personnel)
        star = replace(
            star,
            movie_crew=resolve_crew_ids(
                star.crew, self._read("personnel", slice_dir("personnel"))
            ),
        )
        write("movie_crew", star.movie_crew)
        write("listings", star.listings)
        return star

    def _read(self, name: str, path: str) -> DataFrame:
        return (
            self.spark.read.schema(WAREHOUSE_SCHEMA[name])
            .option("recursiveFileLookup", "true")
            .parquet(path)
        )

    def table(self, name: str) -> DataFrame:
        """All ingest slices of a star table (recursive read — the
        slice dirs are plain nesting, not partition columns; provenance
        travels in the ``_ingest`` data column instead). The schema is
        pinned (``WAREHOUSE_SCHEMA``), so building the frame launches
        no Spark job."""
        return self._read(name, f"{self.warehouse}/{name}")
