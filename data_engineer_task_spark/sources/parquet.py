"""Parquet source/sink — the engine's warehouse format.

Replaces the reference's Postgres warehouse (T2/T3, ``task.py:143-166``):
``df.to_sql(if_exists='append')`` becomes an append-mode parquet write.
Parquet gives us column pruning + predicate pushdown for free, which the
reference's row-oriented heap tables never had.

At 100 TB the knobs that matter: partition columns chosen so common
predicates prune whole directories, and target file sizes ~128-512 MB
(``maxRecordsPerFile`` / upstream ``repartition``) so the scan
parallelism matches the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import open_parquet


def read_parquet(
    spark: SparkSession,
    path: str,
    *,
    merge_schema: bool = False,
    ignore_corrupt: bool = False,
) -> DataFrame:
    """``merge_schema=True`` unions the schemas of every file footer —
    the schema-evolution read: a table appended over months gains
    columns, and old files simply surface NULLs for them. Off by
    default because at 100 TB footer-merging every file costs a
    distributed pre-pass; evolved tables should pin the unified schema
    in the catalog (see ``sources/warehouse.py``) so reads stay
    one-footer cheap.

    ``ignore_corrupt=True`` skips unreadable files instead of failing
    the scan — the salvage-read for a table with a torn write. Off by
    default: silently dropping data is never the right default; turn it
    on deliberately, count what you got, and reconcile.

    With neither option this is ``catalog.open_parquet`` (schema
    inferred once per file set); either option infers on every read."""
    if not (merge_schema or ignore_corrupt):
        return open_parquet(spark, path)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    return reader.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def _tree_size_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API — works
    for any scheme the session can read (file://, hdfs://, s3a://),
    unlike an os.walk that only sees local disk."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    *,
    target_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite ``path`` as ceil(total_bytes /
    target_bytes) files at ``out_path``. Streaming ingests and
    per-trigger micro-batch writes leave thousands of KB-scale files;
    at scan time every file costs a task + a footer read, so a 100 TB
    table fragmented into 1e7 files spends more time scheduling than
    reading. Runs as one job: scan -> round-robin repartition to the
    target count -> write. Returns the file count written.

    The rewrite goes to a NEW directory (atomic swap is the caller's
    rename/catalog-repoint) — compacting in place would race readers.
    """
    import math

    total = _tree_size_bytes(spark, path)
    n_files = max(1, math.ceil(total / target_bytes))
    df = open_parquet(spark, path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered write: files cover compact regions of the
    MULTI-dimensional key space, so parquet min/max footer stats skip
    files for predicates on ANY of ``cols`` — where a single-column
    sort layout only ever skips on its sort key (every other dimension
    straddles all files).

    Mechanics: min/max-normalize each column to ``bits`` bits (one tiny
    agg collected to the driver — same O(k) driver-state pattern as the
    k-means centroids), bit-interleave into a z-key with pure
    shift/and/or expressions (JVM codegen, no UDF), then
    ``repartitionByRange`` + ``sortWithinPartitions`` on it — exactly
    the clustered-write shape of the 1-D layout, one range shuffle.

    The space-filling-curve trade: each dimension keeps ~``bits`` of
    resolution, so point/range predicates on any single dimension touch
    ~``n_files^((d-1)/d)`` of the files instead of all of them."""
    from pyspark.sql import functions as F

    # nanvl: NaN → NULL so min/max ignore it (NaN sorts above every
    # double, so F.max would otherwise return NaN, poisoning span and
    # making every row's ANSI cast-to-long throw CAST_OVERFLOW)
    num = {c: F.nanvl(F.col(c).cast("double"), F.lit(None)) for c in cols}
    stats = df.agg(
        *[F.min(num[c]).alias(f"mn_{c}") for c in cols],
        *[F.max(num[c]).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1

    norm = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None:
            raise ValueError(
                f"zorder column {c!r} has no numeric min/max "
                "(empty table, all-NULL, or non-numeric column)"
            )
        span = (mx - mn) or 1.0
        norm.append(
            # NULL and NaN values cluster at bucket 0 (coalesce), not
            # silently at the top bucket (least() would skip the null
            # operand) and never through an ANSI NaN→long cast
            F.coalesce(
                F.least(
                    F.lit(top),
                    ((num[c] - F.lit(mn)) / F.lit(span) * top).cast("long"),
                ),
                F.lit(0),
            )
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, nc in enumerate(norm):
            z = z + F.shiftleft(
                F.shiftright(nc, b).bitwiseAND(F.lit(1)), b * len(cols) + i
            ).cast("long")

    (
        df.withColumn("_zkey", z)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def delete_where(
    spark: SparkSession,
    path: str,
    predicate,
) -> dict:
    """Targeted row deletion (the GDPR / right-to-be-forgotten op):
    delete every row matching ``predicate`` (a boolean Column over the
    table's schema) by rewriting ONLY the files that contain matches —
    every other file stays byte-identical on disk.

    Copy-on-write DELETE, the shape every table format uses at scale:
    1. one metadata-cheap scan finds the affected FILE list via
       ``_metadata.file_path`` (parquet footer stats + partition
       pruning narrow this scan exactly like any other predicate);
    2. only those files are re-read; survivors (predicate false or
       NULL-safe false) are rewritten as new uniquely-named files into
       the table directory;
    3. the old affected files are removed.
    On a 100 TB table with a selective predicate this touches the few
    files the keys actually live in — never the full table. Z-order /
    range-clustered layouts (``zorder_write``) shrink the affected set
    further by keeping each key in few files.

    No transaction log here, so step 3 is not atomic for concurrent
    readers — the versioned snapshot sink (``streaming/sink.py``) is
    the isolation-safe alternative; this is the in-place form for
    single-writer maintenance windows. Returns counts:
    ``{"rows_deleted", "files_rewritten", "files_untouched"}``.
    """
    from pyspark.sql import functions as F

    # NULL-safe: rows where the predicate is NULL are KEPT (a delete
    # must never remove rows it can't prove match).
    hit = F.coalesce(predicate, F.lit(False))

    with_file = open_parquet(spark, path).withColumn(
        "_src_file", F.col("_metadata.file_path")
    )
    affected = [
        r["_src_file"]
        for r in with_file.where(hit).select("_src_file").distinct().collect()
    ]

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    statuses = list(fs.listStatus(root))
    # Hive-partitioned layouts need partition-aware rewrite (reading a
    # leaf file directly DROPS its partition-directory columns, so a
    # naive rewrite would silently lose data). Refuse rather than
    # corrupt; the snapshot sink or a partition-wise overwrite is the
    # right tool there.
    if any(
        st.isDirectory() and "=" in st.getPath().getName() for st in statuses
    ):
        raise ValueError(
            "delete_where does not support hive-partitioned tables: "
            "rewriting leaf files would drop partition columns. Use the "
            "snapshot sink (streaming/sink.py) or rewrite the affected "
            "partitions with write_parquet(partition_by=...)."
        )
    n_total = len(
        [
            st
            for st in statuses
            if st.isFile() and not st.getPath().getName().startswith("_")
        ]
    )
    if not affected:
        return {
            "rows_deleted": 0,
            "files_rewritten": 0,
            "files_untouched": n_total,
        }

    # Re-read ONLY the affected files; split into survivors and victims.
    sub = open_parquet(spark, *affected)
    n_deleted = sub.where(hit).count()
    survivors = sub.where(~hit)

    # Stage the rewritten files, then move them into the table dir with
    # unique names and drop the originals.
    import uuid

    stage = f"{path.rstrip('/')}__delete_stage_{uuid.uuid4().hex[:8]}"
    survivors.write.mode("overwrite").parquet(stage)
    stage_path = jvm.org.apache.hadoop.fs.Path(stage)
    moved = 0
    for st in fs.listStatus(stage_path):
        name = st.getPath().getName()
        if not st.isFile() or name.startswith("_"):
            continue
        dest = jvm.org.apache.hadoop.fs.Path(
            root, f"part-del-{uuid.uuid4().hex[:8]}-{name.removeprefix('part-')}"
        )
        fs.rename(st.getPath(), dest)
        moved += 1
    fs.delete(stage_path, True)
    for f in affected:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)

    return {
        "rows_deleted": n_deleted,
        "files_rewritten": moved,
        "files_untouched": n_total - len(affected),
    }
