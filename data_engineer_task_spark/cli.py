"""CLI driver — parity with the reference's entry point
(``python task.py -i netflix_titles.csv``, ``task.py:276-303``).

Same flow: (DEBUG → purge) → ledger check → extract → transform →
load → run the analytics workload and log the answers. The analytics
answers print in the reference's human-readable shape (month NAME,
HAVING folded in — SURVEY §2.4 D5).

Usage:
    python -m data_engineer_task_spark.cli -i /path/netflix_titles.csv \
        [--warehouse /tmp/warehouse] [--debug] [--force]

Beyond reference parity, the declared analytics inventory is runnable
directly:

    python -m data_engineer_task_spark.cli list-queries
    python -m data_engineer_task_spark.cli query pricing_summary \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--explain]
"""

from __future__ import annotations

import argparse
import logging
import shutil
import sys

from pyspark.sql import functions as F

from .plans import netflix_queries as q
from .plans.netflix import NetflixPipeline
from .session import get_spark
from .sources.catalog import open_parquet

log = logging.getLogger("data_engineer_task_spark")


def purge(warehouse: str) -> None:
    """DROP-equivalent: remove the warehouse tables (reference
    ``purge()``, ``task.py:170-177``; CASCADE is a no-op here — no
    enforced FK graph)."""
    shutil.rmtree(warehouse, ignore_errors=True)


def run_analytics(pipe: NetflixPipeline, person: str = "Woody Harrelson") -> None:
    shows = pipe.table("shows")
    personnel = pipe.table("personnel")
    crew = pipe.table("movie_crew")
    listings = pipe.table("listings")

    log.info("shows with no crew: %s",
             q.shows_without_crew(shows, crew).collect()[0][0])
    log.info("shows with no listings: %s",
             q.shows_without_listings(shows, listings).collect()[0][0])
    for gender in ("female", "male", "unknown"):
        row = q.most_common_first_name(personnel, crew, gender).collect()
        if row:
            log.info("most common %s cast first name: %s (%s)",
                     gender, row[0]["first_name"], row[0]["n"])
    gap = q.longest_addition_gap(shows).collect()[0]
    log.info("longest release→added gap: %s (%s years)", gap["title"], gap["gap"])
    month = q.busiest_month(shows).collect()[0]
    log.info("busiest month: %s (%s titles)", month["month"], month["n"])
    growth = q.best_tv_show_growth_year(shows).collect()
    if growth:
        log.info("best TV Show growth year: %s (%.1f%%)",
                 growth[0]["release_year"], growth[0]["growth_pct"])
    n_shows = q.shows_featuring(personnel, crew, person).count()
    log.info("%s appears in %s shows", person, n_shows)
    for r in q.frequent_costars(personnel, crew, person).collect():
        log.info("frequent costar: %s (%s shows)", r["name"], r["n"])


def _query_main(argv: list[str]) -> int:
    """Run (or list) the declared testdata analytics inventory."""
    from .plans.analytics import ORACLE, QUERIES

    if argv[0] == "list-queries":
        for name in sorted(QUERIES):
            marker = "" if name in ORACLE else "  (rows-only: no SQL oracle)"
            print(f"{name}{marker}")
        return 0

    parser = argparse.ArgumentParser(prog="cli query",
                                     description="run one declared query")
    parser.add_argument("name", help="query name (see list-queries)")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument("--limit", type=int, default=20,
                        help="max rows to print (full result still computed)")
    parser.add_argument("--explain", action="store_true",
                        help="print the formatted physical plan instead of rows")
    args = parser.parse_args(argv[1:])
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; try list-queries", file=sys.stderr)
        return 2
    spark = get_spark("query-cli")
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def _maintain_main(argv: list[str]) -> int:
    """Table-maintenance ops: small-file compaction, Z-order
    re-clustering, snapshot vacuum — the jobs a 100 TB warehouse runs
    on a schedule, wired thin over the library operators."""
    parser = argparse.ArgumentParser(prog="cli maintain",
                                     description="warehouse maintenance")
    sub = parser.add_subparsers(dest="op", required=True)

    p_compact = sub.add_parser("compact", help="rewrite to target file sizes")
    p_compact.add_argument("src")
    p_compact.add_argument("out")
    p_compact.add_argument("--target-mb", type=int, default=256)

    p_z = sub.add_parser("zorder", help="re-cluster on a space-filling curve")
    p_z.add_argument("src")
    p_z.add_argument("out")
    p_z.add_argument("--cols", required=True, help="comma-separated columns")
    p_z.add_argument("--files", type=int, default=16)

    p_vac = sub.add_parser("vacuum", help="drop old table snapshots")
    p_vac.add_argument("snapshot_dir")
    p_vac.add_argument("--keep", type=int, default=2)

    p_del = sub.add_parser(
        "delete", help="copy-on-write row deletion (rewrites only hit files)"
    )
    p_del.add_argument("src")
    p_del.add_argument("--where", required=True,
                       help="SQL boolean expression over the table's columns")

    args = parser.parse_args(argv[1:])
    if args.op == "vacuum":
        from .streaming.sink import vacuum

        removed = vacuum(args.snapshot_dir, keep_last=args.keep)
        print(f"removed {len(removed)} snapshot(s): {removed}")
        return 0

    spark = get_spark("maintain-cli")
    if args.op == "delete":
        from pyspark.sql import functions as F

        from .sources.parquet import delete_where

        res = delete_where(spark, args.src, F.expr(args.where))
        print(
            f"deleted {res['rows_deleted']} row(s); rewrote "
            f"{res['files_rewritten']} file(s), "
            f"{res['files_untouched']} untouched"
        )
        return 0
    if args.op == "compact":
        from .sources.parquet import compact_parquet

        n = compact_parquet(spark, args.src, args.out,
                            target_bytes=args.target_mb * 1024 * 1024)
        print(f"compacted to {n} file(s) at {args.out}")
        return 0
    from .sources.parquet import zorder_write

    zorder_write(open_parquet(spark, args.src), args.out,
                 [c.strip() for c in args.cols.split(",")], n_files=args.files)
    print(f"z-ordered {args.src} -> {args.out} on {args.cols}")
    return 0


def _curate_main(argv: list[str]) -> int:
    """Corpus curation run: normalize → quality gate → exact dedup →
    near-dup dedup → split → write + manifest, thin over
    plans/curation.py."""
    parser = argparse.ArgumentParser(prog="cli curate",
                                     description="corpus curation pipeline")
    parser.add_argument("input", help="parquet documents table")
    parser.add_argument("out", help="output dir (curated/ rejects/ manifest.json)")
    parser.add_argument("--id-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--min-tokens", type=int, default=5)
    parser.add_argument("--near-dup-threshold", type=float, default=0.6)
    parser.add_argument("--keep", choices=["first", "best"], default="first",
                        help="near-dup survivor rule: min-id or longest member")
    parser.add_argument("--segment-dedup", action="store_true",
                        help="enable exact-substring (10-token segment) dedup stage")
    parser.add_argument("--semantic-dedup", metavar="EMB_PARQUET",
                        help="embeddings parquet enabling the SemDeDup "
                             "semantic-dedup stage (id column mapped via "
                             "--embedding-id-col)")
    parser.add_argument("--embedding-id-col", default="vec_id",
                        help="id column in the embeddings parquet that "
                             "matches the documents --id-col values")
    parser.add_argument("--checkpoint-stages", action="store_true",
                        help="materialize each stage to OUT/stages/ as it "
                             "completes (durable progress a kill can't lose)")
    parser.add_argument("--resume", action="store_true",
                        help="skip stages whose OUT/stages/<name> checkpoint "
                             "exists (implies --checkpoint-stages); outputs "
                             "are row-identical to an uninterrupted run")
    args = parser.parse_args(argv[1:])

    from .plans.curation import CurationConfig, CurationPipeline

    spark = get_spark("curate-cli")
    cfg = CurationConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        min_tokens=args.min_tokens,
        near_dup_threshold=args.near_dup_threshold,
        near_dup_keep=args.keep,
        segment_dedup=args.segment_dedup,
    )
    embeddings = None
    if args.semantic_dedup:
        embeddings = open_parquet(spark, args.semantic_dedup)
        if args.embedding_id_col != args.id_col:
            embeddings = embeddings.withColumnRenamed(
                args.embedding_id_col, args.id_col
            )
    manifest = CurationPipeline(spark, args.out, cfg).run(
        open_parquet(spark, args.input),
        embeddings=embeddings,
        checkpoint_stages=args.checkpoint_stages,
        resume=args.resume,
    )
    if manifest.get("resumed_stages"):
        print(f"resumed (checkpoints reused): {manifest['resumed_stages']}")
    for s in manifest["stages"]:
        print(f"{s['stage']}: {s['rows']} rows")
    print(f"splits: {manifest['splits']}")
    print(f"manifest: {args.out}/manifest.json")
    return 0


def _sketch_rollup_main(argv: list[str]) -> int:
    """Incremental sketch rollup: reduce each arriving shard to
    persisted HLL/KMV state (ledger-idempotent), answer cardinality
    questions from the folded sketches — history is scanned exactly
    once, when its shard arrives (plans/sketch_rollup.py)."""
    parser = argparse.ArgumentParser(prog="cli sketch-rollup",
                                     description="incremental distinct rollup")
    sub = parser.add_subparsers(dest="op", required=True)

    p_in = sub.add_parser("ingest", help="fold one shard into the state dir")
    p_in.add_argument("input", help="parquet shard to summarize")
    p_in.add_argument("--state", required=True, help="sketch state dir")
    p_in.add_argument("--group-cols", default="event_type",
                      help="comma-separated grouping columns")
    p_in.add_argument("--value-col", default="user_id")
    p_in.add_argument("--force", action="store_true",
                      help="re-ingest even if the ledger has the shard")

    p_rep = sub.add_parser("report", help="estimates from the folded state")
    p_rep.add_argument("--state", required=True)
    p_rep.add_argument("--group-cols", default="event_type")
    p_rep.add_argument("--value-col", default="user_id")

    args = parser.parse_args(argv[1:])
    from .plans.sketch_rollup import SketchRollup

    spark = get_spark("sketch-rollup-cli")
    roll = SketchRollup(
        spark, args.state,
        group_cols=tuple(c.strip() for c in args.group_cols.split(",")),
        value_col=args.value_col,
    )
    if args.op == "ingest":
        done = roll.ingest(open_parquet(spark, args.input), args.input,
                           force=args.force)
        print("ingested" if done else "skipped (ledger hit)")
        return 0
    for r in roll.estimates().collect():
        print(dict(r.asDict()))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("query", "list-queries"):
        return _query_main(argv)
    if argv and argv[0] == "maintain":
        return _maintain_main(argv)
    if argv and argv[0] == "curate":
        return _curate_main(argv)
    if argv and argv[0] == "sketch-rollup":
        return _sketch_rollup_main(argv)
    parser = argparse.ArgumentParser(description="Netflix catalog ETL + analytics")
    parser.add_argument("-i", "--input", required=True, help="path to the catalog CSV")
    parser.add_argument("--warehouse", default="/tmp/netflix_warehouse")
    parser.add_argument("--debug", action="store_true",
                        help="verbose logging + purge warehouse first (ref DEBUG)")
    parser.add_argument("--force", action="store_true",
                        help="re-ingest even if the ledger has seen this file")
    args = parser.parse_args(argv)

    # root stays at INFO (py4j is deafening at DEBUG); only our logger
    # gets the debug level — same observable behavior as the reference's
    # DEBUG branch without the gateway noise.
    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    if args.debug:
        log.setLevel(logging.DEBUG)
    if args.debug:
        purge(args.warehouse)

    spark = get_spark("netflix-etl")
    pipe = NetflixPipeline(spark, args.warehouse)
    star = pipe.run(args.input, force=args.force)
    if star is None:
        log.info("input already ingested (ledger hit) — skipping ETL")
    run_analytics(pipe)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
