"""Incremental sketch rollup — the mergeable-state pattern as a
PIPELINE: per-shard HLL register tables and KMV hash sets persisted as
parquet, folded on read, with the same ledger idempotency contract as
the reference's ETL driver (``task.py:289`` check_history →
``sources/ledger.py``).

Why this exists: at 100 TB, "distinct users per segment, updated per
ingest" cannot re-scan history — the only scalable shape is (a) reduce
each arriving shard to O(registers + k) sketch state, (b) persist that
state next to the warehouse, (c) answer every cardinality question by
folding the tiny persisted sketches (``hll_merge``/``kmv_merge`` are
exactly one-shot-equivalent — property-tested in
tests/test_scale_patterns.py). History is touched exactly once, when
its shard arrives.

Crash/replay discipline (mirrors ``NetflixPipeline.run``): each shard
writes to its OWN subdirectory with overwrite mode, and the ledger is
recorded only AFTER a successful write — so a retry after a partial
write overwrites its own half-written slice (the retry path is the
normal path), a replayed shard is skipped by the ledger, and
``force=True`` replaces the slice in place.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import (
    hll_estimate,
    hll_merge,
    hll_sketch,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)
from ..sources.catalog import open_parquet
from ..sources.ledger import Ledger, read_marker, write_marker


def _slug(name: str) -> str:
    """Filesystem-safe shard directory name: a digest of the full
    shard name (path-keying, not basename — two shards that share a
    basename must not collide, the NetflixPipeline rule)."""
    return hashlib.md5(name.encode()).hexdigest()[:16]


class SketchRollup:
    """Per-shard sketch state under ``state_dir``:

    - ``state_dir/hll/<slug>/``  — (group…, reg, mr) register table
    - ``state_dir/kmv/<slug>/``  — (group…, h) k-minimum hash set
    - ``state_dir/ledger/``      — shard names already folded (markers)
    - ``state_dir/config``       — the configuration stamp (a marker)

    ``group_cols``/``value_col``/``k`` are fixed per rollup (state
    from different configurations must not fold together, so they are
    constructor state, not ingest parameters)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        group_cols: tuple[str, ...] = ("event_type",),
        value_col: str = "user_id",
        k: int = 64,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.group_cols = tuple(group_cols)
        self.value_col = value_col
        self.k = k
        self.ledger = Ledger(spark, os.path.join(state_dir, "ledger"))

    # -- config marker: sketches from different configurations must
    # never fold together (different group_cols/value_col change what
    # a register row MEANS; different k changes the KMV contract), so
    # the first ingest stamps the configuration into the state dir and
    # every later ingest/estimate validates against it. Stored as a
    # JSON marker through the ledger's Hadoop-FS helpers (any scheme,
    # no Spark job). Only a MISSING marker counts as first use; a read
    # failure on an existing one raises — failing open would skip the
    # very validation this marker exists for. The stamp never
    # overwrites: of two concurrent FIRST ingests, the second stamp
    # raises FileExistsError instead of silently relabeling the first
    # shard's state. State from the older parquet format (a ``config``
    # directory, a parquet ledger) is not read: rebuild it in a fresh
    # state dir (an ingest into it fails its stamp the same way).

    def _config(self) -> dict:
        return {
            "group_cols": ",".join(self.group_cols),
            "value_col": self.value_col,
            "k": self.k,
        }

    def _check_or_stamp_config(self, *, stamp: bool) -> None:
        path = os.path.join(self.state_dir, "config")
        mine = self._config()
        stored = read_marker(self.spark, path)
        if stored is None:
            if stamp:
                write_marker(self.spark, path, json.dumps(mine))
            return
        row = json.loads(stored)
        if row != mine:
            raise ValueError(
                f"sketch state at {self.state_dir} was built with "
                f"{row}, not {mine} — refusing to fold incompatible "
                "sketches (use a fresh state_dir)"
            )

    def ingest(
        self, df: DataFrame, shard_name: str, *, force: bool = False
    ) -> bool:
        """Reduce one shard to sketch state and persist it. Returns
        False if the ledger already has the shard (and ``force`` is
        off) — the idempotent-replay path.

        Crash window: on FIRST ingest the ledger is recorded only
        after both writes, so a kill mid-ingest re-runs cleanly. A
        ``force=True`` re-ingest of an already-recorded shard killed
        between the two overwrites leaves mixed hll/kmv generations
        that a plain re-run would SKIP (ledger hit) — re-run the
        force until it completes (force is an operator action; the
        overwrites are idempotent)."""
        seen = self.ledger.seen(shard_name)  # ONE ledger read per ingest
        if seen and not force:
            return False
        self._check_or_stamp_config(stamp=True)
        slug = _slug(shard_name)
        hll = hll_sketch(df, self.value_col, group_cols=self.group_cols)
        hll.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, "hll", slug)
        )
        kmv = kmv_sketch(
            df, self.value_col, k=self.k, group_cols=self.group_cols
        )
        kmv.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, "kmv", slug)
        )
        if not seen:  # force replays stay single in the ledger
            self.ledger.record(shard_name)
        return True

    def _shards(self, kind: str) -> DataFrame:
        """Union read of every persisted shard slice of one kind, via
        EXPLICIT child listing (Hadoop FS API) instead of a `kind/*`
        glob: globs make Spark probe `kind/*` itself for a streaming
        `_spark_metadata` dir, logging a benign-but-noisy
        FileNotFoundException stack per read (it leaked past the bench
        driver's line filters), and on object stores a listing beats a
        glob expansion anyway. Missing/empty state raises the
        descriptive no-shards error for BOTH kinds (ADVICE r7)."""
        sc = self.spark.sparkContext
        base = sc._jvm.org.apache.hadoop.fs.Path(
            os.path.join(self.state_dir, kind)
        )
        fs = base.getFileSystem(sc._jsc.hadoopConfiguration())
        paths = (
            [
                st.getPath().toString()
                for st in fs.listStatus(base)
                if st.isDirectory()
            ]
            if fs.exists(base)
            else []
        )
        if not paths:
            raise ValueError(
                f"no shards ingested at {self.state_dir} — call "
                "ingest() at least once before estimates()"
            )
        return open_parquet(self.spark, *paths)

    def estimates(self) -> DataFrame:
        """Fold ALL persisted shard sketches and estimate per group:
        ``group_cols + (hll_est, kmv_est)``. Cost is
        shards × groups × (256 + k) rows — metadata-scale regardless
        of how much raw history the shards summarized. The fold IS the
        property-tested ``hll_merge``/``kmv_merge`` operators, applied
        to the shard-directory union read (no re-implemented fold that
        could drift from the merge contract — code-review r7)."""
        self._check_or_stamp_config(stamp=False)
        # (_shards raises the descriptive no-shards error on a
        # config-only or brand-new state dir — ADVICE r7)
        hll_folded = hll_merge(
            self._shards("hll"), group_cols=self.group_cols
        )
        hll_est = hll_estimate(hll_folded, group_cols=self.group_cols)
        kmv_folded = kmv_merge(
            self._shards("kmv"), k=self.k, group_cols=self.group_cols
        )
        kmv_est = kmv_estimate(
            kmv_folded, k=self.k, group_cols=self.group_cols
        )
        join_on = list(self.group_cols)
        joined = (
            hll_est.join(kmv_est, join_on)
            if join_on
            # global (ungrouped) rollup: both sides are one row
            else hll_est.crossJoin(kmv_est)
        )
        out = joined.select(
            *self.group_cols,
            F.col("hll_raw").alias("hll_est"),
            F.col("kmv_raw").alias("kmv_est"),
        )
        return out.orderBy(*self.group_cols) if self.group_cols else out
