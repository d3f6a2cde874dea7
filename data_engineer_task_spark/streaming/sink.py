"""Streaming → warehouse merge sink (foreachBatch upsert).

Structured Streaming's file sink is append-only; real pipelines need
UPSERT (keep the latest version per key) into a queryable table. With
a transactional format that's ``MERGE INTO``; on plain parquet the
equivalent is this foreachBatch pattern: each micro-batch merges into
the previous snapshot with ``keep_latest`` and commits a NEW versioned
snapshot directory, then atomically swaps a pointer file. Readers
always see a complete snapshot (never a half-written directory); a
replayed epoch whose commit already landed is detected via the pointer
and skipped — idempotent without ever reading and overwriting the same
directory. This is the snapshot-isolation core of a table format,
small enough to audit.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from ..operators.upsert import keep_latest
from ..sources.catalog import open_parquet

_POINTER = "_LATEST"


def _check_local(path: str) -> None:
    """The pointer/vacuum bookkeeping uses driver-local file APIs
    (atomic os.replace for the pointer swap). On a remote scheme those
    would silently write to the driver's local disk while the data
    lands remotely — every epoch would then see prev=None and emit a
    batch-only 'snapshot'. Refuse loudly; a cluster deployment swaps
    these few calls onto the Hadoop FileSystem API or a transactional
    table format."""
    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"snapshot sink bookkeeping is local-filesystem only (got "
            f"{scheme!r}); port the pointer ops to Hadoop FS for {path!r}"
        )


def read_snapshot(
    spark: SparkSession, out_dir: str, version: str | int | None = None
) -> DataFrame | None:
    """Committed snapshot: the current one (pointer) by default, or a
    specific retained ``version`` ("v3" or 3) — time travel across the
    epochs ``vacuum`` hasn't reclaimed. None before the first commit;
    ValueError for a named version that doesn't exist."""
    _check_local(out_dir)
    if version is not None:
        v = version if isinstance(version, str) else f"v{version}"
        path = os.path.join(out_dir, v)
        if not os.path.isdir(path):
            raise ValueError(f"snapshot {v!r} not present in {out_dir}")
        return open_parquet(spark, path)
    ptr = os.path.join(out_dir, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        version = fh.read().strip()
    return open_parquet(spark, os.path.join(out_dir, version))


def list_versions(out_dir: str) -> list[str]:
    """Retained snapshot versions, oldest → newest (epoch order)."""
    _check_local(out_dir)
    if not os.path.isdir(out_dir):
        return []
    vs = [
        d
        for d in os.listdir(out_dir)
        if d.startswith("v") and d[1:].isdigit()
        and os.path.isdir(os.path.join(out_dir, d))
    ]
    return sorted(vs, key=lambda v: int(v[1:]))


def vacuum(out_dir: str, *, keep_last: int = 1) -> list[str]:
    """Reclaim old snapshots, keeping the newest ``keep_last`` plus
    (always) the pointer's target — the retention op every
    snapshot-versioned table needs, or storage grows with every epoch.
    Returns the versions removed."""
    import shutil

    _check_local(out_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    ptr = os.path.join(out_dir, _POINTER)
    current = None
    if os.path.exists(ptr):
        with open(ptr) as fh:
            current = fh.read().strip()
    versions = list_versions(out_dir)
    keep = set(versions[-keep_last:])
    if current:
        keep.add(current)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(out_dir, v))
            removed.append(v)
    return removed


def _commit(out_dir: str, version: str) -> None:
    """Atomically repoint the snapshot pointer (write-temp + rename —
    POSIX rename is atomic on one filesystem)."""
    ptr = os.path.join(out_dir, _POINTER)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, ptr)


def snapshot_diff(
    spark: SparkSession, out_dir: str, v_from: str | int, v_to: str | int
) -> DataFrame:
    """Change feed between two retained snapshots: the rows of
    ``v_to`` that are new or changed since ``v_from`` (row-level
    EXCEPT — under keep-latest merge semantics that is exactly the
    upsert set applied in between). Lets downstream consumers process
    incrementally instead of re-reading full snapshots."""
    newer = read_snapshot(spark, out_dir, v_to)
    older = read_snapshot(spark, out_dir, v_from)
    return newer.exceptAll(older)


def stream_merge_to_warehouse(
    stream_df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    version_cols: list[str],
    *,
    checkpoint_dir: str | None = None,
):
    """Start the merge sink on a streaming DataFrame; returns the
    StreamingQuery (caller drives/stops it). Each epoch:
    previous snapshot ∪ batch → keep_latest → snapshot v{epoch} →
    pointer swap.

    Replay safety: an epoch whose commit already landed (pointer ==
    v{epoch}) is skipped — without the guard the merge would READ the
    pointer's snapshot and OVERWRITE the same directory, which Spark
    rejects ('cannot overwrite a path that is also being read from'),
    wedging the query on every restart. An epoch LOWER than the
    committed pointer means the source was restarted without its
    checkpoint (epoch ids reset to 0) — that must fail loudly, not
    overwrite old versions and rewind the pointer past newer
    snapshots."""
    _check_local(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ptr = os.path.join(out_dir, _POINTER)
        cur = None
        if os.path.exists(ptr):
            with open(ptr) as fh:
                cur = int(fh.read().strip().lstrip("v"))
        if cur is not None:
            if epoch_id == cur:
                return  # replay of a fully-committed epoch — idempotent skip
            if epoch_id < cur:
                raise RuntimeError(
                    f"epoch {epoch_id} < committed v{cur}: the stream was "
                    "restarted without its checkpoint; reuse checkpoint_dir "
                    "or start a fresh out_dir"
                )
        prev = read_snapshot(spark, out_dir)
        base = prev.unionByName(batch_df) if prev is not None else batch_df
        merged = keep_latest(base, key_cols, version_cols)
        version = f"v{epoch_id}"
        merged.write.mode("overwrite").parquet(os.path.join(out_dir, version))
        _commit(out_dir, version)

    writer = stream_df.writeStream.outputMode("update").foreachBatch(merge_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
