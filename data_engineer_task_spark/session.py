"""SparkSession factory tuned for this engine.

Local mode for tests/bench (one JVM, N threads); the same settings are
what we'd ship to a real cluster except the master/memory lines:
 - AQE on (runtime coalesce, skew-join splitting) — the 100 TB story
 - shuffle partitions sized to cores locally; on a cluster this would
   be ~2-3× total executor cores, with AQE coalescing the tail
 - UTC session timezone so results compare bit-for-bit with the DuckDB
   oracle (duckdb timestamps are UTC-naive)
 - Arrow enabled for any pandas interchange (Pandas UDF fast path)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The driver heap defaults to 3/8 of the host's RAM, at most 48 GiB: a
# 128 GiB host keeps 48g, a 16 GiB host gets 6g (the whole test tier
# runs there; a 48g heap grows past physical RAM and the JVM is
# OOM-killed). SPARK_GRAFT_DRIVER_MEM overrides it.
_MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` sized from ``MemTotal`` in ``meminfo``;
    48g when the file is unreadable."""
    try:
        with open(meminfo) as fh:
            kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{max(1024, min(_MAX_DRIVER_MEM_MB, kb * 3 // 8 // 1024))}m"


def _workers_import_package() -> None:
    """Put the package's parent directory on the ``PYTHONPATH`` the
    gateway JVM inherits, so Python workers (Arrow UDFs, streaming
    Python sinks) import ``data_engineer_task_spark`` from any working
    directory, not only from the one holding the package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


def get_spark(
    app_name: str = "data_engineer_task_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Idempotent via getOrCreate."""
    cpus = cpus or DEFAULT_CPUS
    _workers_import_package()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen class cache (r10 optimization, guide §1
        # measurement): the default is 100 entries, keyed on generated
        # source — an application serving a diverse query inventory
        # (this engine declares 250) evicts, regenerates,
        # janino-recompiles and HotSpot-re-JITs every query's classes
        # on EVERY execution. Measured on the full bench: one pass
        # over the inventory burned 467 s of JIT compiler CPU and
        # inflated codegen-heavy entries 3-8x over their warm cost
        # (doc_bpe_phrase_merges 16.2 s -> 4.1 s steady-state after
        # the fix). Sized O(distinct plans), not per-core, so it is
        # scale-independent; Metaspace cost measured +~90 MiB for the
        # whole inventory. The larger code cache keeps the retained
        # classes' native code from flush churn (measured 130/232 MiB
        # used at default size with the cache fix in place).
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"),
        )
    )
    # Env-overridable like the cache size (ADVICE r10), and APPENDED to
    # any caller-supplied extraJavaOptions instead of silently replaced.
    code_cache = os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m")
    jvm_opts = f"-XX:ReservedCodeCacheSize={code_cache}" if code_cache else ""
    extra_conf = dict(extra_conf or {})
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
    merged = " ".join(x for x in (jvm_opts, caller_opts) if x)
    if merged:
        builder = builder.config("spark.driver.extraJavaOptions", merged)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
