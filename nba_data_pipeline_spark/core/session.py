"""SparkSession factory tuned for this engine.

Local-mode defaults chosen for the driver harness (local[32], single
JVM); at cluster scale the same config keys are what you'd tune:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to cores, Arrow for any pandas exchange, and
a pinned UTC session timezone so results are reproducible across
environments (and comparable against the DuckDB oracle, whose
timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _cpus() -> str:
    """Core count from the environment, read PER CALL (r17): the old
    import-time module constant froze whatever the env said at first
    import, which silently ignored e.g. tests/conftest.py's
    ``setdefault("SPARK_GRAFT_CPUS", "4")`` — the whole suite ran
    local[32] on row-count-10 fixtures, pure task-launch overhead."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def _shuffle_partitions() -> str:
    """Shuffle width follows the core count (r17, VERDICT r16 #4): a
    pinned literal left the 8-core bench run with 32-wide exchanges —
    4 tasks of pure scheduling overhead per core. Explicit override
    wins; the local default is exactly the parallelism the driver
    granted, so spread_by_key / window exchanges scale with
    SPARK_GRAFT_CPUS."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _cpus())


def _driver_mem() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` wins; otherwise half the
    host's physical memory, at most the 16g the engine was tuned with
    and at least 1g. A fixed 16g overcommits a 15 GB host with no swap
    (the likeliest cause of the JVM lost mid-run in
    ``tools/gate.py slope scaling``)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):  # no sysconf names on this platform
        return "16g"
    return f"{max(1024, min(16 << 10, (phys // 2) >> 20))}m"


# single source of truth for "small enough to force-broadcast": the
# session's autoBroadcastJoinThreshold AND the explicit-hint size gates
# (e.g. core.data.maybe_broadcast) both read this
AUTO_BROADCAST_BYTES = 64 * 1024 * 1024

# Every runtime-settable conf the engine depends on: how testdata parquet
# is read and the plan shapes the operators are tuned for. get_session
# applies it at build time, and __spark_entry__ re-applies it to a
# session built elsewhere. Static confs (master, memory) and the
# core-count-derived shuffle width live in get_session only.
RUNTIME_CONF: tuple[tuple[str, str], ...] = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.autoBroadcastJoinThreshold", str(AUTO_BROADCAST_BYTES)),
    # testdata writes events.ts as TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects; read it as long and convert in the
    # loader (core.data.load_table)
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # newer testdata stores events.ts as timestamp[us] NTZ; read it
    # as session-zone TIMESTAMP (UTC session => same instant) so
    # unix_micros/window() accept it (core.data.normalize_ts is the
    # belt-and-suspenders cast for sessions built elsewhere)
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    # runtime bloom filters prune the probe side of large joins
    # before the shuffle (explicit: the 100 TB join-pruning lever)
    ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
    # accept subset co-partitioning for joins: two sides already
    # hash-partitioned on a PREFIX of the join keys (e.g. GAME_ID
    # for every join in the declarative lineup plan) join without
    # re-shuffling on the full key tuple. Spark's conservative
    # default (true) exists for skew on low-cardinality subsets;
    # our subset keys are high-cardinality entity ids (GAME_ID,
    # doc_id buckets), and AQE skew-join splitting stays on as the
    # backstop
    ("spark.sql.requireAllClusterKeysForCoPartition", "false"),
)


def get_session(app_name: str = "nba_data_pipeline_spark", **extra_conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Any ``extra_conf`` key/value pairs override the defaults. The
    builder reuses an existing session if one is alive (standard Spark
    semantics), so tests share one JVM.
    """
    builder = (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _shuffle_partitions())
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (*RUNTIME_CONF, *extra_conf.items()):
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
