"""Testdata loaders: typed parquet reads with timestamp normalization.

The driver's synthetic tables (TESTDATA.md) are plain parquet; the one
quirk is ``events.ts``, whose physical type has drifted across testdata
generations:

- TIMESTAMP(NANOS): Spark can read it only as a nanosecond long
  (``spark.sql.legacy.parquet.nanosAsLong``); we floor-divide to
  microseconds (identical to DuckDB's ns->us truncation).
- timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
  ``TIMESTAMP_NTZ``, which ``unix_micros``/``window()`` reject. Under
  the pinned UTC session timezone, a cast to ``timestamp`` preserves
  the wall-clock instant and agrees with DuckDB ``epoch_us``.

``load_table`` normalizes every known event-time column to a true
session-zone TimestampType so downstream operators never see the
storage type. All engine code MUST read testdata through here (or use
:func:`ts_micros` on externally-supplied frames) — never call
``unix_micros`` on a raw parquet column.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# event-time columns whose parquet storage type must be normalized
_TS_COLS = {"events": ("ts",)}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Return ``df`` with ``col`` as a session-zone TimestampType,
    whatever the storage type was (nanos-as-long, TIMESTAMP_NTZ, or
    already TIMESTAMP)."""
    dtype = dict(df.dtypes).get(col)
    if dtype in ("bigint", "long"):
        # integer `div`, not `/`: float division of epoch-nanos loses
        # ulps and shifts some values by 1 microsecond
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif dtype == "timestamp_ntz":
        # UTC session => wall-clock == instant; matches DuckDB epoch_us
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ts_micros(col: str | Column) -> Column:
    """Epoch-microseconds of an event-time column, tolerant of
    TIMESTAMP_NTZ / DATE inputs (cast is a no-op on TIMESTAMP).

    ONLY for temporal-typed columns: an integer column cast to
    timestamp is read as epoch-SECONDS and silently saturates for
    epoch-nanos values — operators with DataFrame access must reject
    or normalize integer event-time columns first (``normalize_ts`` /
    ``require_temporal``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def require_temporal(df: DataFrame, col: str) -> None:
    """Fail loudly when ``col`` is not a temporal type — the guard
    operators call before ``ts_micros`` so a raw epoch-long column
    (e.g. nanos-as-long events.ts read outside ``load_table``) raises
    instead of silently saturating through a seconds-cast."""
    dtype = dict(df.dtypes).get(col)
    if dtype not in ("timestamp", "timestamp_ntz", "date"):
        raise ValueError(
            f"column {col!r} has type {dtype!r}; expected a temporal type — "
            "normalize integer epoch columns first (core.data.normalize_ts)"
        )


def spread_by_key(
    df: DataFrame,
    *key_cols: str,
    target: int | None = None,
    always: bool = False,
) -> DataFrame:
    """Hash-repartition ``df`` on ``key_cols`` BEFORE CPU-heavy per-row
    fan-out (gram/token explodes, per-row hashing) so the map side runs
    at cluster parallelism.

    Why before and not after the explode (guide §2.3/§2.5/§8): the
    input rows are the COMPACT form — a document row explodes into
    hundreds of gram rows, each carrying key+position+hash bytes — so
    exchanging documents moves ~30x fewer bytes than exchanging gram
    rows, at any scale. It also fixes the unsplittable-small-input case
    (a single parquet row group scans as ONE task; every downstream
    expression runs single-threaded until the first exchange).

    Two modes:

    - ``always=True``: unconditional. For pipelines whose next keyed
      operator (window/aggregate on ``key_cols``) would otherwise
      exchange the EXPLODED rows — the repartition replaces that
      exchange with a strictly cheaper one, so it is right at every
      scale.
    - default (conditional): fires only when the optimizer's byte
      estimate says the input is too small to fill ``goal`` healthy
      partitions (under ``goal`` x 64 MB). For pipelines that
      materialize a checkpoint after the fan-out (losing partitioning,
      so downstream re-exchanges regardless) the repartition only pays
      for itself when the map side is starved for parallelism — i.e.
      small or unsplittable inputs; at 100 TB the scan's estimate is
      far past the threshold and this is a no-op. (The gate reads
      bytes, not the actual partition count — an already-wide but
      byte-small input still pays the exchange; callers with heavy
      per-row payloads should not use the conditional mode, see
      multimodal.)

    ``target`` defaults to the session's default parallelism. The
    explicit partition count keeps AQE from coalescing the tiny
    local-mode exchange back to one partition, which would serialize
    the fan-out again.

    Implementation note (r16): the narrowness test must not call
    ``df.rdd`` — converting a fresh DataFrame to an RDD compiles the
    physical plan and measured ~180 ms of driver time PER CALL, more
    than the win on sub-second queries. The conditional gate reads the
    optimizer's size estimate instead (~20 ms on scan-shallow inputs):
    an input too small to fill ``goal`` healthy partitions gets
    spread; anything bigger (or with unavailable stats) is left alone,
    which is the safe no-op at cluster scale."""
    sess = df.sparkSession
    try:
        shuffle_parts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        shuffle_parts = 0
    goal = max(
        target or max(sess.sparkContext.defaultParallelism, shuffle_parts),
        1,
    )
    if not always:
        try:
            est = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:  # stats unavailable (e.g. Connect): leave alone
            return df
        if est >= goal * (64 << 20):
            return df
    return df.repartition(goal, *key_cols)


_NOCKPT_ANNOUNCED = False


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` — the shared-materialization
    device for frames feeding multiple plan branches — unless
    ``SPARK_GRAFT_EXPLAIN_NOCKPT=1`` (read per call): a checkpoint
    truncates ``explain`` at ``Scan ExistingRDD``, hiding the upstream
    pipeline, so plan-evidence captures (tools/capture_plans.py) set
    the flag to see the full operator tree. NEVER set it for real
    runs — without the checkpoint each consumer re-derives the
    pipeline (r17, VERDICT r16 #6). The first checkpoint the flag
    skips in a process prints one stderr line, so a run says so."""
    global _NOCKPT_ANNOUNCED
    if os.environ.get("SPARK_GRAFT_EXPLAIN_NOCKPT") == "1":
        if not _NOCKPT_ANNOUNCED:
            _NOCKPT_ANNOUNCED = True
            print(
                "# SPARK_GRAFT_EXPLAIN_NOCKPT=1: lazy_checkpoint is off; "
                "shared frames are re-derived per consumer",
                file=sys.stderr,
            )
        return df
    return df.localCheckpoint(eager=False)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples, lists, ``Row``s or
    dicts) typed by ``schema`` (a StructType or a DDL string), built
    through Arrow. ``createDataFrame(list)`` pickles the rows into an
    RDD that a Python worker re-serializes, which costs a Python-worker
    job (~0.3 s on a 4-core host) every time the frame runs. An Arrow
    table is turned into rows JVM-side, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.

    Values go through ``schema.toInternal`` first, exactly as on the
    list path: dates become day numbers and naive datetimes are read in
    the driver's local zone (a plain ``pa.array`` would read them as
    UTC). A NULL in a non-nullable column raises. The table is cut into
    ``min(len(rows), defaultParallelism)`` record batches, one
    partition each."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    width = len(schema.fields)
    internal = []
    for r in rows:
        # before toInternal, whose zip would drop a long row's extras
        if isinstance(r, (tuple, list)) and len(r) != width:
            raise ValueError(f"row has {len(r)} fields, schema has {width}: {r!r}")
        internal.append(schema.toInternal(r))

    def batch(part: list) -> pa.RecordBatch:
        cols = [
            pa.array([r[i] for r in part], type=arrow.field(i).type)
            for i in range(width)
        ]
        for f, col in zip(schema.fields, cols):
            if not f.nullable and col.null_count:
                raise ValueError(f"NULL in non-nullable column {f.name!r}")
        return pa.RecordBatch.from_arrays(cols, schema=arrow)

    # no rows still make one (empty) batch: Spark's nested-type
    # timestamp localization rejects a table with no chunks
    m = len(internal)
    n = max(min(m, spark.sparkContext.defaultParallelism), 1)
    parts = [internal[i * m // n:(i + 1) * m // n] for i in range(n)]
    table = pa.Table.from_batches([batch(p) for p in parts], arrow)
    return spark.createDataFrame(table, schema)


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """A zero-row frame of ``schema`` that the optimizer can see is
    empty. ``limit(0)`` lets ``OptimizeLimitZero`` turn it into an
    empty ``LocalRelation`` whatever relation Spark built for the
    rows, and ``PropagateEmptyRelation`` then folds every join and
    union over it away: an append merge into an empty target plans as
    the source alone."""
    return local_frame(spark, [], schema).limit(0)


def maybe_broadcast(
    df: DataFrame,
    flag: bool | None = None,
    estimate_from: DataFrame | None = None,
    fanout: int = 1,
) -> DataFrame:
    """Size-gated broadcast hint (shared by similarity re-joins and the
    TPC-H reshapes — r17 moved it here from operators/similarity).
    ``flag=True``/``False`` force the choice; ``None`` (auto) consults
    Catalyst's optimized-plan size estimate and hints only when the
    frame is provably small — an unconditional hint on a
    fact-table-scale slice would ship it to every executor and OOM the
    build side at 100 TB, because an explicit hint overrides the
    planner's own size check.

    Catalyst's size-only stats do NOT shrink through filters and can
    EXPLODE through joins (size-only join estimate is a product) or
    ``Generate`` fan-outs. Callers gating a join output or an exploded
    frame pass a conservative upper-bound frame as ``estimate_from`` —
    e.g. the pre-join big side whose key is unique on the other side,
    or the pre-explode frame with the known ``fanout`` multiplier; the
    gate compares estimate x fanout against the session broadcast cap.
    Past the cap the frame is returned un-hinted and the planner
    (auto-broadcast threshold, else SMJ) decides."""
    from .session import AUTO_BROADCAST_BYTES

    if flag is True:
        return F.broadcast(df)
    if flag is False:
        return df
    probe = estimate_from if estimate_from is not None else df
    try:
        stats = probe._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes())) * max(fanout, 1)
    except Exception:
        # stats unavailable (e.g. Connect): leave the choice to the
        # planner's own autoBroadcast threshold
        return df
    return F.broadcast(df) if size <= AUTO_BROADCAST_BYTES else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLS.get(name, ()):
        df = normalize_ts(df, col)
    return df

