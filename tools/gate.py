"""Measurement gates: one result hash, one floor, one slope timer.

    python tools/gate.py oracle [sf_dir] [name...]    # DuckDB-oracle sweep (default sf0.01)
    python tools/gate.py oracle --preflight [--fast]  # multi-scale sweep before hand-off
    python tools/gate.py determinism [sf_dir] [name...]
    python tools/gate.py floors name [name...]        # bench.py's isolated floors
    python tools/gate.py slope EXPERIMENT [runs]      # scaling evidence (see SLOPES)

``oracle`` runs every ``__spark_entry__.queries()`` entry, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet and compares
type families, row count, sorted column names and an order-insensitive
value hash. ``--preflight`` runs it over the full registry at sf0.001
and sf0.01 and over the first 50 registry entries (the sampled
correctness window) at sf0.1 (``--fast``: sf0.01 only), each stage in
its own process.

``determinism`` runs each query in two sessions with different shuffle
widths (7 and 13) and reports every query whose value hash moves: the
arbitrary-survivor bug class (a row_number over an under-specified
order, a first() without sort) is invisible to a single-run oracle.

``floors`` uses bench.py's floor protocol and constants: a fresh
session per query, one untimed warm run, then the best of
``bench.FLOOR_RUNS`` timed ``.count()`` runs, at ``bench.SF_DIR``
($SPARK_GRAFT_SF_DIR).

``slope`` experiments time a fixed unit of work at growing scales and
print the log-log slope between consecutive scales:
slope = log(t2/t1) / log(n2/n1); 1.0 is linear in the scaled input,
0.0 is flat. Their docstrings hold each experiment's claim and bar.
``slope merge_phases`` is the one probe among them: jobs and seconds
per phase of a snapshot merge, with no scaling and no bar.

This module imports neither pyspark nor duckdb at load time: bench.py
and the tests import ``floor`` from here.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

DATA = "/root/testdata"  # the sf0.001 / sf0.01 / sf0.1 tables of TESTDATA.md
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


# --------------------------------------------------------------------------
# result hash
# --------------------------------------------------------------------------

def norm_value(v) -> str:
    """Engine-neutral text of one result value: NULL, bools as 0/1,
    floats rounded to 9 digits (NaN spelled out), bytes as their md5,
    lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return hashlib.md5(bytes(v)).hexdigest()
    if isinstance(v, list):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def _row_lines(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["|".join(norm_value(r[i]) for i in order) for r in rows]


def table_hash(rows, cols) -> str:
    """md5 over the sorted normalised rows, columns in name order: the
    hash ignores row order and column order."""
    h = hashlib.md5()
    for line in sorted(_row_lines(rows, cols)):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# timing
# --------------------------------------------------------------------------

clock = time.perf_counter


class MinTimer:
    """Best (minimum) wall seconds over every ``with timer:`` block."""

    def __init__(self) -> None:
        self.best = math.inf

    def __enter__(self) -> MinTimer:
        self._t0 = clock()
        return self

    def __exit__(self, *exc) -> None:
        self.best = min(self.best, clock() - self._t0)


def best_of(runs: int, action):
    """``(best seconds, last result)`` over ``runs`` timed calls."""
    timer = MinTimer()
    for _ in range(runs):
        with timer:
            out = action()
    return timer.best, out


def floor(fn, spark, sf_dir: str, runs: int, warm: bool):
    """``(best seconds, rows)`` of ``fn(spark, sf_dir).count()`` over
    ``runs`` timed runs, after one untimed warm run when ``warm``."""
    def action():
        return fn(spark, sf_dir).count()

    if warm:
        action()
    return best_of(runs, action)


def fresh_floor(fn, sf_dir: str, runs: int, app: str):
    """``floor(..., warm=True)`` in a fresh SparkSession (new context,
    empty block manager, cold codegen cache), stopped afterwards."""
    from nba_data_pipeline_spark.core.session import get_session

    spark = get_session(app)
    try:
        return floor(fn, spark, sf_dir, runs, warm=True)
    finally:
        spark.stop()


def slopes(points) -> list[tuple]:
    """``(n1, n2, slope)`` between consecutive ``(n, seconds)`` points."""
    return [
        (n1, n2, math.log(t2 / t1) / math.log(n2 / n1))
        for (n1, t1), (n2, t2) in zip(points, points[1:])
    ]


@contextmanager
def scratch_dir(prefix: str):
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _session(app: str, cpus: str | None = "16", shuffle: str | None = "32"):
    """get_session with this tool's env defaults (an exported
    SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS wins)."""
    for var, value in (("CPUS", cpus), ("SHUFFLE_PARTITIONS", shuffle)):
        if value is not None:
            os.environ.setdefault(f"SPARK_GRAFT_{var}", value)
    from nba_data_pipeline_spark.core.session import get_session

    return get_session(app)


# --------------------------------------------------------------------------
# oracle
# --------------------------------------------------------------------------

def _duck_family(t):
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
             "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL") or t == "HUGEINT":
        # fetchall() happens to return Python ints/Decimals that may
        # still hash equal locally, but a pandas/arrow fetch path
        # maps these to float64/decimal128 — not engine-portable.
        return "NONPORTABLE:" + t
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "NONPORTABLE:" + t  # harness rule: timestamps leave as unix micros
    return t.lower()


def _spark_family(dt):
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return "NONPORTABLE:" + s
    if s == "boolean":
        return "bool"
    if s == "string":
        return "str"
    if s.startswith("timestamp") or s == "date":
        return "NONPORTABLE:" + s
    return s


def type_parity_problems(sdf, rel):
    """Type-parity gate: the external checker's hash normalization is
    unknown, so the only safe contract is bit-identical Python types on
    both sides. Flags (a) any DuckDB/Spark type-family divergence per
    column and (b) families whose Python representation depends on the
    fetch path (HUGEINT, DECIMAL, raw timestamps)."""
    sfam = {f.name: _spark_family(f.dataType) for f in sdf.schema.fields}
    dfam = dict(zip(rel.columns, (_duck_family(t) for t in rel.types)))
    problems = []
    for col in sorted(set(sfam) & set(dfam)):
        a, b = sfam[col], dfam[col]
        if a != b or a.startswith("NONPORTABLE") or b.startswith("NONPORTABLE"):
            problems.append(f"type[{col}] spark={a} duck={b}")
    return problems


def oracle(sf_dir: str, only: set[str]) -> int:
    import duckdb

    import __spark_entry__ as entrymod

    spark = _session("oracle_check", cpus="8", shuffle="8")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(exc)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows, cols={scols} ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(exc)[:300]}")
            continue
        problems = type_parity_problems(sdf, rel)
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems and table_hash(srows, scols) != table_hash(drows, dcols):
            s_lines = Counter(_row_lines(srows, scols))
            d_lines = Counter(_row_lines(drows, dcols))
            problems.append("value hash mismatch")
            problems.append(
                f"spark-only={list(s_lines - d_lines)[:3]} "
                f"duck-only={list(d_lines - s_lines)[:3]}"
            )
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


def preflight(fast: bool) -> int:
    """The oracle sweep at three scales, one process per stage."""
    import __spark_entry__ as entrymod

    stages = [("full registry @ sf0.01 (oracle scale)", f"{DATA}/sf0.01", [])]
    if not fast:
        window = list(entrymod.queries())[:50]
        stages = [("full registry @ sf0.001", f"{DATA}/sf0.001", [])] + stages + [
            ("first-50 window @ sf0.1", f"{DATA}/sf0.1", window)
        ]
    failed = []
    for label, sf_dir, names in stages:
        t0 = time.time()
        print(f"== preflight stage: {label} ({sf_dir}, "
              f"{len(names) if names else 'ALL'} queries) ==", flush=True)
        ok = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "oracle", sf_dir, *names],
            cwd=REPO,
        ).returncode == 0
        print(f"== {label}: {'PASS' if ok else 'FAIL'} in {time.time()-t0:.0f}s ==",
              flush=True)
        if not ok:
            failed.append(label)
    if failed:
        print(f"\nPREFLIGHT FAILED: {failed}")
        return 1
    print("\nPREFLIGHT GREEN: all stages passed")
    return 0


# --------------------------------------------------------------------------
# determinism
# --------------------------------------------------------------------------

def _determinism_pass(sf_dir: str, shuffle_parts: str, names) -> dict:
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = shuffle_parts
    os.environ["SPARK_GRAFT_CPUS"] = "8"
    import __spark_entry__ as entrymod
    from nba_data_pipeline_spark.core.session import get_session

    spark = get_session(f"determinism-{shuffle_parts}")
    qs = entrymod.queries()
    out = {}
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            rows = df.collect()
            out[name] = (len(rows), table_hash(rows, df.columns))
            status = "ok"
        except Exception as exc:  # noqa: BLE001
            out[name] = ("ERR", f"{type(exc).__name__}: {exc}"[:200])
            status = "ERR"
        print(f"# pass[{shuffle_parts}] {name}: {status} ({time.time()-t0:.1f}s)",
              file=sys.stderr, flush=True)
    spark.stop()
    return out


def determinism(sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entrymod

    names = [n for n in entrymod.queries() if not only or n in only]
    a = _determinism_pass(sf_dir, "7", names)
    b = _determinism_pass(sf_dir, "13", names)
    errs = [n for n in names if a[n][0] == "ERR" or b[n][0] == "ERR"]
    bad = [n for n in names if n not in errs and a[n] != b[n]]
    for n in bad:
        print(f"NONDETERMINISTIC {n}: {a[n]} vs {b[n]}")
    for n in errs:
        print(f"ERROR {n}: {a[n]} / {b[n]}")
    print(f"\n{len(names)} queries, {len(bad)} layout-dependent, {len(errs)} errors")
    if bad or errs:
        return 1
    print("all queries layout-independent across shuffle-partition settings")
    return 0


# --------------------------------------------------------------------------
# floors
# --------------------------------------------------------------------------

def floors(names: list[str]) -> int:
    import bench
    from nba_data_pipeline_spark import harness

    qs = harness.queries()
    out: dict[str, float] = {}
    for name in names:
        best, _ = fresh_floor(qs[name], bench.SF_DIR, bench.FLOOR_RUNS, "floor-subset")
        out[name] = round(best, 3)
        print(f"# floor {name}: {out[name]}s", file=sys.stderr)
    print(json.dumps(out))
    return 0


# --------------------------------------------------------------------------
# slope experiments
# --------------------------------------------------------------------------

SLOPES: dict[str, tuple] = {}


def experiment(name: str, runs: int = 3):
    """Register a slope experiment and its default run count."""
    def deco(fn):
        SLOPES[name] = (fn, runs)
        return fn

    return deco


def _op_scale_table(ops, scales, runs, name_w: int, unit: str, ok_msg: str) -> int:
    """Time each op at each (label, frame, n) scale, print one row per
    point with the slope from the previous scale, and fail when any
    op's top-scale slope exceeds 1.3."""
    print(f"{'op':<{name_w}} {'scale':<9} {unit:>6} {'sec':>7} {'rows':>8} {'slope':>6}")
    bad = []
    for name, fn in ops:
        points = []
        for label, d, n in scales:
            best, rows = best_of(runs, lambda: fn(label, d).count())
            points.append((n, best))
            s = f"{slopes(points)[-1][2]:.2f}" if len(points) > 1 else ""
            print(f"{name:<{name_w}} {label:<9} {n:>6} {best:>7.2f} {rows:>8} {s:>6}",
                  flush=True)
        top = slopes(points)[-1][2]
        if top > 1.3:
            bad.append((name, round(top, 2)))
    if bad:
        print(f"\nSUPERLINEAR at top scale (> 1.3): {bad}")
        return 1
    print(f"\n{ok_msg}")
    return 0


@experiment("scaling")
def _scaling(runs: int) -> int:
    """Quadratic-candidate dedup operators (winnowing, MinHash-LSH,
    SimHash, n-gram Jaccard) at sf0.01 (500 docs), sf0.1 (5,000) and a
    synthetic 10x of sf0.1 (50,000). Copy c of each document has every
    letter rotated c places (copy 0 is the original), so the sf0.1
    word vocabulary maps to ten disjoint vocabularies: copies share no
    word shingles and the 10x corpus holds ten independent corpora, not
    near-duplicates of each other (expected pair growth ~10x).
    Bucketed candidate generation must keep the top-scale slope <=
    ~1.3 (hot-bucket caps: _prune_hot_fps, max_df_ratio, band
    star-caps)."""
    import string
    from functools import reduce

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
        winnow_fingerprints,
        winnow_match_pairs,
    )

    spark = _session("scaling_slope")
    small = spark.read.parquet(f"{DATA}/sf0.01/documents.parquet")
    mid = spark.read.parquet(f"{DATA}/sf0.1/documents.parquet")
    abc = string.ascii_lowercase
    big = reduce(
        lambda a, b: a.unionByName(b),
        [
            mid.withColumn("doc_id", F.col("doc_id") + c * 1_000_000)
            .withColumn("text", F.translate("text", abc, abc[c:] + abc[:c]))
            for c in range(10)
        ],
    ).coalesce(mid.rdd.getNumPartitions()).localCheckpoint(eager=True)
    scales = [("sf0.01", small, 500), ("sf0.1", mid, 5000), ("sf0.1x10", big, 50000)]

    def op_ngram(_, d):
        banded = d.withColumn("len_band", F.expr("n_chars div 64"))
        return ngram_jaccard_pairs(
            banded, "doc_id", "text", ["lang", "len_band"], n=3, threshold=0.3
        )

    ops = [
        ("winnow_pairs", lambda _, d: winnow_match_pairs(
            winnow_fingerprints(d), min_shared=4, max_df_frac=0.05)),
        ("minhash_lsh_pairs", lambda _, d: minhash_lsh_pairs(
            d, "doc_id", "text", num_perm=32, bands=16, threshold=0.3, eager_probe=True)),
        ("simhash_pairs", lambda _, d: simhash_near_pairs(
            d, "doc_id", "text", max_hamming=12, eager_probe=True)),
        ("ngram_jaccard", op_ngram),
    ]
    small.count(), mid.count(), big.count()  # warm: JVM + parquet footers
    return _op_scale_table(ops, scales, runs, 20, "docs",
                           "all ops within the ~1.3x-linear slope bar at the top scale")


@experiment("ann")
def _ann(runs: int) -> int:
    """ANN / embedding operators with a fixed 50-query batch (the
    serving shape) against sf0.01 (500 vecs), sf0.1 (2,000) and a
    synthetic 10x of sf0.1 (20,000; each copy's vector circularly
    shifted by the copy index so copies decorrelate). Index builds
    (ivf_index, pq_fit, pq_encode) run outside the timer; semantic_dedup
    is a whole-corpus pass, timed with its ivf_index call and
    n_clusters scaled to hold per-cluster width constant. Bar: top-scale
    slope <= ~1.3."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.similarity import (
        ivf_batch_topk,
        ivf_index,
        lsh_batch_topk,
        pq_batch_topk,
        pq_encode,
        pq_fit,
        semantic_dedup,
    )

    dim, n_queries = 64, 50
    spark = _session("ann_slope")
    small = spark.read.parquet(f"{DATA}/sf0.01/embeddings.parquet")
    mid = spark.read.parquet(f"{DATA}/sf0.1/embeddings.parquet")
    copies = spark.range(10).select(F.col("id").alias("_copy"))
    shifted = F.when(F.col("_copy") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("_copy") + 1, F.lit(dim) - F.col("_copy")),
            F.slice(F.col("embedding"), 1, F.col("_copy")),
        )
    )
    big = (
        mid.crossJoin(F.broadcast(copies))
        .withColumn("vec_id", F.col("vec_id") + F.col("_copy") * 1_000_000)
        .withColumn("embedding", shifted)
        .drop("_copy")
        .localCheckpoint(eager=True)
    )
    scales = [("sf0.01", small, 500), ("sf0.1", mid, 2000), ("sf0.1x10", big, 20000)]
    # identical query set at every scale, drawn from the smallest corpus
    queries = small.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=True)

    built: dict[str, dict] = {}
    for label, d, n in scales:
        assigned, centers = ivf_index(d, "embedding", n_lists=max(8, n // 125))
        books = pq_fit(d, "embedding", m=8, k=16)
        built[label] = dict(
            assigned=assigned.localCheckpoint(eager=True), centers=centers, books=books,
            codes=pq_encode(d, books, "embedding", "vec_id").localCheckpoint(eager=True),
            n_clusters=max(4, n // 125),
        )

    ops = [
        ("lsh_batch_topk", lambda label, d: lsh_batch_topk(
            queries, d, "embedding", "vec_id", "vec_id", dim=dim, k=10,
            n_planes=12, multiprobe_bits=1)),
        ("ivf_batch_topk", lambda label, d: ivf_batch_topk(
            built[label]["assigned"], built[label]["centers"], queries, "embedding",
            "vec_id", "vec_id", k=10, n_probe=3)),
        ("pq_batch_topk", lambda label, d: pq_batch_topk(
            queries, built[label]["codes"], built[label]["books"], "embedding",
            "vec_id", "vec_id", k=10)),
        ("semantic_dedup", lambda label, d: semantic_dedup(
            d, "embedding", "vec_id", n_clusters=built[label]["n_clusters"],
            threshold=0.95)),
    ]
    small.count(), mid.count(), big.count()  # warm JVM + footers
    return _op_scale_table(ops, scales, runs, 16, "vecs",
                           "all ANN ops within the ~1.3x-linear slope bar at the top scale")


@experiment("cc", runs=2)
def _cc(runs: int) -> int:
    """A fixed 200-edge batch against a growing converged labeling
    (chain-of-stars graph, 50-node components): from-scratch
    connected_components(old ∪ batch) re-propagates the whole graph,
    incremental_components touches the batch, the label lookup and the
    condensed supernode graph. Expected: incremental flat-ish, the
    recompute growing."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    spark = _session("cc_slope", cpus=None, shuffle=None)
    print(f"history_edges  full_s  incr_s  (min of {runs})")
    for n in (30_000, 100_000, 300_000):
        old = spark.range(n).select(
            (F.col("id") - F.col("id") % 50).alias("id_a"),
            F.col("id").alias("id_b"),
        ).filter(F.col("id_a") != F.col("id_b"))
        labels = connected_components(old).localCheckpoint()
        labels.count()
        batch = spark.range(200).select(
            (F.col("id") * 997 % n).alias("id_a"),
            (F.lit(n) + F.col("id")).alias("id_b"),
        )
        full, incr = MinTimer(), MinTimer()
        for _ in range(runs):
            with full:
                connected_components(old.unionByName(batch)).count()
            with incr:
                incremental_components(labels, batch).count()
        print(f"{n:>13}  {full.best:6.2f}  {incr.best:6.2f}")
    spark.stop()
    return 0


@experiment("graph")
def _graph(runs: int) -> int:
    """Triangle counting on uniform graphs of 100k and 1M edges
    (average degree 10) plus a hub-skewed 1M-edge variant (2% of the
    vertices rewired onto vertex 0, the shape that goes quadratic
    without degree orientation). Bars: size slope <= ~1.3, hub-skew
    ratio <= ~2x (fails above 2.5)."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.graph import triangle_counts

    spark = _session("graph_slope")

    def uniform_graph(n_edges: int, avg_degree: int):
        n_nodes = max(2, 2 * n_edges // avg_degree)
        return spark.range(n_edges).select(
            F.pmod(F.xxhash64(F.col("id") * 2 + 1), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64(F.col("id") * 2 + 2), F.lit(n_nodes)).alias("dst"),
        ).localCheckpoint(eager=True)

    def hub_graph(n_edges: int, avg_degree: int):
        n_nodes = max(2, 2 * n_edges // avg_degree)
        base = uniform_graph(n_edges - n_nodes // 50, avg_degree)
        hub = spark.range(n_nodes // 50).select(
            F.lit(0).cast("long").alias("src"),
            (F.pmod(F.xxhash64("id"), F.lit(n_nodes - 1)) + 1).alias("dst"),
        )
        return base.unionByName(hub).localCheckpoint(eager=True)

    cases = [
        ("uniform-100k", uniform_graph(100_000, 10), 100_000),
        ("uniform-1M", uniform_graph(1_000_000, 10), 1_000_000),
        ("hub-1M", hub_graph(1_000_000, 10), 1_000_000),
    ]
    print(f"{'graph':<14} {'edges':>8} {'sec':>7} {'triangles':>10}")
    times: dict[str, float] = {}
    for label, g, n in cases:
        times[label], tri = best_of(
            runs, lambda: triangle_counts(g).agg(F.sum("triangles")).collect()[0][0] or 0
        )
        print(f"{label:<14} {n:>8} {times[label]:>7.2f} {tri // 3:>10}", flush=True)
    slope = slopes([(100_000, times["uniform-100k"]), (1_000_000, times["uniform-1M"])])[0][2]
    skew_ratio = times["hub-1M"] / times["uniform-1M"]
    print(f"\nsize slope (100k->1M edges): {slope:.2f}  (bar <= 1.3)")
    print(f"hub-skew ratio at 1M edges: {skew_ratio:.2f}x  (bar <= ~2x)")
    if slope > 1.3 or skew_ratio > 2.5:
        return 1
    print("triangle counting within the linearity + skew bars")
    return 0


@experiment("lineup")
def _lineup(runs: int) -> int:
    """lineups_via_range_join (and the exact applyInPandas twin, for
    the Arrow-transfer tax) over the replicated bulk fixture at 100 /
    1,000 / 10,000 games of 300 events, warmed once, cache cleared
    before each timed run. Games are independent units of work, so
    slope <= ~1.1 is the bar; more means a plan defect."""
    from nba_data_pipeline_spark import harness
    from nba_data_pipeline_spark.operators.lineups import (
        lineups_via_range_join,
        track_lineups,
    )

    scales = [100, 1_000, 10_000]
    spark = _session("lineup_slope")
    results: dict[str, list] = {"declarative": [], "exact": []}
    for n_games in scales:
        pbp, rot, tgl = harness._replicated_fixture(spark, n_games, events_mult=50)
        for label, fn in (("declarative", lineups_via_range_join), ("exact", track_lineups)):
            fn(pbp, rot, tgl).count()  # warm
            timer = MinTimer()
            for _ in range(runs):
                spark.catalog.clearCache()  # charge the persist() cost to the run
                with timer:
                    fn(pbp, rot, tgl).count()
            results[label].append((n_games, timer.best))
            print(f"{label:12s} {n_games:6d} games: {timer.best:6.2f}s", flush=True)
    print()
    for label, points in results.items():
        for lo, hi, s in slopes(points):
            print(f"{label:12s} slope {lo}->{hi}: {s:+.2f}")
    return 0


def _fake_manifest(n_files: int) -> dict:
    files = [
        {
            "path": f"data/{i:08x}-00000.parquet",
            "rows": 1000,
            "stats": {"k": {"min": i * 1000, "max": i * 1000 + 999, "has_nulls": False}},
        }
        for i in range(n_files)
    ]
    return {
        "op": "create", "key": ["k"], "stat_cols": [],
        "schema": '{"type":"struct","fields":[]}', "files": files,
        "rows": 1000 * n_files,
    }


@experiment("manifest")
def _manifest(runs: int) -> int:
    """Manifest-layer cost at 100 / 1k / 10k / 100k file entries, no
    Spark: synthesized manifests through the real `_commit`,
    `_load_manifest`, `_split_by_overlap` point prune and vacuum's
    referenced-set build, to give the "graduate to parquet manifest
    lists at very large file counts" note a measured trigger point."""
    from nba_data_pipeline_spark.sinks import snapshot as S

    print(f"{'files':>8}  {'commit':>9}  {'load':>9}  {'prune':>9}  "
          f"{'vacuum-ref':>10}  manifest-bytes")
    for n in (100, 1_000, 10_000, 100_000):
        with scratch_dir("manifest_slope_") as root:
            m = _fake_manifest(n)
            t_commit, v = best_of(runs, lambda: S._commit(root, m, None))
            t_load, loaded = best_of(runs, lambda: S._load_manifest(root, v))
            # point-batch prune over every file's stats (the coarse pass
            # every merge runs before the exact join refinement)
            bounds = {"k": (n * 500, n * 500 + 10, False)}
            t_prune, (touched, _) = best_of(
                runs, lambda: S._split_by_overlap(loaded["files"], ["k"], bounds)
            )
            assert len(touched) == 1, len(touched)
            t_vac, _ = best_of(
                runs, lambda: {os.path.basename(f["path"]) for f in loaded["files"]}
            )
            size = os.path.getsize(S._manifest_path(root, 1))
            print(f"{n:>8}  {t_commit*1e3:>8.1f}ms {t_load*1e3:>8.1f}ms "
                  f"{t_prune*1e3:>8.1f}ms {t_vac*1e3:>9.1f}ms  "
                  f"{size/1024:>8.0f} KiB")
    print(
        "\nInterpretation: all four are linear in file count. At the\n"
        "measured constants a 10k-file table pays ~0.1s of manifest\n"
        "overhead per commit (noise next to any real data write); a\n"
        "100k-file table (100 TB at 1 GiB files) pays ~1s commit +\n"
        "~0.4s load — still small against the job it describes, but\n"
        "the point where the Iceberg-style manifest-list graduation\n"
        "(noted open in the module docstring) starts to earn its\n"
        "complexity. Readers pay the load cost once per query; prune\n"
        "stays in the tens of milliseconds even at 100k files."
    )
    return 0


@experiment("merge")
def _merge(runs: int) -> int:
    """A fixed 1,000-row batch upserted into signature-shaped swap state
    (doc_id + 8-long minhash array) of 100k / 1M / 5M rows: whole-table
    rewrite (slope ~1) vs pmod(xxhash64(key), 256) hive buckets (flat
    once fixed costs amortize)."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks.writer import upsert_table, write_table

    scales = [100_000, 1_000_000, 5_000_000]
    spark = _session("merge_slope", shuffle=None)

    def sigs(lo: int, n: int):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("doc_id"),
            F.array(*[F.xxhash64("id", F.lit(i)) for i in range(8)]).alias("minhash"),
        )

    batch = sigs(10_000_000, 1_000).localCheckpoint(eager=True)
    results: dict[str, list] = {"whole": [], "bucketed": []}
    with scratch_dir("merge_slope_") as work:
        for n in scales:
            for mode in ("whole", "bucketed"):
                path = os.path.join(work, f"{mode}_{n}")
                hist, src, parts = sigs(0, n), batch, ()
                if mode == "bucketed":
                    bcol = F.pmod(F.xxhash64("doc_id"), F.lit(256))
                    hist = hist.withColumn("bucket", bcol)
                    src = batch.withColumn("bucket", bcol)
                    parts = ["bucket"]
                write_table(hist, path, partition_by=parts)
                best, _ = best_of(
                    runs, lambda: upsert_table(spark, src, path, key="doc_id", partition_by=parts)
                )
                results[mode].append((n, best))
                print(f"{mode:9s} history {n:>9,d}: {best:6.2f}s", flush=True)
    print()
    for mode, points in results.items():
        for lo, hi, s in slopes(points):
            print(f"{mode:9s} slope {lo:,}->{hi:,}: {s:+.2f}")
    return 0


@experiment("merge_phases", runs=2)
def _merge_phases(runs: int) -> int:
    """Jobs and seconds per snapshot-merge phase, no scaling and no bar:
    a 300-row append batch (every key new) and a 2-row point batch (one
    existing key, one new) upserted into a 200k-row, 2-file
    bigint-keyed snapshot table, each run into a fresh copy. Each phase
    (bounds, refine, stage:data, stage:cdf, commit) runs in its own job
    group; `other` is the rest of the upsert's jobs, which includes the
    source's shuffle stages that the lazy checkpoint runs at call time."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S

    spark = _session("merge_phases", cpus="4", shuffle="4")
    sc = spark.sparkContext
    phases = ("bounds", "refine", "stage:data", "stage:cdf", "commit")
    seen: dict[str, list] = {}
    outer = ["", ""]

    def timed(name_of, fn):
        def wrapper(*args, **kw):
            name = name_of(kw)
            group = f"{outer[0]}/{name}"
            sc.setJobGroup(group, name)
            t0 = clock()
            try:
                return fn(*args, **kw)
            finally:
                seen.setdefault(name, []).append((group, clock() - t0))
                sc.setJobGroup(outer[0], outer[1])
        return wrapper

    patched = {
        "_batch_bounds": lambda kw: "bounds",
        "_refine_touched": lambda kw: "refine",
        "_stage_files": lambda kw: "stage:cdf" if kw.get("prefix") else "stage:data",
        "_commit": lambda kw: "commit",
    }
    originals = {a: getattr(S, a) for a in patched}

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def keyed(lo: int, n: int, v: int):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"), F.lit(v).cast("long").alias("v")
        )

    batches = {
        "append": keyed(1_000_000, 300, -1),
        "point": keyed(99_999, 1, -2).unionByName(keyed(2_000_000, 1, -2)),
    }
    print(f"{'batch':<7} {'run':>3} {'phase':<11} {'jobs':>5} {'sec':>7}")
    with scratch_dir("merge_phases_") as work:
        base = os.path.join(work, "base")
        S.write_snapshot(spark, keyed(0, 200_000, 0), base, key="k")
        S.compact_snapshot(spark, base, target_rows_per_file=100_000)
        for a, name_of in patched.items():
            setattr(S, a, timed(name_of, originals[a]))
        try:
            for r in range(runs):
                for label, batch in batches.items():
                    root = os.path.join(work, f"{label}{r}")
                    shutil.copytree(base, root)
                    seen.clear()
                    outer[:] = [f"merge_phases-{label}-{r}", label]
                    sc.setJobGroup(*outer)
                    t0 = clock()
                    S.upsert_snapshot(spark, batch, root, "k")
                    total = clock() - t0
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    rows = [(p, jobs(g), sec) for p in phases for g, sec in seen.get(p, [])]
                    rows.insert(0, ("other", jobs(outer[0]),
                                    total - sum(sec for *_, sec in rows)))
                    rows.append(("total", sum(n for _, n, _ in rows), total))
                    for p, n, sec in rows:
                        print(f"{label:<7} {r:>3} {p:<11} {n:>5} {sec:>7.2f}", flush=True)
        finally:
            for a, fn in originals.items():
                setattr(S, a, fn)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    return 0


@experiment("bucketed_snapshot")
def _bucketed_snapshot(runs: int) -> int:
    """A fixed 100-key batch merged into bucket-led snapshot state
    (`streaming/ops.py` `_resolve_state` then `_write_state`, bucket =
    pmod(xxhash64(doc_id), 64) leading the key) of 50k / 500k / 5M rows
    laid out as 256 key-sorted files, against a FLAT key-sorted table
    whose every file envelope the random doc_ids overlap. Reports wall
    time, files rewritten and files carried; expected: rewritten
    constant-ish, bucketed slope well under 1.0 at the top decade."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.streaming.ops import _resolve_state, _write_state

    buckets = 64
    spark = _session("bucketed-snapshot-slope")
    results = []
    for n_rows in (50_000, 500_000, 5_000_000):
        base = spark.range(0, n_rows).select(
            (F.col("id") * 2654435761 % 2**40).alias("doc_id"),
            F.col("id").alias("payload"),
        ).dropDuplicates(["doc_id"])
        batch = base.limit(100).withColumn("payload", F.col("payload") + 1).localCheckpoint()
        row = {}
        for kind in ("bucketed", "flat"):
            with scratch_dir(f"bss_{kind}_{n_rows}_") as root:
                t = os.path.join(root, "t")
                if kind == "bucketed":
                    seed = base.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
                    S.write_snapshot(spark, seed, t, key=["bucket", "doc_id"],
                                     target_files=256, cdf=False)
                else:
                    S.write_snapshot(spark, base, t, key=["doc_id"], target_files=256, cdf=False)
                pre = {e["path"] for e in S._load_manifest(t, S.current_version(t))["files"]}
                timer = MinTimer()
                for r in range(runs):
                    b = batch.withColumn("payload", F.col("payload") + r)  # new value each run
                    with timer:
                        if kind == "bucketed":
                            _write_state(
                                spark, _resolve_state(t, "doc_id", buckets, "snapshot", None), b
                            )
                        else:
                            S.upsert_snapshot(spark, b, t, "doc_id", cdf=False)
                post = {e["path"] for e in S._load_manifest(t, S.current_version(t))["files"]}
                row[kind] = (timer.best, len(post - pre), len(post & pre))
                print(f"# {n_rows:>9,} rows {kind:8s}: {timer.best:6.2f}s  "
                      f"rewrote {len(post - pre):3d} files, carried {len(post & pre):3d}",
                      file=sys.stderr)
        results.append((n_rows, row))

    print("\nscale        bucketed_s  rewrote  carried   flat_s  rewrote  carried")
    for n_rows, row in results:
        bk, fl = row["bucketed"], row["flat"]
        print(f"{n_rows:>9,}  {bk[0]:9.2f}  {bk[1]:7d}  {bk[2]:7d}  "
              f"{fl[0]:7.2f}  {fl[1]:7d}  {fl[2]:7d}")
    for na, nb, s in slopes([(n, row["bucketed"][0]) for n, row in results]):
        print(f"bucketed log-log slope {na:,} -> {nb:,}: {s:.2f}")
    return 0


@experiment("snapshot")
def _snapshot(runs: int) -> int:
    """Snapshot tables (sinks/snapshot.py) vs swap-protocol state
    (sinks/writer.py upsert_table, 16 hash buckets): a fixed 200-key
    batch upserted into 50k / 500k / 5M-row tables of 16 key-sorted
    files, fresh table per run. The point batch (one narrow key range)
    should pin touched files ~constant; the spread batch (keys across
    the keyspace) touches every file and is the honest worst case.
    Also times snapshot_changes(v1 -> v2), which reads changed files
    only."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.sinks.writer import upsert_table

    scales, files, buckets = (50_000, 500_000, 5_000_000), 16, 16
    spark = _session("snapshot_slope")

    def table(n_rows: int):
        return spark.range(n_rows).select(
            F.col("id").alias("k"), (F.col("id") % 997).cast("double").alias("v")
        )

    def batch(n_rows: int, spread: bool):
        step = F.col("id") * (n_rows // 200) if spread else F.col("id") + n_rows // 2
        return spark.range(200).select(step.alias("k"), F.lit(-1.0).alias("v"))

    def bucketed(df):
        return df.withColumn("bucket", F.pmod(F.xxhash64("k"), F.lit(buckets)))

    results: dict[tuple[str, bool, int], float] = {}
    touched: dict[tuple[bool, int], str] = {}
    cdf_times: dict[tuple[bool, int], float] = {}
    for n in scales:
        for spread in (False, True):
            merge, changes = MinTimer(), MinTimer()
            for _ in range(runs):
                with scratch_dir("snapslope_") as root:
                    S.write_snapshot(spark, table(n).repartitionByRange(files, "k"), root, key="k")
                    b = batch(n, spread).localCheckpoint()
                    with merge:
                        S.upsert_snapshot(spark, b, root, "k")
                    v1 = {f["path"] for f in S._load_manifest(root, 1)["files"]}
                    carried = sum(1 for f in S._load_manifest(root, 2)["files"] if f["path"] in v1)
                    touched[(spread, n)] = f"{len(v1) - carried}/{len(v1)}"
                    with changes:  # reads only the files the merge added/removed
                        S.snapshot_changes(spark, root, 1).count()
            results[("snapshot", spread, n)] = merge.best
            cdf_times[(spread, n)] = changes.best
            swap = MinTimer()
            for _ in range(runs):
                with scratch_dir("swapslope_") as root:
                    path = os.path.join(root, "t")
                    upsert_table(spark, bucketed(table(n)), path, "k",
                                 partition_by=["bucket"], buckets=buckets)
                    b = bucketed(batch(n, spread)).localCheckpoint()
                    with swap:
                        upsert_table(spark, b, path, "k", partition_by=["bucket"],
                                     buckets=buckets)
            results[("swap", spread, n)] = swap.best

    def shape(spread):
        return "spread" if spread else "point"

    print(f"\n{'fmt':10} {'batch':8} " + " ".join(f"{n:>12,}" for n in scales)
          + "   slope(last decade)")
    for fmt in ("snapshot", "swap"):
        for spread in (False, True):
            row = [results[(fmt, spread, n)] for n in scales]
            print(f"{fmt:10} {shape(spread):8} "
                  + " ".join(f"{t:>11.2f}s" for t in row)
                  + f"   {slopes(list(zip(scales, row)))[-1][2]:+.2f}")
    print("\nsnapshot touched/total files per scale:")
    for spread in (False, True):
        print(f"  {shape(spread):8} " + " ".join(f"{touched[(spread, n)]:>12}" for n in scales))
    print("\nsnapshot_changes(v1 -> v2) floors (reads only changed files):")
    for spread in (False, True):
        print(f"  {shape(spread):8} "
              + " ".join(f"{cdf_times[(spread, n)]:>11.2f}s" for n in scales))
    return 0


@experiment("state")
def _state(runs: int) -> int:
    """A fixed 1,000-row / 100-key batch folded into bucket-partitioned
    rollup state (`fold_aggregate_state_table`, n_buckets=256) built
    from 50k / 500k / 5M keys, against a whole-state rewrite (in-memory
    fold + full write, slope ~1.0 by construction). ~100 of 256 buckets
    are touched at every scale, so the bucketed slope should stay well
    under 1.0."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.incremental import (
        fold_aggregate_state,
        fold_aggregate_state_table,
    )
    from nba_data_pipeline_spark.sinks.writer import write_table

    spark = _session("state_slope")
    specs = {"n": ("count", "*"), "s": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")}

    def keyspace(n_keys: int):
        return spark.range(n_keys).select(
            F.col("id").alias("k"), (F.col("id") % 997).cast("double").alias("v")
        )

    batch = spark.range(1000).select(
        (F.col("id") % 100).alias("k"),
        (F.col("id") % 31).cast("double").alias("v"),
    ).localCheckpoint()
    bucketed_pts, flat_pts = [], []
    for mult in (1, 10, 100):
        n_keys = 50_000 * mult
        with scratch_dir(f"stateslope_{mult}x_") as work:
            bucketed_p = os.path.join(work, "bucketed")
            flat_p = os.path.join(work, "flat")
            # bootstrap both layouts from the full key population (build
            # cost is amortized history, not the thing under test)
            fold_aggregate_state_table(spark, keyspace(n_keys), bucketed_p, ["k"], specs,
                                       n_buckets=256)
            write_table(fold_aggregate_state(None, keyspace(n_keys), ["k"], specs), flat_p)

            def fold_bucketed():
                fold_aggregate_state_table(spark, batch, bucketed_p, ["k"], specs, n_buckets=256)

            def fold_flat():
                merged = fold_aggregate_state(
                    spark.read.parquet(flat_p), batch, ["k"], specs
                ).localCheckpoint()
                write_table(merged, flat_p)

            if mult == 1:  # warm once
                fold_bucketed()
                fold_flat()
            best_b, _ = best_of(runs, fold_bucketed)
            best_f, _ = best_of(runs, fold_flat)
        bucketed_pts.append((n_keys, best_b))
        flat_pts.append((n_keys, best_f))
        print(f"state {mult:>3}x ({n_keys:>9,} keys): "
              f"bucketed_fold {best_b:6.2f}s   whole-state_fold {best_f:6.2f}s", flush=True)
    print("\nslopes (log t-ratio / log n-ratio; flat = 0.0):")
    for (n1, n2, sb), (_, _, sf_) in zip(slopes(bucketed_pts), slopes(flat_pts)):
        print(f"  {n1 // 50_000}x -> {n2 // 50_000}x: bucketed slope {sb:+.2f}   "
              f"whole-state slope {sf_:+.2f}")
    return 0


@experiment("seen")
def _seen(runs: int) -> int:
    """`seen_content_filter_batch` (broadcast Bloom probe over the batch,
    then a stored-side read pruned to the touched pmod(content_hash,
    256) buckets) with a fixed 500-doc batch (250 verbatim replays
    under new ids, 250 fresh variants) against seen-state from 5k /
    50k / 500k docs (sf0.1 replicated with a per-copy prefix). Bar:
    slope <= ~0.3; the contrast is the plain anti-join (the
    reference's delta shape), which grows with history."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.streaming.ops import (
        record_ingested_content,
        seen_content_filter_batch,
    )

    spark = _session("seen_flatness")
    base = spark.read.parquet(f"{DATA}/sf0.1/documents.parquet").select("doc_id", "text")

    def history_at(mult: int):
        if mult == 1:
            return base
        copies = spark.range(mult).select(F.col("id").alias("_copy"))
        return base.crossJoin(copies).select(
            (F.col("doc_id") + F.col("_copy") * 10_000_000).alias("doc_id"),
            # per-copy prefix: every copy is distinct content
            F.concat(F.format_string("c%d ", "_copy"), "text").alias("text"),
        )

    batch = (
        base.filter(F.col("doc_id") % 20 == 0)
        .limit(250)
        .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text")
        .unionByName(
            base.filter(F.col("doc_id") % 20 == 1)
            .limit(250)
            .select("doc_id", F.concat("text", F.lit(" <FRESH>")).alias("text"))
        )
        .localCheckpoint()
    )
    m_bits = 1 << 24  # sane FP rate at every scale
    filter_pts, anti_pts = [], []
    for mult in (1, 10, 100):
        n_hist = 5000 * mult
        with scratch_dir(f"seenflat_{mult}x_") as work:
            bloom_p = os.path.join(work, "bloom")
            hashes_p = os.path.join(work, "hashes")
            hist = history_at(mult).localCheckpoint()
            record_ingested_content(hist, bloom_p, hashes_p, m_bits=m_bits)

            def seen_filter():
                return seen_content_filter_batch(batch, bloom_p, hashes_p, m_bits=m_bits).count()

            def anti_join():
                return batch.join(hist.select("text").distinct(), "text", "left_anti").count()

            if mult == 1:  # codegen compile, reused by the later scales
                seen_filter()
                anti_join()
            best_f, _ = best_of(runs, seen_filter)
            best_aj, _ = best_of(runs, anti_join)
        filter_pts.append((n_hist, best_f))
        anti_pts.append((n_hist, best_aj))
        print(f"history {mult:>3}x ({n_hist:>6} docs): "
              f"seen_filter {best_f:6.2f}s   plain_anti_join {best_aj:6.2f}s", flush=True)
    print("\nslopes (log t-ratio / log n-ratio; flat = 0.0, bar <= 0.3):")
    for (n1, n2, sf_), (_, _, sa) in zip(slopes(filter_pts), slopes(anti_pts)):
        print(f"  {n1 // 5000}x -> {n2 // 5000}x: seen_filter slope {sf_:+.2f}   "
              f"plain_anti_join slope {sa:+.2f}")
    return 0


@experiment("index", runs=1)
def _index(runs: int) -> int:
    """Per-batch ingest and query cost of the persisted BM25 and IVF
    indexes as history grows 20x (sf0.01 replicated 10 / 50 / 200
    times; fresh index per run, one 200-row batch and one query
    timed). Expected FLAT at these sizes; the volume terms at scale are
    touched term-buckets x history/buckets (bm25) and touched lists x
    history/n_lists (ivf)."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.streaming.ops import (
        bm25_ingest_batch,
        bm25_query_index,
        ivf_ingest_batch,
        ivf_query_index,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", f"{DATA}/sf0.01")
    spark = _session("index_slope", shuffle="16")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qdf = spark.createDataFrame(
        [(0, "spark window agg"), (1, "fast hash join")], "query_id long, query_text string"
    )

    def rep_docs(n_copies):
        return docs.crossJoin(spark.range(n_copies).select(F.col("id").alias("_c"))).select(
            (F.col("doc_id") + F.col("_c") * 1_000_000).alias("doc_id"), "text"
        )

    def rep_emb(n_copies):
        return emb.crossJoin(spark.range(n_copies).select(F.col("id").alias("_c"))).select(
            (F.col("vec_id") + F.col("_c") * 1_000_000).alias("vec_id"),
            F.expr("cast(transform(embedding, (x, i) -> cast(x as double) + 0.001 * _c)"
                   " as array<float>)").alias("embedding"),
        )

    n_base = docs.count()
    batch_docs = docs.select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"), "text"
    ).limit(200).localCheckpoint()
    batch_emb = emb.select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "embedding"
    ).limit(200).localCheckpoint()
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    cases = [
        ("bm25", "query",
         lambda idx, copies: bm25_ingest_batch(rep_docs(copies), idx, state_buckets=64),
         lambda idx: bm25_ingest_batch(batch_docs, idx, state_buckets=64),
         lambda idx: bm25_query_index(spark, idx, qdf, k=10, state_buckets=64).count()),
        ("ivf", "query(20q,3/64 probes)",
         lambda idx, copies: ivf_ingest_batch(rep_emb(copies), idx, n_lists=64),
         lambda idx: ivf_ingest_batch(batch_emb, idx, n_lists=64),
         lambda idx: ivf_query_index(spark, idx, q, k=5, n_probe=3).count()),
    ]
    for name, query_label, seed, ingest, query in cases:
        for copies in (10, 50, 200):
            t_ing, t_q = MinTimer(), MinTimer()
            for _ in range(runs):
                with scratch_dir("index_slope_") as d:
                    idx = f"{d}/{name}"
                    seed(idx, copies)
                    with t_ing:
                        ingest(idx)
                    with t_q:
                        query(idx)
            print(f"SLOPE {name} history={copies * n_base}: "
                  f"ingest_batch(200)={t_ing.best:.2f}s {query_label}={t_q.best:.2f}s")
    spark.stop()
    return 0


# --------------------------------------------------------------------------
# command line
# --------------------------------------------------------------------------

def main(argv: list[str]) -> int:
    cmd, args = (argv[0], argv[1:]) if argv else ("", [])
    if cmd == "oracle" and "--preflight" in args:
        return preflight("--fast" in args)
    if cmd in ("oracle", "determinism"):
        default_sf = f"{DATA}/sf0.01" if cmd == "oracle" else f"{DATA}/sf0.001"
        sf_dir = args[0] if args else default_sf
        return (oracle if cmd == "oracle" else determinism)(sf_dir, set(args[1:]))
    if cmd == "floors" and args:
        return floors(args)
    if cmd == "slope" and args and args[0] in SLOPES:
        fn, runs = SLOPES[args[0]]
        return fn(int(args[1]) if len(args) > 1 else runs)
    print(__doc__.split("\n\n")[1], file=sys.stderr)
    print(f"slope experiments: {' '.join(sorted(SLOPES))}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
