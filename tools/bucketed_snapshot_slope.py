"""Flatness evidence for BUCKETED SNAPSHOT state merges (the state
writer in `streaming/ops.py`: `_resolve_state` then `_write_state`).

The 100-TB claim: merging a batch into a bucket-led snapshot state
table rewrites only the files holding touched buckets — the zone-map
coarse prune plus the exact refine pass bound the copy-on-write to
O(touched files), so the cost tracks the BATCH, not the state. This
tool MEASURES that: a FIXED 100-key batch is merged into state built
from 1x / 10x / 100x key populations —

  1x      50,000 rows
  10x    500,000 rows
  100x  5,000,000 rows

laid out as 256 key-sorted files (the many-file shape a real table
has; tiny AQE-sized bootstraps would make file-level pruning trivially
coarse), with bucket = pmod(xxhash64(doc_id), 64) leading the merge
key. Reported per scale: wall time (min of N), files REWRITTEN
(manifest diff: entries in the new version that are not carried), and
files carried by reference. Expected: rewritten files constant-ish
(~touched buckets, <= batch keys), wall-time log-log slope well under
1.0 at the top decade; the contrast row is the same merge into a FLAT
(unbucketed, still key-sorted) table where the batch's random doc_ids
overlap every file's range envelope.

Usage: python tools/bucketed_snapshot_slope.py [runs]
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
SCALES = [50_000, 500_000, 5_000_000]
BATCH_KEYS = 100
BUCKETS = 64
FILES = 256


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.core.session import get_session
    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.streaming.ops import _resolve_state, _write_state

    spark = get_session("bucketed-snapshot-slope")
    results = []
    for n_rows in SCALES:
        base = spark.range(0, n_rows).select(
            (F.col("id") * 2654435761 % 2**40).alias("doc_id"),
            F.col("id").alias("payload"),
        ).dropDuplicates(["doc_id"])
        batch = base.limit(BATCH_KEYS).withColumn(
            "payload", F.col("payload") + 1
        ).localCheckpoint()
        rows = []
        for kind in ("bucketed", "flat"):
            root = tempfile.mkdtemp(prefix=f"bss_{kind}_{n_rows}_")
            t = os.path.join(root, "t")
            try:
                if kind == "bucketed":
                    seed = base.withColumn(
                        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(BUCKETS))
                    )
                    S.write_snapshot(
                        spark, seed, t, key=["bucket", "doc_id"],
                        target_files=FILES, cdf=False,
                    )
                else:
                    S.write_snapshot(
                        spark, base, t, key=["doc_id"],
                        target_files=FILES, cdf=False,
                    )
                pre = {
                    e["path"] for e in
                    S._load_manifest(t, S.current_version(t))["files"]
                }
                best = None
                for r in range(RUNS):
                    b = batch.withColumn(
                        "payload", F.col("payload") + r  # new value each run
                    )
                    t0 = time.time()
                    if kind == "bucketed":
                        _write_state(
                            spark,
                            _resolve_state(t, "doc_id", BUCKETS, "snapshot", None),
                            b,
                        )
                    else:
                        S.upsert_snapshot(spark, b, t, "doc_id", cdf=False)
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                post_m = S._load_manifest(t, S.current_version(t))
                post = {e["path"] for e in post_m["files"]}
                rewritten = len(post - pre)
                carried = len(post & pre)
                rows.append((kind, best, rewritten, carried))
                print(
                    f"# {n_rows:>9,} rows {kind:8s}: {best:6.2f}s  "
                    f"rewrote {rewritten:3d} files, carried {carried:3d}",
                    file=sys.stderr,
                )
            finally:
                shutil.rmtree(root, ignore_errors=True)
        results.append((n_rows, rows))

    print("\nscale        bucketed_s  rewrote  carried   flat_s  rewrote  carried")
    for n_rows, rows in results:
        bk = next(r for r in rows if r[0] == "bucketed")
        fl = next(r for r in rows if r[0] == "flat")
        print(
            f"{n_rows:>9,}  {bk[1]:9.2f}  {bk[2]:7d}  {bk[3]:7d}  "
            f"{fl[1]:7.2f}  {fl[2]:7d}  {fl[3]:7d}"
        )
    for (na, ra), (nb, rb) in zip(results, results[1:]):
        ta = next(r for r in ra if r[0] == "bucketed")[1]
        tb = next(r for r in rb if r[0] == "bucketed")[1]
        slope = math.log(tb / ta) / math.log(nb / na)
        print(f"bucketed log-log slope {na:,} -> {nb:,}: {slope:.2f}")


if __name__ == "__main__":
    main()
