"""Command-line surface mirroring the reference's ETL scripts.

The reference is driven as ``python -m etl.<pipeline> --season 2024-25
--season_type "Regular Season" [--delta] [--game_id ...]``
(``utils/arg_parser.py``); a user switching engines keeps the same
invocation shape here::

    python -m nba_data_pipeline_spark.cli <pipeline> \
        --season 2024-25 --season_type "Regular Season" \
        --input raw.parquet --output /lake/table [--delta] [--game_id ...]

Differences by design: inputs are parquet paths (pre-fetched payloads
or lakehouse tables) instead of live HTTP + Postgres, the output is a
partitioned parquet upsert, and --delta is the anti-join filter rather
than per-game key subtraction. Argument validation mirrors the
reference (comma-separated season lists, game_id XOR season+type,
etl/players_on_court_at_start_of_period.py:205-211).
"""

from __future__ import annotations

import argparse
import os
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .functions.gameid import SEASON_TYPE_BY_DIGIT

PIPELINES = (
    "team_game_log",
    "play_by_play",
    "rotations",
    "players_on_court_at_start_of_period",
    "play_by_play_with_players",
    "shot_details",
    # training-data extension: quality -> dedup -> decontaminate ->
    # split -> pack (plans/corpus_pipeline.py); no season semantics
    "corpus",
    # continuous-ingest form: gate -> near-dedup -> frozen-LM score ->
    # corpus MERGE per micro-batch (streaming/ops.py stream_corpus_ingest)
    "corpus_ingest",
    # full dataset release: pipeline -> per-split shuffled shard trees
    # + audit summary (plans/corpus_pipeline.py release_corpus)
    "corpus_release",
    # continuous CDC materialization: change-log stream -> snapshot
    # table with seq-aware tombstones (streaming/ops.py
    # stream_cdc_apply); latest-wins exact under out-of-order delivery
    "cdc_materialize",
    # right-to-be-forgotten: remove ids from EVERY ingest state table
    # (corpus, signatures, pairs, scores, seen-hashes with
    # shared-content protection, stats with affected-key recompute)
    "corpus_takedown",
    # snapshot-table maintenance (the OPTIMIZE / VACUUM / RESTORE ops
    # surface of the table format): --op history | compact | vacuum |
    # rollback | delete_range | changes against --input <table root>
    "snapshot_admin",
)

SEASON_TYPES = ("Regular Season", "Playoffs", "Pre Season", "IST")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="nba_data_pipeline_spark",
        description="Run a reference pipeline against the lakehouse.",
    )
    p.add_argument("pipeline", choices=PIPELINES)
    p.add_argument("--season", help="comma-separated list, e.g. 2023-24,2024-25")
    p.add_argument("--season_type", choices=SEASON_TYPES)
    p.add_argument("--game_id", help="single game id (XOR with --season/--season_type)")
    p.add_argument("--delta", action="store_true", help="skip already-loaded keys")
    p.add_argument(
        "--lineup_impl",
        choices=("declarative", "exact"),
        default="declarative",
        help="play_by_play_with_players lineup engine: declarative "
        "range-join (default, the scale path) or the reference-exact "
        "applyInPandas stateful scan",
    )
    p.add_argument("--player_id", type=int)
    p.add_argument(
        "--team_id",
        help="stats.nba.com team id or franchise name (e.g. GoldenStateWarriors)",
    )
    p.add_argument("--input", required=True, help="input parquet path(s), comma-separated")
    p.add_argument(
        "--output",
        help="output table path (required for every pipeline except "
        "snapshot_admin ops that mutate --input in place; "
        "snapshot_admin --op changes writes the feed here)",
    )
    p.add_argument("--benchmark", help="corpus: eval-set parquet for decontamination")
    p.add_argument("--lm_ref", help="corpus_ingest: parquet to fit the frozen scoring LM")
    p.add_argument("--checkpoint", help="corpus_ingest: streaming checkpoint dir")
    p.add_argument(
        "--app_id",
        help="corpus_ingest: arm the snapshot txn fence — every state "
        "table commits each micro-batch with txn=(app_id, epoch), so a "
        "redelivered epoch is a visible no-op on every table; requires "
        "--checkpoint (keep the two paired for the watermark's lifetime)",
    )
    p.add_argument(
        "--key",
        help="cdc_materialize: comma-separated snapshot key column(s)",
    )
    p.add_argument(
        "--seq_col",
        help="cdc_materialize: monotone change-sequence column "
        "(latest seq wins; deletes persist as tombstones)",
    )
    p.add_argument(
        "--op_col",
        default="op",
        help="cdc_materialize: change-operation column; 'D' deletes, "
        "anything else upserts (default: op)",
    )
    p.add_argument(
        "--stats_key",
        help="corpus_ingest: maintain an incremental per-<column> ingest "
        "rollup (n_docs, sum/min/max chars) under <output>/stats — folded "
        "per batch, the corpus is never reaggregated",
    )
    p.add_argument(
        "--seen_state",
        action="store_true",
        help="corpus_ingest: drop batch rows whose CONTENT was already "
        "ingested under any id (Bloom pre-filter + partition-pruned exact "
        "check; state lives under <output>/bloom and <output>/hashes)",
    )
    p.add_argument(
        "--op",
        choices=("history", "compact", "vacuum", "rollback",
                 "delete_range", "changes"),
        help="snapshot_admin: which maintenance operation to run "
        "against the snapshot table at --input",
    )
    p.add_argument(
        "--to_version", type=int,
        help="snapshot_admin: rollback target / changes window end "
        "(changes default: current)",
    )
    p.add_argument(
        "--from_version", type=int,
        help="snapshot_admin changes: window start (feed covers "
        "(from_version, to_version])",
    )
    p.add_argument(
        "--keep_last", type=int, default=2,
        help="snapshot_admin vacuum: retained trailing versions "
        "(default 2)",
    )
    p.add_argument(
        "--min_age", type=float, default=600.0,
        help="snapshot_admin vacuum: concurrent-writer grace period "
        "in seconds for unreferenced files (default 600)",
    )
    p.add_argument(
        "--target_rows", type=int,
        help="snapshot_admin compact: target rows per output file",
    )
    p.add_argument(
        "--range_col",
        help="snapshot_admin delete_range: the column the doomed "
        "range is over (e.g. an event-time column for retention)",
    )
    p.add_argument(
        "--lo", help="snapshot_admin delete_range: inclusive lower bound"
    )
    p.add_argument(
        "--hi", help="snapshot_admin delete_range: inclusive upper bound"
    )
    p.add_argument(
        "--state_buckets", type=int,
        help="corpus_ingest: bound each batch's state-table merge to "
        "pmod(xxhash64(key), N) buckets instead of the whole table (use "
        "once state outgrows whole-rewrites; keep the value stable for a "
        "given output dir). The bucket column leads each snapshot "
        "state table's merge key, so a merge rewrites only files that "
        "hold touched buckets; composes with --app_id",
    )
    p.add_argument(
        "--partition_by",
        help="corpus_takedown: comma-separated partition columns of the "
        "corpus table (e.g. shard) so the takedown rewrite preserves the "
        "layout; defaults to auto-detecting the hive directory layout",
    )
    p.add_argument(
        "--gate_min_tokens", type=int,
        help="corpus_ingest: override the rule gate's minimum token count",
    )
    p.add_argument(
        "--gate_stopwords",
        help="corpus_ingest: comma-separated stopword list for the rule gate "
             "(override the English defaults for non-English or synthetic corpora)",
    )
    p.add_argument(
        "--no-cdf",
        dest="cdf",
        action="store_false",
        help="create snapshot output tables WITHOUT the write-time "
        "change-data feed: each merge skips the sidecar diff (measured "
        "~1.7x faster merges at sf0.1: 2.5s vs 4.2s) and a later "
        "snapshot_changes falls back to the endpoint diff. Use for "
        "bulk backfills with no downstream delta consumers; the "
        "property is set at table CREATION and inherits after. "
        "Default: CDF on (Postgres-parity change semantics).",
    )
    p.set_defaults(cdf=True)
    p.add_argument("--min_quality", type=float, default=0.25)
    p.add_argument("--pack_capacity", type=int, default=2048)
    p.add_argument("--shards", type=int, default=256)
    p.add_argument(
        "--pii_scrub",
        help="corpus/corpus_release/corpus_ingest: comma-separated PII types "
        "to redact before any hashing (email,phone,card,ipv4,ssn); "
        "omit = no scrub",
    )
    return p


def _pii_types(args: argparse.Namespace) -> list[str] | None:
    """--pii_scrub 'email,phone' -> ['email', 'phone'] (validated
    pre-Spark so a typo'd type fails loudly before any job runs)."""
    if not args.pii_scrub:
        return None
    from .operators.pii import PII_PATTERNS

    types = [t.strip() for t in args.pii_scrub.split(",") if t.strip()]
    unknown = [t for t in types if t not in PII_PATTERNS]
    if unknown:
        raise SystemExit(
            f"--pii_scrub: unknown PII types {unknown}; known: {list(PII_PATTERNS)}"
        )
    return types


def parse_args(argv: Sequence[str]) -> argparse.Namespace:
    args = build_parser().parse_args(list(argv))
    _pii_types(args)  # validate type names pre-Spark (fails loudly)
    if args.pipeline == "snapshot_admin":
        if args.op is None:
            raise SystemExit("snapshot_admin requires --op")
        for flag in ("season", "season_type", "game_id", "player_id",
                     "team_id"):
            if getattr(args, flag) is not None:
                raise SystemExit(f"--{flag} does not apply to snapshot_admin")
        if args.op == "rollback" and args.to_version is None:
            raise SystemExit("rollback requires --to_version")
        if args.op == "compact" and args.target_rows is None:
            raise SystemExit("compact requires --target_rows")
        if args.op == "delete_range" and (
            args.range_col is None or args.lo is None or args.hi is None
        ):
            raise SystemExit("delete_range requires --range_col, --lo, --hi")
        if args.op == "changes":
            if args.from_version is None:
                raise SystemExit("changes requires --from_version")
            if args.output is None:
                raise SystemExit(
                    "changes requires --output (the feed lands there as "
                    "parquet)"
                )
        args.seasons = []
        return args
    for flag in ("op", "to_version", "from_version", "target_rows",
                 "range_col", "lo", "hi"):
        if getattr(args, flag) is not None:
            raise SystemExit(f"--{flag} only applies to snapshot_admin")
    if args.output is None:
        raise SystemExit("--output is required")
    if args.seen_state and args.pipeline != "corpus_ingest":
        raise SystemExit("--seen_state only applies to corpus_ingest")
    if args.state_buckets and args.pipeline != "corpus_ingest":
        raise SystemExit("--state_buckets only applies to corpus_ingest")
    if args.stats_key and args.pipeline != "corpus_ingest":
        raise SystemExit("--stats_key only applies to corpus_ingest")
    if args.partition_by and args.pipeline != "corpus_takedown":
        raise SystemExit("--partition_by only applies to corpus_takedown")
    if (args.key or args.seq_col) and args.pipeline != "cdc_materialize":
        raise SystemExit("--key/--seq_col only apply to cdc_materialize")
    if args.pipeline == "corpus_takedown":
        for flag in ("season", "season_type", "game_id", "player_id", "team_id"):
            if getattr(args, flag) is not None:
                raise SystemExit(f"--{flag} does not apply to corpus_takedown")
        args.seasons = []
        return args
    if args.pipeline == "cdc_materialize":
        if not args.key or not args.seq_col:
            raise SystemExit("cdc_materialize requires --key and --seq_col")
        for flag in ("season", "season_type", "game_id", "player_id", "team_id"):
            if getattr(args, flag) is not None:
                raise SystemExit(f"--{flag} does not apply to cdc_materialize")
        if args.delta:
            raise SystemExit(
                "--delta does not apply to cdc_materialize (sequence "
                "numbers carry the ordering; redelivery is a no-op)"
            )
        args.seasons = []
        return args
    if args.pipeline == "corpus_release":
        if args.benchmark is None:
            raise SystemExit("corpus_release requires --benchmark")
        for flag in ("season", "season_type", "game_id", "player_id", "team_id"):
            if getattr(args, flag) is not None:
                raise SystemExit(f"--{flag} does not apply to corpus_release")
        args.seasons = []
        return args
    if args.pipeline == "corpus_ingest":
        if args.lm_ref is None:
            raise SystemExit("corpus_ingest requires --lm_ref")
        for flag in ("season", "season_type", "game_id", "player_id", "team_id"):
            if getattr(args, flag) is not None:
                raise SystemExit(f"--{flag} does not apply to corpus_ingest")
        if args.delta:
            raise SystemExit(
                "--delta does not apply to corpus_ingest (every batch merges on the id)"
            )
        args.seasons = []
        return args
    if args.pipeline == "corpus":
        if args.benchmark is None:
            raise SystemExit("corpus requires --benchmark")
        for flag in ("season", "season_type", "game_id", "player_id", "team_id"):
            if getattr(args, flag) is not None:
                raise SystemExit(f"--{flag} does not apply to the corpus pipeline")
        if args.delta:
            raise SystemExit(
                "--delta does not apply to corpus (the upsert is already keyed)"
            )
        args.seasons = []
        return args
    has_game = args.game_id is not None
    has_season = args.season is not None and args.season_type is not None
    # reference contract: exactly one of game_id / (season AND season_type)
    if has_game and has_season:
        raise SystemExit(
            "provide either --game_id or both --season and --season_type, not both"
        )
    if not has_game and not has_season:
        raise SystemExit("provide either --game_id or both --season and --season_type")
    if args.pipeline == "shot_details" and (args.player_id is None or args.team_id is None):
        raise SystemExit("shot_details requires --player_id and --team_id")
    if args.team_id is not None:
        # names resolve pre-Spark so a typo'd franchise fails loudly
        from .sources.nba_api import resolve_team_id

        try:
            args.team_id = resolve_team_id(args.team_id)
        except ValueError as exc:
            raise SystemExit(str(exc)) from None
    if has_game:
        # Fail loudly BEFORE any Spark work: a mis-decoded SEASON_TYPE
        # would upsert the game into the wrong (SEASON, SEASON_TYPE)
        # partition. The decode table is the canonical one used for
        # Column-level stamping (functions/gameid.py) — a second copy
        # here could drift and disagree with partition stamping.
        gid = args.game_id
        if len(gid) != 10 or not gid.isdigit():
            raise SystemExit(
                f"--game_id must be a 10-digit NBA game id, got {gid!r}"
            )
        if gid[2] not in SEASON_TYPE_BY_DIGIT:
            raise SystemExit(
                f"--game_id {gid!r} has season-type digit {gid[2]!r}; only "
                f"{sorted(SEASON_TYPE_BY_DIGIT)} (Pre Season / Regular "
                "Season / Playoffs) games can be loaded per-game — "
                "All-Star, Play-In, and IST-knockout ids are outside this "
                "pipeline's season-type contract (same as the reference "
                "decode, utils/utils.py:72-79)"
            )
    args.seasons = (
        [s.strip() for s in args.season.split(",") if s.strip()] if args.season else []
    )
    return args


def _coerce_bound(v: str):
    """CLI range bounds arrive as strings; coerce numerics (int, then
    float) so delete_where_range compares them natively against the
    column; anything else stays a string (string columns, ISO dates —
    the stat encoding compares those lexicographically anyway)."""
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            continue
    return v


def _run_snapshot_admin(spark: SparkSession, args: argparse.Namespace) -> None:
    """The table format's maintenance surface (OPTIMIZE / VACUUM /
    RESTORE / retention / feed export), one op per invocation against
    the snapshot root at --input. Prints ONE JSON line so cron wrappers
    can parse the outcome."""
    import json as _json

    from .sinks import snapshot as S

    root = args.input
    if args.op == "history":
        out = {"op": "history", "history": S.snapshot_history(root)}
    elif args.op == "compact":
        v = S.compact_snapshot(
            spark, root, target_rows_per_file=args.target_rows
        )
        out = {"op": "compact", "version": v}
    elif args.op == "vacuum":
        stats = S.vacuum_snapshot(
            root, keep_last=args.keep_last, min_age_seconds=args.min_age
        )
        out = {"op": "vacuum", **stats}
    elif args.op == "rollback":
        v = S.rollback_snapshot(root, args.to_version)
        out = {"op": "rollback", "restored": args.to_version, "version": v}
    elif args.op == "delete_range":
        v = S.delete_where_range(
            spark, root, args.range_col,
            _coerce_bound(args.lo), _coerce_bound(args.hi),
        )
        out = {"op": "delete_range", "version": v}
    else:  # changes
        feed = S.snapshot_changes(
            spark, root, args.from_version, args.to_version
        )
        feed.write.mode("overwrite").parquet(args.output)
        out = {
            "op": "changes",
            "rows": spark.read.parquet(args.output).count(),
            "output": args.output,
        }
    print(_json.dumps(out))


def run(argv: Sequence[str], spark: SparkSession | None = None) -> None:
    from .functions.gameid import season_from_game_id, season_type_from_game_id  # noqa: F401
    from .operators.incremental import delta_filter
    from .plans import nba_pipelines as P
    from .sinks.store import require_snapshot, upsert_store

    args = parse_args(argv)
    if spark is None:
        from .core.session import get_session

        spark = get_session(f"cli-{args.pipeline}")
    if args.pipeline == "snapshot_admin":
        _run_snapshot_admin(spark, args)
        return
    if args.pipeline not in ("corpus_release", "corpus_takedown", "corpus_ingest"):
        # --output is one keyed table: refuse a legacy swap table
        # before reading any input
        require_snapshot(args.output)
    if args.pipeline == "corpus_release":
        from .plans.corpus_pipeline import release_corpus

        stats = release_corpus(
            spark.read.parquet(*args.input.split(",")),
            spark.read.parquet(args.benchmark),
            args.output,
            n_output_shards=args.shards,
            min_quality=args.min_quality,
            pack_capacity=args.pack_capacity,
            pii_types=_pii_types(args),
        )
        for split, st in sorted(stats.items()):
            print(f"{split}: {st['rows']} rows in {st['shards']} shards")
        return
    if args.pipeline == "corpus_takedown":
        import os as _os

        # store_exists sees snapshot tables (no top-level parquet files
        # for the swap-side table_exists to find) and legacy swap tables
        from .sinks.store import store_exists
        from .streaming.ops import takedown_batch

        ids = spark.read.parquet(*args.input.split(","))
        sub = {k: _os.path.join(args.output, k)
               for k in ("sigs", "pairs", "scores", "stats", "hashes")}
        pcols = tuple(
            c.strip() for c in (args.partition_by or "").split(",") if c.strip()
        )
        removed = takedown_batch(
            ids,
            _os.path.join(args.output, "corpus"),
            signature_path=sub["sigs"] if store_exists(sub["sigs"]) else None,
            pairs_path=sub["pairs"] if store_exists(sub["pairs"]) else None,
            scores_path=sub["scores"] if store_exists(sub["scores"]) else None,
            stats_path=sub["stats"] if store_exists(sub["stats"]) else None,
            hashes_path=sub["hashes"] if store_exists(sub["hashes"]) else None,
            corpus_partition_by=pcols,
        )
        print(" ".join(f"{k}={v}" for k, v in sorted(removed.items())))
        return
    if args.pipeline == "cdc_materialize":
        from .streaming.ops import stream_cdc_apply

        src_path = args.input.split(",")[0]
        schema = spark.read.parquet(src_path).schema
        stream = spark.readStream.schema(schema).parquet(src_path)
        q = stream_cdc_apply(
            stream,
            args.output,
            [k.strip() for k in args.key.split(",") if k.strip()],
            args.seq_col,
            op_col=args.op_col,
            checkpoint_dir=args.checkpoint,
        )
        q.awaitTermination()
        return
    if args.pipeline == "corpus_ingest":
        import os as _os

        from .operators.text import fit_trigram_lm
        from .streaming.ops import stream_corpus_ingest

        lm = fit_trigram_lm(spark.read.parquet(args.lm_ref), "text")
        src = spark.read.parquet(args.input.split(",")[0])
        stream = spark.readStream.schema(src.schema).parquet(args.input.split(",")[0])
        paths = {
            k: _os.path.join(args.output, k)
            for k in ("corpus", "sigs", "pairs", "scores", "bloom", "hashes", "stats")
        }
        gate_kwargs = {}
        if args.gate_min_tokens is not None:
            gate_kwargs["min_tokens"] = args.gate_min_tokens
        if args.gate_stopwords:
            gate_kwargs["stopwords"] = tuple(
                w.strip() for w in args.gate_stopwords.split(",") if w.strip()
            )
        q = stream_corpus_ingest(
            stream, lm, paths["corpus"], paths["sigs"], paths["pairs"], paths["scores"],
            checkpoint_dir=args.checkpoint, gate_kwargs=gate_kwargs or None,
            pii_types=_pii_types(args),
            bloom_path=paths["bloom"] if args.seen_state else None,
            hashes_path=paths["hashes"] if args.seen_state else None,
            stats_path=paths["stats"] if args.stats_key else None,
            stats_key=args.stats_key or "source",
            app_id=args.app_id,
            **({"state_buckets": args.state_buckets} if args.state_buckets else {}),
        )
        q.awaitTermination()
        return
    if args.pipeline == "corpus":
        from .plans.corpus_pipeline import corpus_pipeline

        out = corpus_pipeline(
            spark.read.parquet(*args.input.split(",")),
            spark.read.parquet(args.benchmark),
            min_quality=args.min_quality,
            pack_capacity=args.pack_capacity,
            num_shards=args.shards,
            pii_types=_pii_types(args),
        )
        upsert_store(spark, out, args.output, key="doc_id")
        return
    inputs = [spark.read.parquet(p) for p in args.input.split(",")]
    seasons = args.seasons or [None]

    for season in seasons:
        stype = args.season_type
        if args.game_id and season is None:
            # --game_id path: derive season/type from the id itself
            # (reference utils/utils.py:66-69 positional decode) —
            # stamping NULLs would create VOID-typed SEASON columns
            # that a later --season run could not merge into.
            gid = args.game_id  # format validated in parse_args
            start = int("20" + gid[3:5])
            season = f"{start}-{str(start + 1)[-2:]}"
            stype = SEASON_TYPE_BY_DIGIT[gid[2]]
        primary = inputs[0]
        # season-stamping pipelines must be fed season-scoped rows (the
        # reference's API inputs are inherently per-season); scope by the
        # GAME_ID-derived season so a multi-season input file is safe
        if season is not None and "GAME_ID" in primary.columns and args.pipeline in (
            "team_game_log", "rotations", "shot_details",
        ):
            from pyspark.sql import functions as F

            primary = primary.filter(season_from_game_id(F.col("GAME_ID")) == season)
        if args.pipeline == "team_game_log":
            out = P.team_game_log(primary, season, stype)
        elif args.pipeline == "play_by_play":
            out = P.play_by_play(primary)
        elif args.pipeline == "rotations":
            out = P.rotations(primary, season, stype)
        elif args.pipeline == "players_on_court_at_start_of_period":
            out = P.players_on_court_at_start_of_period(primary)
        elif args.pipeline == "play_by_play_with_players":
            # optional 4th input = players_on_court_at_start_of_period
            # (the reference's repair table, read per game at
            # etl/play_by_play_with_players.py:147-149); both engines —
            # including the declarative default — apply the per-period
            # fallback repair when it is supplied
            fallback = inputs[3] if len(inputs) > 3 else None
            out = P.play_by_play_with_players(
                *inputs[:3], fallback_lineups=fallback, impl=args.lineup_impl
            )
        else:
            out = P.shot_details(primary, args.player_id, args.team_id, season, stype)
        if args.game_id:
            out = out.filter(out["GAME_ID"] == args.game_id)
        elif season and "SEASON" in out.columns:
            out = out.filter(out["SEASON"] == season)
        if args.delta:
            # first load: nothing to subtract. Existence-checked (same
            # test upsert_table uses — a dir with no parquet data files,
            # e.g. after a zero-row first write, counts as absent)
            # rather than a broad except — a corrupt/unreadable existing
            # table must fail loudly, not silently disable delta
            # filtering and re-merge everything.
            from .sinks.store import read_store, store_exists

            if store_exists(args.output):
                existing = read_store(spark, args.output)
                out = delta_filter(out, existing, ["GAME_ID"])
        # Reference pipeline tables are snapshot tables — parity with
        # Postgres as the system of record (transactional upserts,
        # consistent readers, database/db_client.py:37-92). SEASON
        # pruning rides the manifest zone maps (files are key-sorted,
        # GAME_ID embeds the season, so a season filter prunes files).
        upsert_store(
            spark,
            out,
            args.output,
            key="id" if "id" in out.columns else "GAME_ID",
            cdf=args.cdf,
        )


def main() -> None:  # pragma: no cover - thin wrapper
    import sys

    run(sys.argv[1:])


if __name__ == "__main__":  # pragma: no cover
    main()
