"""The three benchmark workloads and their output checks.

Each workload is a closed loop with one client: a step is one public
call the user waits on, and the next step starts when it returns. The
harness touches the package only through its public functions —
``sources.resultset``, ``plans.nba_pipelines``,
``operators.incremental.delta_filter``, ``sinks.store`` and
``streaming.ops`` — plus ``core.session`` to start Spark,
``operators.text.fit_trigram_lm`` to fit the scoring model once at
set-up and ``sinks.snapshot.snapshot_history`` for the replay check.
Every call into the package goes through its module attribute, so the
traced run's wrappers (``tracing.Tracer.install``) see it.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from nba_data_pipeline_spark.core import session as core_session
from nba_data_pipeline_spark.operators import incremental
from nba_data_pipeline_spark.operators import text as text_ops
from nba_data_pipeline_spark.plans import nba_pipelines as P
from nba_data_pipeline_spark.sinks import snapshot, store
from nba_data_pipeline_spark.sources import endpoint_schemas as wire
from nba_data_pipeline_spark.sources import resultset
from nba_data_pipeline_spark.streaming import ops

import corpusgen
import nbagen
from tracing import HARNESS_SPAN

SEASON_TYPE = "Regular Season"
NBA_TABLES = ("team_game_log", "play_by_play", "rotations", "play_by_play_with_players")
CORPUS_TABLES = ("corpus", "sigs", "pairs", "scores")
GATE = {"stopwords": ("the", "a", "and"), "min_tokens": 5}

# workload sizes (games / documents); see README.md for why these
BACKFILL_GAMES = 60          # games per backfill season
NIGHTLY_PRELOAD_GAMES = 24   # the season already in the tables
NIGHTLY_DAYS = 6             # game days generated after the pre-load
CORRECTED_GAMES = 6          # games re-sent on the stat-correction day
CORPUS_BATCH = 300           # documents per micro-batch
CORPUS_BATCHES = 12          # batches generated
CORPUS_HISTORY = 1           # batches ingested at set-up, before timing
LM_REF_DOCS = 400            # reference documents for the scoring LM
LINEUP_SAMPLE = 300          # events checked against ground truth per check


@dataclass
class Ctx:
    """One pass of a workload: its session, tracer, work dir and record."""
    spark: object
    tracer: object
    work: str
    seed: int
    steps: list = field(default_factory=list)     # (label, seconds, ok)
    checks: list = field(default_factory=list)    # (name, ok)
    rows: int = 0       # user rows the timed steps committed or ingested

    @property
    def busy(self) -> float:
        return sum(s for _, s, _ in self.steps)

    def step(self, label: str, fn, rows: int = 0) -> bool:
        t0 = time.perf_counter()
        ok = True
        try:
            fn()
        except Exception:  # a failed step is counted, and the loop goes on
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        self.steps.append((label, dt, ok))
        print(f"lakebench: step {label} {dt:.3f}s{'' if ok else ' FAILED'}",
              file=sys.stderr, flush=True)
        if ok:
            self.rows += rows
        return ok

    def check(self, name: str, fn) -> bool:
        try:
            with self.tracer.span(HARNESS_SPAN):
                ok = bool(fn())
        except Exception:  # a check that cannot run has failed
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"lakebench: check failed: {name}", file=sys.stderr)
        self.checks.append((name, ok))
        return ok


def session_conf(work: str, event_dir: str | None) -> dict:
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.ui.showConsoleProgress": "false",
    }
    # explicit either way: a session restarted in the same JVM inherits
    # the previous session's launch conf
    conf["spark.eventLog.enabled"] = "true" if event_dir else "false"
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": event_dir,
            # Spark 4 defaults to zstd, which the stdlib cannot read
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(tracer, work: str, event_dir: str | None = None):
    with tracer.span("core.session"):
        spark = core_session.get_session("lakebench", **session_conf(work, event_dir))
    tracer.bind(spark)
    return spark


def table_hash(spark, path: str) -> tuple:
    return frame_hash(store.read_store(spark, path))


def frame_hash(df) -> tuple:
    """Order-independent content hash: (rows, sum of row hashes)."""
    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), str(row["s"])


def versions(path: str) -> list:
    return [(h["version"], h["rows"]) for h in snapshot.snapshot_history(path)]


# -- NBA layers -------------------------------------------------------------


class Lake:
    """The four system-of-record tables under one root."""

    def __init__(self, root: str):
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)


def _decode(ctx: Ctx, payloads: list[str], set_names: tuple, schema):
    with ctx.tracer.span("sources.resultset"):
        decoded = resultset.decode_result_sets(
            resultset.payloads_from_json_strings(ctx.spark, payloads)
        )
        df = None
        for name in set_names:
            part = resultset.result_set_df(decoded, name, schema)
            df = part if df is None else df.unionByName(part)
        return ctx.tracer.materialize(df)


def _shape(ctx: Ctx, table: str, raw, season: str):
    with ctx.tracer.span("plans.nba_pipelines"):
        if table == "team_game_log":
            out = P.team_game_log(raw, season, SEASON_TYPE)
        elif table == "play_by_play":
            out = P.play_by_play(raw)
        else:
            out = P.rotations(raw, season, SEASON_TYPE)
        return ctx.tracer.materialize(out)


def _delta(ctx: Ctx, out, path: str):
    if not store.store_exists(path):
        return out
    existing = store.read_store(ctx.spark, path)
    with ctx.tracer.span("operators.incremental"):
        return ctx.tracer.materialize(incremental.delta_filter(out, existing, ["GAME_ID"]))


def _raw(ctx: Ctx, table: str, games: list, days: list):
    if table == "team_game_log":
        return _decode(ctx, [nbagen.game_log_payload(d) for d in days],
                       ("LeagueGameLog",), wire.LEAGUE_GAME_LOG_SET)
    if table == "play_by_play":
        return _decode(ctx, [nbagen.pbp_payload(g) for g in games],
                       ("PlayByPlay",), wire.PLAY_BY_PLAY_SET)
    return _decode(ctx, [nbagen.rotation_payload(g) for g in games],
                   ("HomeTeam", "AwayTeam"), wire.GAME_ROTATION_SET)


def table_rows(table: str, games: list) -> int:
    if table == "team_game_log":
        return 2 * len(games)
    if table == "rotations":
        return sum(len(g.stints) for g in games)
    return sum(len(g.events) for g in games)


def load_games(ctx: Ctx, lake: Lake, games: list, season: str, delta: bool,
               step=None, label: str = "", txn: tuple | None = None) -> None:
    """One ingest of ``games`` into the four tables: decode, shape,
    (``delta``) prune already-loaded games, upsert; then derive the
    lineups from the games read back out of the snapshot tables.
    ``step`` times each table as one step; without it the calls run
    untimed (set-up and checks)."""
    step = step or (lambda lbl, fn, rows=0: fn())
    days = [games[i:i + 12] for i in range(0, len(games), 12)]
    spark = ctx.spark

    for table in NBA_TABLES[:3]:
        def body(table=table):
            out = _shape(ctx, table, _raw(ctx, table, games, days), season)
            if delta:
                out = _delta(ctx, out, lake.path(table))
            store.upsert_store(spark, out, lake.path(table), key="id",
                               default="snapshot", txn=txn)
        step(f"{label}{table}", body, rows=table_rows(table, games))

    def lineups():
        ids = [g.game_id for g in games]
        read = {
            t: store.read_store(spark, lake.path(t)).filter(F.col("GAME_ID").isin(ids))
            for t in NBA_TABLES[:3]
        }
        with ctx.tracer.span("plans.nba_pipelines"):
            out = ctx.tracer.materialize(P.play_by_play_with_players(
                read["play_by_play"], read["rotations"], read["team_game_log"],
            ))
        path = lake.path("play_by_play_with_players")
        if delta:
            out = _delta(ctx, out, path)
        store.upsert_store(spark, out, path, key="id", default="snapshot", txn=txn)
    step(f"{label}play_by_play_with_players", lineups,
         rows=table_rows("play_by_play", games))


def derive(ctx: Ctx, games: list, season: str) -> dict:
    """The four tables of ``games`` computed in one shot, in memory:
    the same decode, shape and lineup calls as ``load_games`` without
    the sink in between."""
    days = [games[i:i + 12] for i in range(0, len(games), 12)]
    out = {t: _shape(ctx, t, _raw(ctx, t, games, days), season) for t in NBA_TABLES[:3]}
    out["play_by_play_with_players"] = P.play_by_play_with_players(
        out["play_by_play"], out["rotations"], out["team_game_log"],
    )
    return out


def lineups_match(ctx: Ctx, lake: Lake, games: list) -> bool:
    """Sampled events of the derived table equal the generator's truth."""
    rng = random.Random(ctx.seed)
    pool = [(g, ev) for g in games for ev in g.truth]
    sample = rng.sample(pool, min(LINEUP_SAMPLE, len(pool)))
    ids = [f"{g.game_id}-{ev}" for g, ev in sample]
    cols = [f"TEAM{t}_PLAYER{i}" for t in (1, 2) for i in range(1, 6)]
    got = {
        r["id"]: (tuple(r[c] for c in cols[:5]), tuple(r[c] for c in cols[5:]))
        for r in store.read_store(ctx.spark, lake.path("play_by_play_with_players"))
        .filter(F.col("id").isin(ids)).select("id", *cols).collect()
    }
    return len(got) == len(ids) and all(
        got[f"{g.game_id}-{ev}"] == g.truth[ev] for g, ev in sample
    )


# -- season_backfill --------------------------------------------------------


class SeasonBackfill:
    """Whole synthetic seasons, each created as fresh snapshot tables."""

    name = "season_backfill"
    min_units = 2

    def setup(self, ctx: Ctx):
        self.seasons = [nbagen.generate_season(ctx.seed, 2000, BACKFILL_GAMES)]
        self.done = []

    def unit(self, ctx: Ctx, i: int) -> None:
        if i >= len(self.seasons):  # generation is not the program's work
            self.seasons.append(nbagen.generate_season(ctx.seed, 2000 + i, BACKFILL_GAMES))
        season = self.seasons[i]
        lake = Lake(os.path.join(ctx.work, "backfill", season.label))
        load_games(ctx, lake, season.games, season.label, delta=False,
                   step=ctx.step, label=f"s{i}:")
        self.done.append((season, lake))

    def verify(self, ctx: Ctx) -> None:
        for season, lake in self.done:
            ctx.check(f"{season.label}: lineups equal ground truth",
                      lambda: lineups_match(ctx, lake, season.games))
            ctx.check(f"{season.label}: derived rows equal generated events",
                      lambda: store.read_store(
                          ctx.spark, lake.path("play_by_play_with_players")
                      ).count() == table_rows("play_by_play", season.games))

    def table_roots(self, ctx: Ctx) -> list:
        return [lake.path(t) for _, lake in self.done for t in NBA_TABLES]


# -- nightly_delta ----------------------------------------------------------


class NightlyDelta:
    """A pre-loaded season, then game days merged in with --delta. Day 2
    replays day 1 (must be a no-op); day 3 re-sends stat corrections
    for already-loaded games without --delta."""

    name = "nightly_delta"
    min_units = 3

    def setup(self, ctx: Ctx):
        n = NIGHTLY_PRELOAD_GAMES + 12 * NIGHTLY_DAYS
        self.season = nbagen.generate_season(ctx.seed, 2010, n)
        self.pre = self.season.games[:NIGHTLY_PRELOAD_GAMES]
        self.days = [self.season.games[i:i + 12]
                     for i in range(NIGHTLY_PRELOAD_GAMES, n, 12)]
        self.lake = Lake(os.path.join(ctx.work, "nightly"))
        load_games(ctx, self.lake, self.pre, self.season.label, delta=False)
        self.loaded = list(self.pre)

    def _state(self, ctx: Ctx) -> dict:
        return {t: (versions(self.lake.path(t)), table_hash(ctx.spark, self.lake.path(t)))
                for t in NBA_TABLES}

    def unit(self, ctx: Ctx, i: int) -> None:
        """Unit i is one game day. Each day commits under its own txn
        version (the package's replay fence), so re-running a day is a
        visible no-op; the delta filter alone would still commit an
        empty version per table."""
        label, txn = self.season.label, (self.name, i + 1)
        if i == 1:  # replay of day 1: every table must stay as it was
            with ctx.tracer.span(HARNESS_SPAN):
                before = self._state(ctx)
            ctx.tracer.replay = True
            load_games(ctx, self.lake, self.days[0], label, delta=True,
                       step=ctx.step, label="replay:", txn=(self.name, 1))
            ctx.tracer.replay = False
            ctx.check("replayed day leaves versions and hashes unchanged",
                      lambda: self._state(ctx) == before)
            return
        if i == 2:  # stat corrections for already-loaded games, no --delta
            rng = random.Random(ctx.seed * 7 + 1)
            games = rng.sample(self.pre, CORRECTED_GAMES)
            for g in games:
                nbagen.correct_game(rng, g)
            load_games(ctx, self.lake, games, label, delta=False,
                       step=ctx.step, label="correction:", txn=txn)
            return
        if i - 2 >= len(self.days):
            raise RuntimeError("nightly_delta ran out of generated game days")
        day = self.days[0] if i == 0 else self.days[i - 2]
        load_games(ctx, self.lake, day, label, delta=True,
                   step=ctx.step, label=f"day{i}:", txn=txn)
        self.loaded.extend(day)

    def verify(self, ctx: Ctx) -> None:
        ctx.check("lineups equal ground truth",
                  lambda: lineups_match(ctx, self.lake, self.loaded))
        expected = derive(ctx, self.loaded, self.season.label)
        for t in NBA_TABLES:
            ctx.check(f"{t} equals a one-shot derivation",
                      lambda t=t: table_hash(ctx.spark, self.lake.path(t))
                      == frame_hash(expected[t]))

    def table_roots(self, ctx: Ctx) -> list:
        return [self.lake.path(t) for t in NBA_TABLES]


# -- corpus_ingest ----------------------------------------------------------


class CorpusIngest:
    """Document micro-batches through ``corpus_ingest_batch`` with
    snapshot state and a txn fence; batch 2 is delivered twice."""

    name = "corpus_ingest"
    min_units = 3

    def setup(self, ctx: Ctx):
        self.docs = corpusgen.documents(ctx.seed, CORPUS_BATCH * CORPUS_BATCHES)
        ref = corpusgen.documents(ctx.seed + 1_000_003, LM_REF_DOCS)
        self.lm = text_ops.fit_trigram_lm(
            ctx.spark.createDataFrame(ref, corpusgen.SCHEMA), "text"
        ).localCheckpoint(eager=True)  # fit once, reused by every batch
        self.root = os.path.join(ctx.work, "corpus")
        self.ingested = []
        self.batches = 0
        for _ in range(CORPUS_HISTORY):  # the corpus already holds history
            self.next_batch(ctx, timed=False)

    def paths(self, root: str) -> dict:
        return {t: os.path.join(root, t) for t in CORPUS_TABLES}

    def ingest(self, ctx: Ctx, root: str, docs: list, txn: tuple) -> None:
        p = self.paths(root)
        batch = ctx.spark.createDataFrame(docs, corpusgen.SCHEMA)
        with ctx.tracer.span("streaming.ops.ingest"):
            ops.corpus_ingest_batch(
                batch, self.lm, p["corpus"], p["sigs"], p["pairs"], p["scores"],
                gate_kwargs=GATE, state_format="snapshot", txn=txn,
            )

    def _state(self, ctx: Ctx) -> dict:
        return {t: (versions(p), table_hash(ctx.spark, p))
                for t, p in self.paths(self.root).items()}

    def next_batch(self, ctx: Ctx, timed: bool = True) -> None:
        """Ingest the next generated batch, as a timed step unless in
        set-up. The batch number is its txn version."""
        b = self.batches
        docs = self.docs[b * CORPUS_BATCH:(b + 1) * CORPUS_BATCH]
        if not docs:
            raise RuntimeError("corpus_ingest ran out of generated batches")
        def ingest():
            self.ingest(ctx, self.root, docs, (self.name, b + 1))

        # throughput counts documents ingested, accepted by the gate or
        # not: the acceptance rate is a property of the generated text
        ok = ctx.step(f"batch{b + 1}", ingest, rows=len(docs)) if timed else ingest() is None
        if ok:
            self.ingested.extend(docs)
        self.batches += 1

    def unit(self, ctx: Ctx, i: int) -> None:
        if i == 2:  # redeliver the previous batch under its txn version
            b = self.batches - 1
            docs = self.docs[b * CORPUS_BATCH:(b + 1) * CORPUS_BATCH]
            with ctx.tracer.span(HARNESS_SPAN):
                before = self._state(ctx)
            ctx.tracer.replay = True
            ctx.step("replay", lambda: self.ingest(ctx, self.root, docs, (self.name, b + 1)))
            ctx.tracer.replay = False
            ctx.check("fenced replay leaves versions and hashes unchanged",
                      lambda: self._state(ctx) == before)
            return
        self.next_batch(ctx)

    def pairs_found(self, ctx: Ctx) -> int:
        return store.read_store(ctx.spark, self.paths(self.root)["pairs"]).count()

    def verify(self, ctx: Ctx) -> None:
        oneshot = os.path.join(ctx.work, "corpus-oneshot")
        self.ingest(ctx, oneshot, self.ingested, ("oneshot", 1))
        mine, ref = self.paths(self.root), self.paths(oneshot)
        for t in CORPUS_TABLES:
            ctx.check(f"{t} equals a one-shot ingest",
                      lambda t=t: table_hash(ctx.spark, mine[t])
                      == table_hash(ctx.spark, ref[t]))
        shutil.rmtree(oneshot, ignore_errors=True)

    def table_roots(self, ctx: Ctx) -> list:
        return list(self.paths(self.root).values())


WORKLOADS = {w.name: w for w in (SeasonBackfill, NightlyDelta, CorpusIngest)}
