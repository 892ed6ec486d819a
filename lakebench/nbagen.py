"""Seeded generator for stats.nba.com wire payloads.

Emits the three resultSets the NBA workloads ingest — ``PlayByPlay``
(playbyplayv2), ``HomeTeam``/``AwayTeam`` (gamerotation) and
``LeagueGameLog`` (leaguegamelog) — in the header order declared by
``sources.endpoint_schemas``, together with the ground truth the
benchmark checks against: the ten players on court after every event.

The game model:

- 30 teams of 13 players; every game has 4 regulation periods plus an
  overtime in ~7% of games (a second one in ~1.5%);
- ~450 events per game: period start/end, an opening jump ball, shots,
  rebounds, fouls, free throws, turnovers, timeouts and substitutions;
- ~45 substitutions per game, about half of them inside multi-sub
  timeouts that put 2-4 substitutions in one clock second;
- lineup changes between periods happen without a substitution event
  (as on the wire), so rotation stints end and start at the period
  boundary;
- rotation stints are derived from the same on-court state machine that
  emits the events, so they agree with the substitutions by
  construction (``check_game`` verifies it independently).

Everything is a pure function of the seed; no Spark is needed here.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

N_TEAMS = 30
ROSTER = 13
TEAM_BASE = 1610612737
REG_S, OT_S = 720, 300

# wire header order (sources/endpoint_schemas.py)
PBP_HEADERS = [
    "GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
    "WCTIMESTRING", "PCTIMESTRING", "HOMEDESCRIPTION", "NEUTRALDESCRIPTION",
    "VISITORDESCRIPTION", "SCORE", "SCOREMARGIN", "PERSON1TYPE", "PLAYER1_ID",
    "PLAYER1_NAME", "PLAYER1_TEAM_ID", "PERSON2TYPE", "PLAYER2_ID", "PLAYER2_NAME",
    "PLAYER2_TEAM_ID", "PERSON3TYPE", "PLAYER3_ID", "PLAYER3_NAME", "PLAYER3_TEAM_ID",
]
ROTATION_HEADERS = [
    "GAME_ID", "TEAM_ID", "TEAM_CITY", "TEAM_NAME", "PERSON_ID", "PLAYER_FIRST",
    "PLAYER_LAST", "IN_TIME_REAL", "OUT_TIME_REAL", "PLAYER_PTS", "PT_DIFF", "USG_PCT",
]
GAME_LOG_HEADERS = [
    "SEASON_ID", "TEAM_ID", "TEAM_ABBREVIATION", "TEAM_NAME", "GAME_ID", "GAME_DATE",
    "MATCHUP", "WL", "MIN", "PTS", "PLUS_MINUS",
]

_FIRST = ["Al", "Bo", "Cy", "Dee", "Eli", "Finn", "Gus", "Hal", "Ike", "Jay", "Kai", "Lou", "Max"]
_LAST = ["Ames", "Banks", "Cole", "Dunn", "Ellis", "Ford", "Gray", "Hale", "Irby",
         "Jones", "Kerr", "Lowe", "Moss", "Nash", "Ortiz", "Pratt", "Quinn", "Reed"]
_CITIES = ["Atlas", "Bay", "Cedar", "Delta", "Elm", "Fox", "Glen", "Harbor", "Iron",
           "Jade", "Key", "Lake", "Mesa", "North", "Oak", "Pine", "Quarry", "River",
           "Stone", "Tide", "Union", "Vale", "West", "Xeno", "York", "Zion", "Arbor",
           "Brook", "Cliff", "Dune"]


def team_id(i: int) -> int:
    return TEAM_BASE + i


def team_abbr(tid: int) -> str:
    return _CITIES[tid - TEAM_BASE][:3].upper()


def team_name(tid: int) -> str:
    return _CITIES[tid - TEAM_BASE] + "s"


def roster(tid: int) -> list[int]:
    return [200000 + (tid - TEAM_BASE) * 100 + j for j in range(ROSTER)]


def player_name(pid: int) -> tuple[str, str]:
    return _FIRST[pid % len(_FIRST)], _LAST[(pid // 7) % len(_LAST)]


def period_start_s(p: int) -> int:
    return (p - 1) * REG_S if p <= 4 else 4 * REG_S + (p - 5) * OT_S


def period_len_s(p: int) -> int:
    return REG_S if p <= 4 else OT_S


def clock(p: int, t: int) -> str:
    rem = period_start_s(p) + period_len_s(p) - t
    return f"{rem // 60}:{rem % 60:02d}"


@dataclass
class Game:
    game_id: str
    season: str
    date: str
    home: int
    away: int
    events: list = field(default_factory=list)       # rows in PBP_HEADERS order
    stints: dict = field(default_factory=dict)       # (team, pid) -> [(in, out) tenths]
    truth: dict = field(default_factory=dict)        # eventnum -> (home5, away5)
    points: dict = field(default_factory=dict)       # team -> pts
    player_pts: dict = field(default_factory=dict)   # pid -> pts

    def rotation_rows(self, tid: int) -> list[list]:
        rows = []
        for (team, pid), spans in sorted(self.stints.items()):
            if team != tid:
                continue
            first, last = player_name(pid)
            for t_in, t_out in spans:
                rows.append([
                    self.game_id, tid, _CITIES[tid - TEAM_BASE], team_name(tid), pid,
                    first, last, float(t_in), float(t_out),
                    float(self.player_pts.get(pid, 0)), 0.0, 0.1,
                ])
        return rows

    def game_log_rows(self) -> list[list]:
        h, a = self.points[self.home], self.points[self.away]
        yy = self.game_id[3:5]
        out = []
        for tid, opp, pts, opp_pts, mark in (
            (self.home, self.away, h, a, "vs."), (self.away, self.home, a, h, "@"),
        ):
            out.append([
                "2" + "20" + yy, tid, team_abbr(tid), team_name(tid), self.game_id,
                self.date, f"{team_abbr(tid)} {mark} {team_abbr(opp)}",
                "W" if pts > opp_pts else "L", 240.0, float(pts), float(pts - opp_pts),
            ])
        return out


def _event(g: Game, evnum: int, etype: int, action: int, period: int, t: int,
           desc_team: int | None = None, desc: str | None = None,
           p1: int = 0, p1t: int | None = None, p2: int = 0, p2t: int | None = None,
           p3: int = 0, p3t: int | None = None, score: str | None = None,
           margin: str | None = None) -> list:
    def nm(pid):
        if not pid:
            return None
        f, l = player_name(pid)
        return f"{f} {l}"

    home_d = desc if desc_team == g.home else None
    away_d = desc if desc_team == g.away else None
    neutral = desc if desc_team is None else None
    wc = f"{7 + t // 2400}:{(t // 60) % 60:02d} PM"
    return [
        g.game_id, evnum, etype, action, period, wc, clock(period, t),
        home_d, neutral, away_d, score, margin,
        4 if p1 else 0, p1, nm(p1), p1t,
        5 if p2 else 0, p2, nm(p2), p2t,
        0, p3, nm(p3), p3t,
    ]


def simulate_game(rng: random.Random, game_id: str, season: str, date: str,
                  home: int, away: int) -> Game:
    g = Game(game_id, season, date, home, away)
    g.points = {home: 0, away: 0}
    periods = 4 + (rng.random() < 0.07) + (rng.random() < 0.015)
    on = {t: sorted(rng.sample(roster(t), 5)) for t in (home, away)}
    open_at = {(t, p): 0 for t in on for p in on[t]}
    stints: dict = {}

    def close(team, pid, tenths):
        stints.setdefault((team, pid), []).append((open_at.pop((team, pid)), tenths))

    evnum = 0

    def emit(*args, **kw):
        nonlocal evnum
        evnum += 1
        g.events.append(_event(g, evnum, *args, **kw))
        g.truth[evnum] = (tuple(sorted(on[home])), tuple(sorted(on[away])))

    def scored(team, pid, pts):
        g.points[team] += pts
        g.player_pts[pid] = g.player_pts.get(pid, 0) + pts
        h, a = g.points[home], g.points[away]
        return f"{a} - {h}", str(h - a) if h != a else "TIE"

    def sub(period, t, team, out_pid, in_pid):
        on[team].remove(out_pid)
        on[team].append(in_pid)
        close(team, out_pid, t * 10)
        open_at[(team, in_pid)] = t * 10
        emit(8, 0, period, t, desc_team=team, desc="SUB",
             p1=out_pid, p1t=team, p2=in_pid, p2t=team)

    for p in range(1, periods + 1):
        start, length = period_start_s(p), period_len_s(p)
        if p > 1:  # between-period changes carry no substitution event
            for team in (home, away):
                k = rng.choice((0, 0, 1, 1, 2))
                bench = [x for x in roster(team) if x not in on[team]]
                for out_pid, in_pid in zip(rng.sample(on[team], k), rng.sample(bench, k)):
                    on[team].remove(out_pid)
                    on[team].append(in_pid)
                    close(team, out_pid, start * 10)
                    open_at[(team, in_pid)] = start * 10
        emit(12, 0, p, start)
        if p == 1:
            emit(10, 0, p, start, desc="Jump Ball",
                 p1=rng.choice(on[home]), p1t=home, p2=rng.choice(on[away]), p2t=away,
                 p3=rng.choice(on[home]), p3t=home)
        n_plays = rng.randint(96, 112) if p <= 4 else rng.randint(36, 46)
        n_moments = rng.randint(4, 6) if p <= 4 else rng.randint(1, 2)
        times = sorted(rng.randint(start + 1, start + length - 1) for _ in range(n_plays))
        moments = set(rng.sample(range(n_plays), n_moments))
        for i, t in enumerate(times):
            team = home if rng.random() < 0.5 else away
            opp = away if team == home else home
            shooter = rng.choice(on[team])
            r = rng.random()
            if i in moments:
                # timeout, then 2-4 substitutions in the same clock second
                # (single subs after a foul otherwise)
                multi = rng.random() < 0.6
                if multi:
                    emit(9, 1, p, t, desc_team=team, desc="Timeout: Regular",
                         p1=team, p1t=None)
                n_subs = rng.randint(2, 4) if multi else 1
                touched: set = set()  # no player moves twice in one second
                for _ in range(n_subs):
                    st = rng.choice((home, away))
                    outs = [x for x in on[st] if x not in touched]
                    bench = [x for x in roster(st) if x not in on[st] and x not in touched]
                    out_pid, in_pid = rng.choice(outs), rng.choice(bench)
                    touched |= {out_pid, in_pid}
                    sub(p, t, st, out_pid, in_pid)
            elif r < 0.42:
                made = rng.random() < 0.47
                three = rng.random() < 0.35
                if made:
                    score, margin = scored(team, shooter, 3 if three else 2)
                    assist = rng.choice([x for x in on[team] if x != shooter])
                    emit(1, 1 + three, p, t, desc_team=team, desc="Jump Shot",
                         p1=shooter, p1t=team, p2=assist, p2t=team,
                         score=score, margin=margin)
                else:
                    emit(2, 1 + three, p, t, desc_team=team, desc="MISS Jump Shot",
                         p1=shooter, p1t=team)
            elif r < 0.72:
                emit(4, 0, p, t, desc_team=team, desc="Rebound", p1=shooter, p1t=team)
            elif r < 0.82:
                emit(6, 1, p, t, desc_team=opp, desc="P.FOUL",
                     p1=rng.choice(on[opp]), p1t=opp, p2=shooter, p2t=team)
            elif r < 0.92:
                made = rng.random() < 0.78
                score = margin = None
                if made:
                    score, margin = scored(team, shooter, 1)
                emit(3, 11, p, t, desc_team=team,
                     desc="Free Throw" if made else "MISS Free Throw",
                     p1=shooter, p1t=team, score=score, margin=margin)
            else:
                emit(5, 1, p, t, desc_team=team, desc="Turnover", p1=shooter, p1t=team,
                     p2=rng.choice(on[opp]), p2t=opp)
        if p == periods and g.points[home] == g.points[away]:
            score, margin = scored(home, on[home][0], 1)  # no ties at the buzzer
            emit(3, 12, p, start + length - 1, desc_team=home, desc="Free Throw",
                 p1=on[home][0], p1t=home, score=score, margin=margin)
        emit(13, 0, p, start + length)
    end = (period_start_s(periods) + period_len_s(periods)) * 10
    for team in (home, away):
        for pid in list(on[team]):
            close(team, pid, end)
    g.stints = {k: sorted(v) for k, v in stints.items()}
    return g


def correct_game(rng: random.Random, g: Game) -> None:
    """Apply an official stat correction in place: re-attribute a few
    made baskets' assists and descriptions, and the box-score totals
    that follow. Lineups are unchanged (corrections never move
    substitutions), so the ground truth stays valid."""
    shots = [row for row in g.events if row[2] == 1]
    for row in rng.sample(shots, min(4, len(shots))):
        team = row[15]
        col = 7 if team == g.home else 9
        row[col] = (row[col] or "") + " (corrected)"
        row[3] = 3 - row[3] if row[3] in (1, 2) else row[3]
    g.player_pts = {pid: pts + 1 for pid, pts in g.player_pts.items()}


@dataclass
class Season:
    year: int
    games: list                 # Game, in schedule order
    days: list                  # [[Game, ...], ...] game days

    @property
    def label(self) -> str:
        return f"{self.year}-{(self.year + 1) % 100:02d}"


def generate_season(seed: int, year: int, n_games: int, games_per_day: int = 12) -> Season:
    """``n_games`` regular-season games of season ``year``, scheduled
    ``games_per_day`` per day with no team playing twice in one day."""
    rng = random.Random(f"{seed}:{year}")
    label = f"{year}-{(year + 1) % 100:02d}"
    teams = [team_id(i) for i in range(N_TEAMS)]
    games, days = [], []
    day = 0
    while len(games) < n_games:
        order = teams[:]
        rng.shuffle(order)
        date = f"{year}-{10 + (day // 30) % 3:02d}-{1 + day % 30:02d}"
        today = []
        for k in range(min(games_per_day, N_TEAMS // 2, n_games - len(games))):
            gid = f"002{year % 100:02d}{len(games) + 1:05d}"
            g = simulate_game(rng, gid, label, date, order[2 * k], order[2 * k + 1])
            games.append(g)
            today.append(g)
        days.append(today)
        day += 1
    return Season(year, games, days)


def _payload(sets: dict) -> str:
    return json.dumps({"resultSets": [
        {"name": name, "headers": headers, "rowSet": rows}
        for name, (headers, rows) in sets.items()
    ]})


def pbp_payload(g: Game) -> str:
    return _payload({"PlayByPlay": (PBP_HEADERS, g.events)})


def rotation_payload(g: Game) -> str:
    return _payload({
        "HomeTeam": (ROTATION_HEADERS, g.rotation_rows(g.home)),
        "AwayTeam": (ROTATION_HEADERS, g.rotation_rows(g.away)),
    })


def game_log_payload(games: list) -> str:
    return _payload({"LeagueGameLog": (
        GAME_LOG_HEADERS, [r for g in games for r in g.game_log_rows()],
    )})


def check_game(g: Game) -> list[str]:
    """Independent invariant check of one generated game: replays the
    event stream with the rotation stints as the only source of period
    boundaries and returns every violation found (empty = consistent).

    - five players per team on court after every event, matching the
      recorded ground truth;
    - every substitution removes an on-court player and adds a benched
      one, at a time where the player's stint ends / starts;
    - every stint starts and ends at a substitution or a period
      boundary, and the stints replay to exactly the on-court sets.
    """
    errs = []
    ends = {(t, p, b) for (t, p), spans in g.stints.items() for _, b in spans}
    begins = {(t, p, a) for (t, p), spans in g.stints.items() for a, _ in spans}
    on = {g.home: set(), g.away: set()}
    used_begins, used_ends = set(), set()
    for row in g.events:
        evnum, etype, period = row[1], row[2], row[4]
        mm, ss = row[6].split(":")
        t = period_start_s(period) + period_len_s(period) - (int(mm) * 60 + int(ss))
        if etype == 12:
            tenths = t * 10
            for team in on:
                out = {p for (tm, p, b) in ends if tm == team and b == tenths}
                inn = {p for (tm, p, a) in begins if tm == team and a == tenths}
                on[team] = (on[team] - out) | inn
                used_ends |= {(team, p, tenths) for p in out}
                used_begins |= {(team, p, tenths) for p in inn}
        elif etype == 8:
            team, out_p, in_p = row[15], row[13], row[17]
            if out_p not in on[team]:
                errs.append(f"{g.game_id} ev{evnum}: sub of absent {out_p}")
            if in_p in on[team]:
                errs.append(f"{g.game_id} ev{evnum}: sub of present {in_p}")
            if (team, out_p, t * 10) not in ends:
                errs.append(f"{g.game_id} ev{evnum}: no stint ends for {out_p} at {t}")
            if (team, in_p, t * 10) not in begins:
                errs.append(f"{g.game_id} ev{evnum}: no stint starts for {in_p} at {t}")
            used_ends.add((team, out_p, t * 10))
            used_begins.add((team, in_p, t * 10))
            on[team] = (on[team] - {out_p}) | {in_p}
        for team, truth in ((g.home, g.truth[evnum][0]), (g.away, g.truth[evnum][1])):
            if len(on[team]) != 5:
                errs.append(f"{g.game_id} ev{evnum}: {len(on[team])} on court for {team}")
            if tuple(sorted(on[team])) != truth:
                errs.append(f"{g.game_id} ev{evnum}: replayed lineup differs from truth")
    game_end = max(b for spans in g.stints.values() for _, b in spans)
    dangling = {(t, p, b) for (t, p, b) in ends - used_ends if b != game_end}
    if begins - used_begins or dangling:
        errs.append(f"{g.game_id}: stint bounds with no matching event")
    return errs
