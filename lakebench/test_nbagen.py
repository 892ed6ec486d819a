"""Invariants of the benchmark's NBA payload generator (no Spark needed).

    python3 -m pytest lakebench/test_nbagen.py -q
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import nbagen  # noqa: E402

SEASON = nbagen.generate_season(seed=7, year=2015, n_games=60)


def test_every_game_is_consistent():
    for g in SEASON.games:
        assert nbagen.check_game(g) == [], g.game_id


def test_five_per_team_after_every_event():
    for g in SEASON.games:
        for home5, away5 in g.truth.values():
            assert len(set(home5)) == 5 and len(set(away5)) == 5
            assert set(home5) <= set(nbagen.roster(g.home))
            assert set(away5) <= set(nbagen.roster(g.away))


def test_stints_match_substitutions():
    for g in SEASON.games:
        for row in g.events:
            if row[2] != 8:
                continue
            team, out_p, in_p = row[15], row[13], row[17]
            mm, ss = row[6].split(":")
            t = (nbagen.period_start_s(row[4]) + nbagen.period_len_s(row[4])
                 - int(mm) * 60 - int(ss)) * 10
            assert t in {b for _, b in g.stints[(team, out_p)]}
            assert t in {a for a, _ in g.stints[(team, in_p)]}


def test_game_shape():
    events = [len(g.events) for g in SEASON.games]
    subs = [sum(r[2] == 8 for r in g.events) for g in SEASON.games]
    assert 400 <= statistics.mean(events) <= 500
    assert 35 <= statistics.mean(subs) <= 55
    # multi-sub timeouts: several substitutions in one clock second
    multi = sum(
        1 for g in SEASON.games
        for key in {(r[4], r[6]) for r in g.events if r[2] == 8}
        if sum(1 for r in g.events if r[2] == 8 and (r[4], r[6]) == key) > 1
    )
    assert multi > len(SEASON.games)
    season = nbagen.generate_season(seed=7, year=2016, n_games=240)
    assert any(max(r[4] for r in g.events) > 4 for g in season.games)  # overtime


def test_schedule_days():
    for day in SEASON.days:
        teams = [t for g in day for t in (g.home, g.away)]
        assert len(teams) == len(set(teams)) and len(day) <= 12


def test_seeded():
    again = nbagen.generate_season(seed=7, year=2015, n_games=60)
    other = nbagen.generate_season(seed=8, year=2015, n_games=60)
    assert [nbagen.pbp_payload(g) for g in again.games] == [
        nbagen.pbp_payload(g) for g in SEASON.games
    ]
    assert nbagen.pbp_payload(other.games[0]) != nbagen.pbp_payload(SEASON.games[0])


def test_wire_shape():
    g = SEASON.games[0]
    pbp = json.loads(nbagen.pbp_payload(g))["resultSets"][0]
    assert pbp["name"] == "PlayByPlay" and pbp["headers"] == nbagen.PBP_HEADERS
    assert all(len(r) == len(nbagen.PBP_HEADERS) for r in pbp["rowSet"])
    rot = json.loads(nbagen.rotation_payload(g))["resultSets"]
    assert [s["name"] for s in rot] == ["HomeTeam", "AwayTeam"]
    log = json.loads(nbagen.game_log_payload(SEASON.days[0]))["resultSets"][0]
    assert len(log["rowSet"]) == 2 * len(SEASON.days[0])
    matchups = {r[1]: r[6] for r in log["rowSet"] if r[4] == g.game_id}
    assert "vs." in matchups[g.home] and "@" in matchups[g.away]


def test_correction_keeps_lineups():
    g = nbagen.generate_season(seed=9, year=2015, n_games=1).games[0]
    before = nbagen.pbp_payload(g)
    nbagen.correct_game(random.Random(1), g)
    assert nbagen.pbp_payload(g) != before
    assert nbagen.check_game(g) == []


def test_check_catches_a_broken_stint():
    g = nbagen.generate_season(seed=9, year=2015, n_games=1).games[0]
    key = next(k for k, spans in g.stints.items() if len(spans) > 1)
    a, b = g.stints[key][0]
    g.stints[key][0] = (a, b + 10)  # stint ends a second after its sub
    assert nbagen.check_game(g)
