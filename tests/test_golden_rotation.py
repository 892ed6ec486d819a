"""Parity against the reference's only golden artifact:
/root/reference/game_rotation.csv (64 rotation rows for game
0022400236, produced by reference test.py:11-15). We run OUR rotations
pipeline over it and check the reference's own domain invariants
(FIXTURES.md §3)."""

import os

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.core.schemas import ROTATION_RAW
from nba_data_pipeline_spark.operators.incremental import assert_unique_key
from nba_data_pipeline_spark.operators.lineups import starters_from_rotations
from nba_data_pipeline_spark.plans.nba_pipelines import rotations

GOLDEN = "/root/reference/game_rotation.csv"

# The golden CSV lives in the reference checkout, which is not always
# present; conftest's hand-verified synthetic game keeps the pipeline
# coverage when it is absent.
pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN),
    reason=f"reference golden artifact {GOLDEN} is absent",
)


def _load(spark):
    return spark.read.schema(ROTATION_RAW).option("header", True).csv(GOLDEN)


def test_golden_loads_with_declared_schema(spark):
    raw = _load(spark)
    rows = raw.collect()
    assert len(rows) == 64
    # GAME_ID survives as a zero-padded string (the int-cast trap)
    assert all(r.GAME_ID == "0022400236" for r in rows)


def test_rotations_pipeline_on_golden(spark):
    raw = _load(spark)
    out = rotations(raw, "2024-25", "Regular Season")
    assert_unique_key(out, "id")
    rolled = {r.PLAYER_ID: r for r in out.collect()}
    # Seth Curry has 2 stints in the golden file; they come back ordered
    curry = rolled[203552]
    assert [s.IN_TIME_REAL for s in curry.STINTS] == sorted(
        s.IN_TIME_REAL for s in curry.STINTS
    )
    assert len(curry.STINTS) == 2
    # every player belongs to one of the two teams of the game
    # (CHA 1610612766 vs CLE 1610612739)
    assert {r.TEAM_ID for r in rolled.values()} <= {1610612766, 1610612739}


def test_golden_starter_coverage(spark):
    """Stint-containment starters at period 1 start. NOTE: the golden
    CSV is a truncated sample (64 rows, 19 players) — only 3 players
    per team have a t=0 stint in it, so a full game's exactly-5
    invariant (reference etl/play_by_play_with_players.py:81-86)
    cannot hold here; we assert the operator reports exactly what the
    artifact contains."""
    out = rotations(_load(spark), "2024-25", "Regular Season")
    starters = (
        starters_from_rotations(out)
        .filter(F.col("PERIOD") == 1)
        .groupBy("TEAM_ID")
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in starters) == [3, 3]
