from pyspark.sql import types as T

from nba_data_pipeline_spark.sources.resultset import (
    decode_result_sets,
    payloads_from_json_strings,
    result_set_df,
    result_sets_to_payload,
)
from nba_data_pipeline_spark.sources.nba_api import ENDPOINTS, fetch_many, fixture_fetcher


def _payload():
    return result_sets_to_payload(
        {
            "PlayByPlay": (
                ["GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "PCTIMESTRING"],
                [["0022400001", 1, 12, "12:00"], ["0022400001", 2, 10, "12:00"]],
            ),
            "AvailableVideo": (["FLAG"], []),  # empty set drops out
        }
    )


def test_decode_result_sets_and_typed_select(spark):
    payloads = payloads_from_json_strings(spark, [_payload()])
    decoded = decode_result_sets(payloads)
    assert decoded.count() == 2  # empty resultSet contributed nothing
    schema = T.StructType(
        [
            T.StructField("GAME_ID", T.StringType()),
            T.StructField("EVENTNUM", T.LongType()),
            T.StructField("EVENTMSGTYPE", T.LongType()),
            T.StructField("PCTIMESTRING", T.StringType()),
        ]
    )
    typed = result_set_df(decoded, "PlayByPlay", schema)
    rows = typed.collect()
    assert typed.schema == schema
    assert rows[0].GAME_ID == "0022400001" and rows[0].EVENTNUM == 1


def test_fetch_many_distributed_fixture(spark):
    fetcher = fixture_fetcher({ENDPOINTS["play_by_play"].path: _payload()})
    games = spark.createDataFrame([("0022400001",), ("0022400002",)], "GAME_ID string")
    out = fetch_many(games, "play_by_play", fetcher)
    rows = out.collect()
    assert len(rows) == 2 and all(r.payload for r in rows)
    decoded = decode_result_sets(out.select("GAME_ID", "payload"))
    assert decoded.count() == 4  # 2 payloads x 2 data rows
    assert set(decoded.columns) >= {"GAME_ID", "set_name", "row"}


def test_short_wire_row_yields_null_trailing_columns(spark):
    payload = result_sets_to_payload(
        {"PlayByPlay": (["GAME_ID", "EVENTNUM", "PCTIMESTRING"], [["0022400001", 7]])}
    )
    schema = T.StructType(
        [
            T.StructField("GAME_ID", T.StringType()),
            T.StructField("EVENTNUM", T.LongType()),
            T.StructField("PCTIMESTRING", T.StringType()),
        ]
    )
    decoded = decode_result_sets(payloads_from_json_strings(spark, [payload]))
    typed = result_set_df(decoded, "PlayByPlay", schema, passthrough=["set_name"])
    assert typed.schema == T.StructType(
        [T.StructField("set_name", T.StringType()), *schema.fields]
    )
    assert [tuple(r) for r in typed.collect()] == [("PlayByPlay", "0022400001", 7, None)]
