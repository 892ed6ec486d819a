"""stats.nba.com "resultSets" JSON decoding, Spark-side.

The reference decodes responses driver-side with pandas
(``api/smart.py:566-578``: each resultSet's ``headers`` become
columns, ``rowSet`` rows become rows, empty sets dropped). Here the
decode itself is distributed: raw payload strings (one per API call)
live in a DataFrame column, ``from_json`` parses them, ``explode``
fans resultSets/rows out across tasks — so a million fetched payloads
decode with zero driver involvement.

Values are extracted as strings (the wire format is untyped JSON);
``result_set_df`` casts to a declared StructType at the edge, which
replaces the reference's dtype inference.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.data import local_frame

RESULT_SETS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("headers", T.ArrayType(T.StringType())),
            T.StructField("rowSet", T.ArrayType(T.ArrayType(T.StringType()))),
        ]
    )
)


def decode_result_sets(payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Raw response payloads -> one row per (resultSet, data row).

    Output: any passthrough columns of ``payloads`` +
    ``set_name: string``, ``headers: array<string>``,
    ``row: array<string>``. Empty resultSets drop out naturally
    (explode of an empty rowSet emits nothing).
    """
    parsed = payloads.withColumn(
        "_sets",
        F.from_json(
            F.get_json_object(F.col(payload_col), "$.resultSets"), RESULT_SETS_SCHEMA
        ),
    )
    one_set = parsed.select(
        *[c for c in payloads.columns if c != payload_col],
        F.explode("_sets").alias("_rs"),
    )
    return one_set.select(
        *[c for c in payloads.columns if c != payload_col],
        F.col("_rs.name").alias("set_name"),
        F.col("_rs.headers").alias("headers"),
        F.explode(F.col("_rs.rowSet")).alias("row"),
    )


def result_set_df(
    decoded: DataFrame,
    set_name: str,
    schema: T.StructType,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Select one named resultSet and pivot its positional ``row``
    array into typed, named columns per ``schema``. Column order is
    the declared schema's; header order on the wire must match (the
    reference makes the same positional assumption)."""
    passthrough = passthrough or []
    rows = decoded.filter(F.col("set_name") == set_name)
    # get (0-based, null-tolerant), not element_at: ANSI mode makes
    # element_at raise on a ragged wire row, aborting the whole decode;
    # a short row should yield NULL trailing columns (flag, don't fail).
    # One parsed projection: a Column per field costs several py4j
    # calls each, ~60 fields per endpoint
    cols = [
        f"CAST(get(`row`, {i}) AS {f.dataType.simpleString()}) AS {_quote(f.name)}"
        for i, f in enumerate(schema.fields)
    ]
    return rows.selectExpr(*map(_quote, passthrough), *cols)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def payloads_from_json_strings(spark: SparkSession, payloads: list[str]) -> DataFrame:
    """Wrap raw JSON strings (e.g. fixture files or driver-fetched
    responses) into the payload DataFrame shape."""
    return local_frame(spark, [(p,) for p in payloads], "payload string")


def result_sets_to_payload(sets: dict[str, tuple[list[str], list[list]]]) -> str:
    """Build a stats.nba.com-shaped payload from {name: (headers, rows)}
    — fixture helper so tests exercise the exact wire format."""
    return json.dumps(
        {
            "resultSets": [
                {"name": name, "headers": headers, "rowSet": rows}
                for name, (headers, rows) in sets.items()
            ]
        }
    )
