"""Plan-compile tripwire over the real driver testdata.

Round-4 lesson: 191 unit tests stayed green while 7 shipped queries
crashed, because every test ran on in-memory fixtures and never read
``/root/testdata``. This test builds EVERY registered ``queries()``
plan against the smallest real testdata snapshot and touches
``.schema``, so any storage-type drift in the parquet (e.g. the
TIMESTAMP_NTZ events.ts regression) fails the suite instantly instead
of surfacing in the driver's correctness gate.

For most entries this is Catalyst analysis only (no job); a handful of
registry entries intentionally run real work during plan construction
(``streaming_replay_parity``'s ingest steps, the ``eager_probe=True``
LSH probes, fixture materialization) — for those this test is a cheap
end-to-end run at sf0.001, which is still exactly the tripwire we want.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _query_names():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries())


@pytest.mark.parametrize("name", _query_names())
def test_plan_compiles(spark, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    df = fn(spark, SF_DIR)
    # touching .schema forces full analysis (column resolution, type
    # checks) without running the job
    assert df.schema.fields, f"{name} produced an empty schema"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.schema.fields


@pytest.mark.slow  # r17: >18s; deselected by the default profile (driver budget), still run via -m slow at round close
def test_oracle_type_parity(spark):
    """Round-5 lesson (tpch_q12): rows+schema matched but the driver's
    value hash diverged because DuckDB widened SUM(INTEGER) to HUGEINT
    while Spark produced BIGINT — a type-family divergence invisible to
    schema-name comparison. The driver's hash normalization is unknown,
    so the only safe contract is identical type families on both sides
    and no fetch-path-dependent families (HUGEINT/DECIMAL/raw
    timestamps) at all. Schema-only: DuckDB plans the oracle, Spark
    analyzes the query; neither executes."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.gate import type_parity_problems

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    problems = {}
    for name, sql in oracles.items():
        probs = type_parity_problems(qs[name](spark, SF_DIR), con.sql(sql))
        if probs:
            problems[name] = probs
    assert not problems, problems
