"""CLI surface parity: the reference's arg contract + an end-to-end run."""

import pytest

from nba_data_pipeline_spark.sinks.store import read_store as _rs

from nba_data_pipeline_spark.cli import parse_args, run


def test_arg_contract_mirrors_reference():
    # exactly one of game_id / (season AND season_type)
    with pytest.raises(SystemExit):
        parse_args(["team_game_log", "--input", "i", "--output", "o"])
    with pytest.raises(SystemExit):
        parse_args(
            ["team_game_log", "--season", "2024-25", "--season_type", "Regular Season",
             "--game_id", "0022400001", "--input", "i", "--output", "o"]
        )
    with pytest.raises(SystemExit):
        parse_args(
            ["shot_details", "--season", "2024-25", "--season_type", "Regular Season",
             "--input", "i", "--output", "o"]  # missing player/team ids
        )
    args = parse_args(
        ["team_game_log", "--season", "2023-24, 2024-25", "--season_type",
         "Regular Season", "--input", "i", "--output", "o"]
    )
    assert args.seasons == ["2023-24", "2024-25"]


def test_cli_team_game_log_end_to_end(spark, tmp_path, team_game_log_df):
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    run(
        ["team_game_log", "--season", "2024-25", "--season_type", "Regular Season",
         "--input", raw, "--output", out],
        spark=spark,
    )
    from nba_data_pipeline_spark.sinks.store import is_snapshot_table, read_store

    # reference pipeline tables default to the snapshot format
    assert is_snapshot_table(out)
    back = read_store(spark, out)
    assert back.count() == 2
    assert {"SEASON", "SEASON_TYPE", "id"} <= set(back.columns)
    # delta re-run loads nothing new and changes nothing
    run(
        ["team_game_log", "--season", "2024-25", "--season_type", "Regular Season",
         "--input", raw, "--output", out, "--delta"],
        spark=spark,
    )
    assert read_store(spark, out).count() == 2
    # default creation: CDF on (Postgres-parity change semantics)
    from nba_data_pipeline_spark.sinks import snapshot as S

    assert S._load_manifest(out, 1).get("cdf_enabled", True) is True


def test_cli_no_cdf_flag_creates_table_without_sidecars(
    spark, tmp_path, team_game_log_df
):
    """VERDICT r14 task #4: --no-cdf surfaces the measured merge-tax
    dial — the created snapshot table records cdf_enabled=False and
    merges skip the write-time sidecar (feeds use the endpoint diff)."""
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    run(
        ["team_game_log", "--season", "2024-25", "--season_type", "Regular Season",
         "--input", raw, "--output", out, "--no-cdf"],
        spark=spark,
    )
    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.sinks.store import is_snapshot_table

    assert is_snapshot_table(out)
    assert S._load_manifest(out, 1)["cdf_enabled"] is False


def test_migrate_to_snapshot_defaults_cdf_off(spark, tmp_path):
    """A v1 bootstrap has no delta consumers — migration creates the
    snapshot table with cdf_enabled=False unless asked otherwise."""
    from nba_data_pipeline_spark.sinks import snapshot as S
    from nba_data_pipeline_spark.sinks.store import migrate_to_snapshot
    from nba_data_pipeline_spark.sinks.writer import write_table

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_table(spark.range(100).selectExpr("id as k", "id*2 as v"), src)
    migrate_to_snapshot(spark, src, dst, key="k")
    assert S._load_manifest(dst, 1)["cdf_enabled"] is False
    dst2 = str(tmp_path / "dst2")
    migrate_to_snapshot(spark, src, dst2, key="k", cdf=True)
    assert S._load_manifest(dst2, 1)["cdf_enabled"] is True


def test_cli_multi_season_input_scopes_by_game_id(spark, tmp_path):
    """A file holding two seasons must not double-load: each season pass
    scopes rows via the GAME_ID-derived season before stamping."""
    rows = []
    for gid0 in ("0022300", "0022400"):
        for g in range(3):
            for t in (100, 200):
                rows.append((f"{gid0}00{g}", t, "AAA", "Alphas", "2024-10-25",
                             "AAA vs. BBB", "W", 100.0, 5.0))
    raw = str(tmp_path / "raw2")
    out = str(tmp_path / "out2")
    spark.createDataFrame(rows,
        "GAME_ID string, TEAM_ID long, TEAM_ABBREVIATION string, TEAM_NAME string,"
        "GAME_DATE string, MATCHUP string, WL string, PTS double, PLUS_MINUS double"
    ).write.parquet(raw)
    run(["team_game_log", "--season", "2023-24,2024-25", "--season_type",
         "Regular Season", "--input", raw, "--output", out], spark=spark)
    from nba_data_pipeline_spark.sinks.store import read_store

    back = read_store(spark, out)
    assert back.count() == 12
    per_season = {r.SEASON: r.n for r in back.groupBy("SEASON").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert per_season == {"2023-24": 6, "2024-25": 6}


def test_cli_delta_unreadable_existing_table_fails_loudly(spark, tmp_path, team_game_log_df):
    """--delta with an existing-but-corrupt output must raise, not
    silently disable delta filtering (ADVICE r2)."""
    raw = str(tmp_path / "raw3")
    out = tmp_path / "out3"
    team_game_log_df.write.parquet(raw)
    out.mkdir()
    (out / "part-00000.parquet").write_text("not parquet at all")
    with pytest.raises(Exception):
        run(["team_game_log", "--season", "2024-25", "--season_type",
             "Regular Season", "--input", raw, "--output", str(out), "--delta"],
            spark=spark)


def test_cli_corpus_pipeline_end_to_end(spark, tmp_path):
    from nba_data_pipeline_spark import cli

    good = ("the quick brown fox jumps over the lazy dog while the keen red "
            "hen walks under a tall green tree near the old stone wall today")
    docs = spark.createDataFrame(
        [(1, good),
         (2, "an entirely different and quite long document about the sea "
             "and the ships that sail upon it every single morning in june")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "completely unrelated benchmark prompt")], "doc_id long, text string"
    )
    docs_p, bench_p, out_p = (str(tmp_path / n) for n in ("docs", "bench", "out"))
    docs.write.parquet(docs_p)
    bench.write.parquet(bench_p)
    argv = ["corpus", "--input", docs_p, "--benchmark", bench_p,
            "--output", out_p, "--pack_capacity", "64", "--shards", "4"]
    cli.run(argv, spark)
    got = _rs(spark, out_p)
    assert got.count() == 2
    assert {"split", "pack_id", "start_offset"} <= set(got.columns)
    cli.run(argv, spark)  # idempotent re-run (upsert on doc_id)
    assert _rs(spark, out_p).count() == 2
    # --benchmark is mandatory for corpus
    import pytest
    with pytest.raises(SystemExit, match="benchmark"):
        cli.parse_args(["corpus", "--input", docs_p, "--output", out_p])


def test_cli_corpus_pii_scrub_flag(spark, tmp_path):
    from nba_data_pipeline_spark import cli

    leaky = ("the quick brown fox jumps over the lazy dog while the keen red "
             "hen mails fox@example.com and calls 555-123-4567 every day")
    docs = spark.createDataFrame([(1, leaky)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "completely unrelated benchmark prompt")], "doc_id long, text string"
    )
    docs_p, bench_p, out_p = (str(tmp_path / n) for n in ("docs", "bench", "out"))
    docs.write.parquet(docs_p)
    bench.write.parquet(bench_p)
    cli.run(["corpus", "--input", docs_p, "--benchmark", bench_p,
             "--output", out_p, "--pack_capacity", "64", "--shards", "4",
             "--pii_scrub", "email,phone"], spark)
    text = _rs(spark, out_p).collect()[0].text
    assert "[EMAIL]" in text and "[PHONE]" in text
    assert "fox@example.com" not in text and "555-123-4567" not in text
    # typo'd type fails loudly pre-Spark
    import pytest
    with pytest.raises(SystemExit, match="unknown PII types"):
        cli.parse_args(["corpus", "--input", docs_p, "--benchmark", bench_p,
                        "--output", out_p, "--pii_scrub", "email,passport"])


def test_cli_game_id_path_decodes_season_for_partitioning(
    spark, tmp_path, team_game_log_df
):
    """--game_id (no --season) must stamp the GAME_ID-decoded season and
    type, not NULLs — VOID-typed partition columns are rejected by the
    (SEASON, SEASON_TYPE)-partitioned write, and a NULL stamp would
    also strand the key in a different partition than a later --season
    run."""
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    run(
        ["team_game_log", "--game_id", "0022400001", "--input", raw, "--output", out],
        spark=spark,
    )
    from nba_data_pipeline_spark.sinks.store import read_store

    back = read_store(spark, out)
    rows = back.collect()
    assert len(rows) == 2
    assert all(r.SEASON == "2024-25" for r in rows)
    assert all(r.SEASON_TYPE == "Regular Season" for r in rows)


def test_cli_game_id_rejects_malformed_and_unknown_type(spark, tmp_path, team_game_log_df):
    """A short/non-numeric id or a season-type digit outside {1,2,4}
    (All-Star '3', Play-In '5', IST) must fail loudly: a silently
    defaulted 'Regular Season' would upsert into the wrong partition."""
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "out")
    team_game_log_df.write.parquet(raw)
    for bad in ("00224001", "002240000x", "0052400001"):
        with pytest.raises(SystemExit, match="game_id"):
            run(
                ["team_game_log", "--game_id", bad, "--input", raw, "--output", out],
                spark=spark,
            )


def test_cli_team_name_resolves_to_reference_id():
    """--team_id accepts a franchise name (reference NBATeams constants,
    api/smart.py:11-46) and resolves it before any Spark work."""
    args = parse_args(
        ["shot_details", "--season", "2024-25", "--season_type", "Regular Season",
         "--player_id", "203999", "--team_id", "Denver Nuggets",
         "--input", "i", "--output", "o"]
    )
    assert args.team_id == 1610612743
    args = parse_args(
        ["shot_details", "--season", "2024-25", "--season_type", "Regular Season",
         "--player_id", "203999", "--team_id", "1610612744",
         "--input", "i", "--output", "o"]
    )
    assert args.team_id == 1610612744
    with pytest.raises(SystemExit, match="unknown team"):
        parse_args(
            ["shot_details", "--season", "2024-25", "--season_type",
             "Regular Season", "--player_id", "203999", "--team_id",
             "Seattle SuperSonics", "--input", "i", "--output", "o"]
        )


def test_cli_corpus_ingest_streams_to_four_tables(spark, tmp_path):
    import os

    from nba_data_pipeline_spark.cli import parse_args, run

    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    good = "the quick brown fox jumps and runs with great energy today " * 6
    spark.createDataFrame(
        [(1, good), (2, "tiny")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run(
        ["corpus_ingest", "--input", src, "--output", out,
         "--lm_ref", src, "--checkpoint", ckpt,
         "--gate_min_tokens", "10"],
        spark=spark,
    )
    corpus = _rs(spark, os.path.join(out, "corpus"))
    assert {r.doc_id for r in corpus.collect()} == {1}  # runt gated out
    assert _rs(spark, os.path.join(out, "scores")).count() == 1

    import pytest as _p
    with _p.raises(SystemExit, match="lm_ref"):
        parse_args(["corpus_ingest", "--input", src, "--output", out])
    with _p.raises(SystemExit, match="does not apply"):
        parse_args(["corpus_ingest", "--input", src, "--output", out,
                    "--lm_ref", src, "--season", "2024-25"])


def test_cli_corpus_ingest_pii_scrub(spark, tmp_path):
    import os

    from nba_data_pipeline_spark.cli import run

    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    leaky = ("the quick brown fox jumps and runs with great energy today " * 6
             + "reach me at fox@den.example")
    spark.createDataFrame([(1, leaky)], "doc_id long, text string").coalesce(
        1).write.mode("append").parquet(src)
    run(
        ["corpus_ingest", "--input", src, "--output", out,
         "--lm_ref", src, "--checkpoint", ckpt,
         "--gate_min_tokens", "10", "--pii_scrub", "email"],
        spark=spark,
    )
    text = _rs(spark, os.path.join(out, "corpus")).collect()[0].text
    assert "[EMAIL]" in text and "fox@den.example" not in text


def test_cli_corpus_release(spark, tmp_path, capsys):
    import os

    from nba_data_pipeline_spark.cli import run

    src = str(tmp_path / "docs")
    bench = str(tmp_path / "bench")
    out = str(tmp_path / "rel")
    base = "the quick brown fox jumps over the lazy dog near the river bank today "
    spark.createDataFrame(
        [(i, base + f"variant {i} extra words of filler text here") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(99, "separate benchmark sentence entirely")], "doc_id long, text string"
    ).write.parquet(bench)
    run(["corpus_release", "--input", src, "--output", out,
         "--benchmark", bench, "--min_quality", "0.0", "--shards", "2",
         "--pack_capacity", "64"], spark=spark)
    assert os.path.isdir(os.path.join(out, "train"))
    assert spark.read.parquet(os.path.join(out, "_summary")).count() >= 1
    printed = capsys.readouterr().out
    assert "train:" in printed


def test_cli_corpus_ingest_seen_state(spark, tmp_path):
    import os

    from nba_data_pipeline_spark.cli import parse_args, run

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    out = str(tmp_path / "lake")
    good = "the quick brown fox jumps and runs with great energy today " * 6
    other = "a calm grey owl watches the quiet forest and waits at night " * 6
    spark.createDataFrame([(1, good)], "doc_id long, text string").coalesce(
        1
    ).write.parquet(src1)
    # second stream: SAME content under a new id + genuinely new content
    spark.createDataFrame(
        [(99, good), (2, other)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src2)
    common = ["--output", out, "--lm_ref", src1, "--gate_min_tokens", "10",
              "--seen_state"]
    run(["corpus_ingest", "--input", src1,
         "--checkpoint", str(tmp_path / "c1"), *common], spark=spark)
    run(["corpus_ingest", "--input", src2,
         "--checkpoint", str(tmp_path / "c2"), *common], spark=spark)
    corpus = _rs(spark, os.path.join(out, "corpus"))
    # the replayed content never re-ingests; state tables exist on disk
    assert {r.doc_id for r in corpus.collect()} == {1, 2}
    assert spark.read.parquet(os.path.join(out, "bloom")).count() > 0
    assert spark.read.parquet(os.path.join(out, "hashes")).count() == 2

    with pytest.raises(SystemExit, match="seen_state"):
        parse_args(["play_by_play", "--game_id", "0022400001",
                    "--input", src1, "--output", out, "--seen_state"])


def test_cli_cdc_materialize(spark, tmp_path):
    from nba_data_pipeline_spark.cli import parse_args, run
    from nba_data_pipeline_spark.sinks.snapshot import read_cdc_state

    src, out = str(tmp_path / "log"), str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, "I", 1, "a", 1.0), (2, "I", 1, "b", 2.0),
         (1, "U", 3, "a", 3.0), (2, "D", 5, "b", 0.0)],
        "id long, op string, seq int, name string, bal double",
    ).coalesce(1).write.parquet(src)
    run(["cdc_materialize", "--input", src, "--output", out,
         "--key", "id", "--seq_col", "seq",
         "--checkpoint", str(tmp_path / "ckpt")], spark=spark)
    got = {r.id: r.bal for r in read_cdc_state(spark, out).collect()}
    assert got == {1: 3.0}

    with pytest.raises(SystemExit, match="requires --key"):
        parse_args(["cdc_materialize", "--input", src, "--output", out])
    with pytest.raises(SystemExit, match="only apply to cdc_materialize"):
        parse_args(["corpus", "--input", src, "--output", out,
                    "--benchmark", src, "--key", "id"])


def test_cli_corpus_takedown(spark, tmp_path):
    import os

    from nba_data_pipeline_spark.cli import run
    from nba_data_pipeline_spark.operators.text import fit_trigram_lm
    from nba_data_pipeline_spark.streaming.ops import corpus_ingest_batch

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
    ])
    good = "the quick brown fox jumps and runs with great energy today " * 6
    other = "a calm grey owl watches the quiet forest and waits at night " * 6
    lm = fit_trigram_lm(spark.createDataFrame([(0, good)], schema), "text")
    out = str(tmp_path / "lake")
    corpus_ingest_batch(
        spark.createDataFrame([(1, good), (2, other)], schema), lm,
        os.path.join(out, "corpus"), os.path.join(out, "sigs"),
        os.path.join(out, "pairs"), os.path.join(out, "scores"),
        num_perm=32, bands=16, threshold=0.3,
    )
    ids = str(tmp_path / "ids")
    spark.createDataFrame([(2,)], "doc_id long").coalesce(1).write.parquet(ids)
    run(["corpus_takedown", "--input", ids, "--output", out], spark=spark)
    assert {r.doc_id for r in
            _rs(spark, os.path.join(out, "corpus")).collect()} == {1}
    assert {r.doc_id for r in
            _rs(spark, os.path.join(out, "sigs")).collect()} == {1}


def test_cli_snapshot_admin_validation():
    import pytest as _pytest

    from nba_data_pipeline_spark.cli import parse_args

    with _pytest.raises(SystemExit, match="requires --op"):
        parse_args(["snapshot_admin", "--input", "/t"])
    with _pytest.raises(SystemExit, match="requires --to_version"):
        parse_args(["snapshot_admin", "--input", "/t", "--op", "rollback"])
    with _pytest.raises(SystemExit, match="requires --target_rows"):
        parse_args(["snapshot_admin", "--input", "/t", "--op", "compact"])
    with _pytest.raises(SystemExit, match="range_col"):
        parse_args(["snapshot_admin", "--input", "/t", "--op", "delete_range"])
    with _pytest.raises(SystemExit, match="requires --from_version"):
        parse_args(["snapshot_admin", "--input", "/t", "--op", "changes"])
    with _pytest.raises(SystemExit, match="only applies to snapshot_admin"):
        parse_args(["team_game_log", "--input", "/t", "--output", "/o",
                    "--season", "2024-25", "--season_type", "Regular Season",
                    "--op", "vacuum"])
    # every non-admin pipeline still demands --output
    with _pytest.raises(SystemExit, match="--output is required"):
        parse_args(["team_game_log", "--input", "/t",
                    "--season", "2024-25", "--season_type", "Regular Season"])
    # history mutates nothing and needs no output
    args = parse_args(["snapshot_admin", "--input", "/t", "--op", "history"])
    assert args.op == "history" and args.output is None


def test_cli_snapshot_admin_ops_end_to_end(spark, tmp_path, capsys):
    """The maintenance surface against a real snapshot table: compact
    consolidates files, delete_range expires a key range (recording the
    lazy feed block), rollback restores, vacuum reclaims, changes
    exports the feed as parquet — each printing one parseable JSON
    line."""
    import json

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.cli import run
    from nba_data_pipeline_spark.sinks import snapshot as S

    t = str(tmp_path / "t")
    base = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    S.write_snapshot(spark, base, t, key="k", target_files=16)

    def admin(*argv):
        run(["snapshot_admin", "--input", t, *argv], spark=spark)
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    hist = admin("--op", "history")
    assert [h["op"] for h in hist["history"]] == ["create"]
    out = admin("--op", "delete_range", "--range_col", "k",
                "--lo", "1500", "--hi", "1999")
    assert out["version"] == 2
    assert S._load_manifest(t, 2)["cdf"]["mode"] == "delete_range"
    assert S.read_snapshot(spark, t).count() == 1500
    out = admin("--op", "compact", "--target_rows", "2000")
    assert out["version"] == 3
    assert len(S._load_manifest(t, 3)["files"]) == 1
    out = admin("--op", "rollback", "--to_version", "1")
    assert out["version"] == 4 and S.read_snapshot(spark, t).count() == 2000
    feed_dir = str(tmp_path / "feed")
    out = admin("--op", "changes", "--from_version", "1",
                "--to_version", "4", "--output", feed_dir)
    assert out["rows"] == 0  # v4 restored v1: identical endpoints net to zero
    out = admin("--op", "changes", "--from_version", "2",
                "--to_version", "3", "--output", feed_dir)
    assert out["rows"] == 0  # compaction is physical-only
    out = admin("--op", "vacuum", "--keep_last", "2", "--min_age", "0")
    assert out["manifests_removed"] >= 1
    assert S.read_snapshot(spark, t).count() == 2000
