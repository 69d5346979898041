"""Unit tests for operators.cleanse — SURVEY §2.3 F1-F6 / T1-T5, one test per
inventory row, inline frames with exact expected output (SURVEY §5 plan #1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_twitter_big_data_pipeline_spark.operators import cleanse


def test_f1_time_range_half_open(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-02 00:00:00",), ("2024-01-03 00:00:00",)],
        ["s"],
    ).select(F.to_timestamp("s").alias("ts"))
    out = cleanse.filter_time_range(df, "ts", "2024-01-01 00:00:00", "2024-01-03 00:00:00")
    got = sorted(r.ts.strftime("%Y-%m-%d") for r in out.collect())
    assert got == ["2024-01-01", "2024-01-02"]  # end is exclusive


def test_f2_scrub_empty_any_column_drops_row(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("", "y"), ("c", ""), (None, "z"), ("e", "w")], ["u", "v"]
    )
    out = cleanse.scrub_empty(df, ["u", "v"])
    assert sorted(r.u for r in out.collect()) == ["a", "e"]


def test_f3_sentinels_nulled_then_dropped(spark):
    rows = [
        ("keep", "alice"),
        ("[deleted]", "bob"),
        ("[removed]", "carol"),
        ("", "dan"),
        ("fine", "None"),
        ("ok", ""),
        (None, "eve"),
        ("good", None),
    ]
    df = spark.createDataFrame(rows, ["content", "username"])
    out = cleanse.scrub_sentinels(df)
    assert sorted((r.content, r.username) for r in out.collect()) == [("keep", "alice")]


def test_f4_bot_filter(spark):
    df = spark.createDataFrame(
        [("1", "AutoModerator"), ("2", "human"), ("3", None)], ["id", "username"]
    )
    out = cleanse.filter_bots(df)
    assert [r.id for r in out.collect()] == ["2"]


def test_f5_length_guard_drops_null(spark):
    # NULL content fails the guard (SQL `length(c) <= n` semantics — ADVICE
    # r1: the coalesce-keep behavior diverged from the oracle on NULL data)
    df = spark.createDataFrame([("abc",), ("toolongtext",), (None,)], ["content"])
    out = cleanse.filter_length(df, ["content"], 5)
    assert [r.content for r in out.collect()] == ["abc"]


def test_f6_blocklist_case_insensitive_substring(spark):
    df = spark.createDataFrame(
        [("1", "clean text"), ("2", "has BadWord inside"), ("3", "also badword")],
        ["id", "content"],
    )
    out = cleanse.filter_blocklist(df, ["content"], ["badword"])
    assert [r.id for r in out.collect()] == ["1"]


def test_f6_blocklist_regex_metachars_escaped(spark):
    df = spark.createDataFrame([("1", "price is 5.5"), ("2", "price is 555")], ["id", "content"])
    out = cleanse.filter_blocklist(df, ["content"], ["5.5"])
    # "." must match literally: only the literal "5.5" row drops
    assert [r.id for r in out.collect()] == ["2"]


def test_t1_parse_mentions_roundtrip(spark):
    df = spark.createDataFrame(
        [("1", "a,b"), ("2", None), ("3", "")], ["id", "mentionedUsers"]
    )
    parsed = cleanse.parse_mentions(df)
    got = {r.id: r.mentionedUsers for r in parsed.collect()}
    assert got == {"1": ["a", "b"], "2": [], "3": []}
    back = parsed.select("id", cleanse.mentions_to_csv().alias("csv")).collect()
    assert {r.id: r.csv for r in back} == {"1": "a,b", "2": None, "3": None}


def test_t3_dataload_label(spark):
    df = spark.createDataFrame([("2024-03-05 10:00:00",)], ["s"]).select(
        F.to_timestamp("s").alias("ts")
    )
    assert df.select(cleanse.dataload_label(F.col("ts")).alias("d")).first().d == "05-03-2024"


def test_t4_cast_cols(spark):
    df = spark.createDataFrame([("5", "1.5")], ["a", "b"])
    out = cleanse.cast_cols(df, {"a": "int", "b": "double"})
    r = out.first()
    assert r.a == 5 and abs(r.b - 1.5) < 1e-12
    assert dict(out.dtypes) == {"a": "int", "b": "double"}


# --------------------------------------------------------------- PII scrub


def test_redact_pii_each_kind_and_counts(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org today"),
        (2, "call 555-867-5309 or 555.867.5309"),
        (3, "server 192.168.0.1 and 10.0.0.255"),
        (4, "ssn 123-45-6789 card 4111 1111 1111 1111"),
        (5, "clean text, no pii at all"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in cleanse.redact_pii(df, "text").collect()}

    assert out[1].redacted == "mail me at <EMAIL> today"
    assert out[1].n_email == 1
    assert out[2].redacted == "call <PHONE> or <PHONE>"
    assert out[2].n_phone == 2
    assert out[3].redacted == "server <IP> and <IP>"
    assert out[3].n_ip == 2
    # specificity order: the SSN is not half-eaten by the phone pattern,
    # the spaced card number is caught whole
    assert out[4].redacted == "ssn <SSN> card <CC>"
    assert out[4].n_ssn == 1 and out[4].n_cc == 1
    assert out[5].redacted == rows[4][1]
    assert all(
        getattr(out[5], f"n_{k}") == 0 for k, _p, _r in cleanse.PII_PATTERNS
    )
    assert out[6].redacted is None  # nulls pass through


def test_redact_pii_count_flag_off(spark):
    df = spark.createDataFrame([(1, "a@b.co")], "doc_id int, text string")
    out = cleanse.redact_pii(df, "text", count=False)
    assert out.columns == ["doc_id", "text", "redacted"]
    assert out.first().redacted == "<EMAIL>"
