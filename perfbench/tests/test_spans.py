"""Span bookkeeping, and Spark counters attributed to the span that ran them."""

import os
import threading
import time

import pytest

import oracle
import spans


def test_nesting_and_innermost():
    t = spans.Tracer()
    t.unit = 1
    with t.span("unit.total") as outer:
        time.sleep(0.05)
        with t.span("writers.commit") as inner:
            time.sleep(0.1)
    assert inner.parent == t.spans.index(outer)
    mid = (inner.start + inner.end) / 2
    assert t.innermost(mid, 1) is inner
    assert t.innermost(outer.start + 0.01, 1) is outer
    assert t.innermost(mid, 2) is None  # other units never match


def test_spans_on_other_threads_have_their_own_stack():
    t = spans.Tracer()
    t.unit = 0

    def worker():
        with t.span("writers.merge"):
            time.sleep(0.01)

    with t.span("streams.run"):
        th = threading.Thread(target=worker)
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    merge = next(s for s in t.spans if s.name == "writers.merge")
    assert merge.parent is None


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # collected with another suite: borrow, never stop
        yield active
        return
    tmp = str(tmp_path_factory.mktemp("spark"))
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "wh"))
         .config("spark.driver.memory", "1g")
         .getOrCreate())
    yield s
    s.stop()


def test_spark_counters_land_in_the_span_that_ran_them(spark):
    t = spans.Tracer()
    counters = spans.SparkCounters(spark, t)
    t.unit = 5
    with t.span("unit.total"):
        with t.span("graph.agg") as agg:
            spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with t.span("writers.noop") as idle:
            time.sleep(0.05)
    counters.attribute(5)
    assert agg.attrs["jobs"] >= 1 and agg.attrs["stages"] >= 2
    assert agg.attrs["tasks"] >= 2
    assert agg.attrs["shuffle_write_mb"] > 0
    assert agg.attrs["executor_cpu_s"] > 0
    assert {"analysis_s", "optimization_s", "planning_s"} <= set(agg.attrs)
    assert "jobs" not in idle.attrs
    # nothing is attributed twice: a second call finds no new work
    counters.attribute(5)
    assert agg.attrs["jobs"] == sum(s.attrs.get("jobs", 0) for s in t.spans)


def test_duckdb_and_spark_fingerprints_agree(spark):
    import duckdb

    rows = [("a", "Tweet"), ("b", "User_Twitter"), ("ж", "User_Reddit")]
    df = spark.createDataFrame(rows, ["node_id", "label"])
    con = duckdb.connect()
    con.execute("CREATE TABLE t (node_id VARCHAR, label VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    expected = tuple(int(x) for x in con.execute(
        oracle._fingerprint_sql("t", oracle.NODE_KEYS)).fetchone())
    assert oracle.spark_fingerprint(df, oracle.NODE_KEYS) == expected
    assert oracle.spark_fingerprint(df.limit(2), oracle.NODE_KEYS) != expected


def test_enrich_restatement_matches_the_engine_backends():
    # oracle.py restates sentiment_hash and claim_keyword in SQL; both sides
    # must give the same floor(x * 1e9) for every enrichment column
    import math

    import duckdb
    import pandas as pd

    from reddit_twitter_big_data_pipeline_spark.functions import enrich

    texts = ["война новости 98 percent", "战争 新闻", "official data: million dead",
             "the REPORT confirm", "x"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, content VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    cols = list(oracle.FLOAT_PROPS)
    got = con.execute(f"SELECT {', '.join(f'floor({c} * 1e9)::BIGINT' for c in cols)} "
                      f"FROM {oracle._enriched('t')} ORDER BY i").fetchall()
    series = pd.Series(texts)
    want = enrich.sentiment_hash(series).assign(claimScore=enrich.claim_keyword(series))
    assert [list(r) for r in got] == [[math.floor(want.loc[i, c] * 1e9) for c in cols]
                                      for i in range(len(texts))]
