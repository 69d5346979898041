"""Streaming semantics — SURVEY §2.6 (W1-W6).

Replays the reference's cron-based micro-batch topology (15-min scrapes →
daily job with bookmarks → 2-3-day late refresh) as real Structured
Streaming: file source + watermark windows + checkpointed exactly-once sinks
+ foreachBatch merge. Fixture files mimic the reference landing format
(JSON arrays, reference: twitter/lambda_function.py:42-43).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_twitter_big_data_pipeline_spark.streaming import streams

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("username", T.StringType(), True),
    ]
)


def _write_batch(dirpath, name: str, rows: list[dict]) -> None:
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text(json.dumps(rows))


def _rows(ids_times: list[tuple[int, str]], user: str = "u1") -> list[dict]:
    return [{"id": i, "date": t, "username": user} for i, t in ids_times]


def _with_ts(df):
    return df.withColumn("ts", F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss"))


def test_w1_w2_stream_windowed_counts(spark, tmp_path):
    land = tmp_path / "land"
    _write_batch(
        land,
        "b1.json",
        _rows(
            [(1, "2023-03-25 12:01:00"), (2, "2023-03-25 12:07:00"),
             (3, "2023-03-25 12:16:00"), (4, "2023-03-25 14:00:00")]
        ),
    )
    src = streams.read_json_stream(spark, str(land), SCHEMA)
    assert src.isStreaming
    agg = streams.windowed_counts(_with_ts(src), window="15 minutes", keys=["username"])
    q = streams.write_stream(
        agg, str(tmp_path / "out"), str(tmp_path / "ckpt"), output_mode="append"
    )
    streams.run_to_completion(q)
    got = {
        (r.window_start.minute, r.n)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # Final watermark = 14:00 − 1h = 13:00, which closes 12:00-12:15 (ids 1,2)
    # and 12:15-12:30 (id 3); the 14:00-14:15 window stays open (append mode
    # emits only watermark-closed windows — availableNow runs a flush batch).
    assert got == {(0, 2), (15, 1)}


def test_w5_checkpoint_exactly_once(spark, tmp_path):
    land, out, ckpt = tmp_path / "land", str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_batch(land, "b1.json", _rows([(1, "2023-03-25 12:01:00"), (2, "2023-03-25 12:02:00")]))
    src = lambda: _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)).select(  # noqa: E731
        "id", "ts", "username"
    )
    streams.run_to_completion(streams.write_stream(src(), out, ckpt))
    assert spark.read.parquet(out).count() == 2
    # Replay with the same checkpoint, no new files → no duplicates (bookmark
    # semantics, reference: terraform/main.tf:374).
    streams.run_to_completion(streams.write_stream(src(), out, ckpt))
    assert spark.read.parquet(out).count() == 2
    # New file lands → only its rows are appended.
    _write_batch(land, "b2.json", _rows([(3, "2023-03-25 12:03:00")]))
    streams.run_to_completion(streams.write_stream(src(), out, ckpt))
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.select(F.countDistinct("id")).first()[0] == 3


def test_w4_upsert_stream_late_refresh(spark, tmp_path):
    land, tgt, ckpt = tmp_path / "land", str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    _write_batch(
        land,
        "day1.json",
        [{"id": 10, "date": "2023-03-25 12:00:00", "username": "a"},
         {"id": 11, "date": "2023-03-25 12:01:00", "username": "b"}],
    )
    run = lambda: streams.run_to_completion(  # noqa: E731
        streams.upsert_stream(
            _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)),
            tgt, ckpt, keys=["id"], order_col="ts",
        )
    )
    run()
    assert spark.read.parquet(tgt).count() == 2
    # T+2 re-crawl of id=10 with settled data (reference:
    # reddit/lambda_function_aggregate.py:59-71) — upsert, not append.
    _write_batch(
        land, "day3.json", [{"id": 10, "date": "2023-03-27 00:00:00", "username": "a2"}]
    )
    run()
    got = {r.id: r.username for r in spark.read.parquet(tgt).collect()}
    assert got == {10: "a2", 11: "b"}
    # Idempotent replay: same checkpoint, nothing new.
    run()
    assert spark.read.parquet(tgt).count() == 2


def test_w4_upsert_stream_partition_scoped(spark, tmp_path):
    """VERDICT r2 item 8: with partition_cols, each micro-batch rewrites only
    the partitions its keys live in — untouched partition files stay
    byte-identical across batches."""
    import hashlib

    land, tgt, ckpt = tmp_path / "land", str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    _write_batch(
        land,
        "day1.json",
        [{"id": 10, "date": "2023-03-25 12:00:00", "username": "a"},
         {"id": 11, "date": "2023-03-26 12:01:00", "username": "b"}],
    )
    run = lambda: streams.run_to_completion(  # noqa: E731
        streams.upsert_stream(
            _with_ts(streams.read_json_stream(spark, str(land), SCHEMA))
            .withColumn("day", F.to_date("ts")),
            tgt, ckpt, keys=["id"], order_col="ts", partition_cols=["day"],
        )
    )
    run()
    files = lambda: {  # noqa: E731
        str(p.relative_to(tmp_path / "tgt")): hashlib.md5(p.read_bytes()).hexdigest()
        for p in (tmp_path / "tgt").rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    }
    before = {k: v for k, v in files().items() if "day=2023-03-25" in k}
    assert before
    # late refresh hits only the 03-26 partition
    _write_batch(land, "day3.json", [{"id": 11, "date": "2023-03-26 23:00:00", "username": "b2"}])
    run()
    got = {r.id: r.username for r in spark.read.parquet(tgt).collect()}
    assert got == {10: "a", 11: "b2"}
    assert {k: v for k, v in files().items() if "day=2023-03-25" in k} == before


def test_rollup_stream_incremental_and_replay_safe(spark, tmp_path):
    """Continuous aggregate: micro-batches fold partial sums into the stored
    rollup; a replay with the same checkpoint must not double-count."""
    land, tgt, ckpt = tmp_path / "land", str(tmp_path / "roll"), str(tmp_path / "ckpt")
    _write_batch(land, "b1.json", _rows([(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:10:00")]))
    src = lambda: (  # noqa: E731
        _with_ts(streams.read_json_stream(spark, str(land), SCHEMA))
        .withColumn("day", F.to_date("ts").cast("string"))
        .withColumn("n", F.lit(1))
    )
    run = lambda: streams.run_to_completion(  # noqa: E731
        streams.rollup_stream(src(), tgt, ckpt, ["day"], ["n"], ["day"])
    )
    run()
    assert {str(r.day): r.n for r in spark.read.parquet(tgt).collect()} == {"2023-03-25": 2}
    # replay with nothing new: no double count
    run()
    assert {str(r.day): r.n for r in spark.read.parquet(tgt).collect()} == {"2023-03-25": 2}
    # a second batch spanning two days folds incrementally
    _write_batch(
        land, "b2.json", _rows([(3, "2023-03-25 13:00:00"), (4, "2023-03-26 09:00:00")])
    )
    run()
    assert {str(r.day): r.n for r in spark.read.parquet(tgt).collect()} == {
        "2023-03-25": 3,
        "2023-03-26": 1,
    }


def test_dedup_stream_drops_replays_within_watermark(spark, tmp_path):
    """The re-scrape overlap case: the same ids arrive again in a later
    micro-batch; dropDuplicatesWithinWatermark state keeps first arrivals
    only."""
    land, out, ckpt = tmp_path / "land", str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_batch(land, "b1.json", _rows([(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:01:00")]))
    # overlap replay of id=2 plus a new id=3, inside the 1-hour horizon
    _write_batch(land, "b2.json", _rows([(2, "2023-03-25 12:05:00"), (3, "2023-03-25 12:06:00")]))
    src = streams.dedupe_stream(
        _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)), ["id"], "ts", "1 hour"
    )
    streams.run_to_completion(streams.write_stream(src, out, ckpt))
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.select(F.countDistinct("id")).first()[0] == 3


def test_w6_sessionized_counts(spark, tmp_path):
    land = tmp_path / "land"
    _write_batch(
        land,
        "b1.json",
        _rows(
            [(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:10:00"),  # session A
             (3, "2023-03-25 14:00:00")],  # session B (gap > 30 min)
        ),
    )
    src = _with_ts(streams.read_json_stream(spark, str(land), SCHEMA))
    agg = streams.sessionized_counts(src, gap="30 minutes", keys=["username"])
    q = streams.write_stream(
        agg, str(tmp_path / "out"), str(tmp_path / "ckpt"), output_mode="append"
    )
    streams.run_to_completion(q)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    # Watermark closes the first session (ended 12:40 < 14:00 − 1h? no: wm is
    # max_ts − 1h = 13:00 > 12:40 → emitted). Second session still open.
    assert {(r.session_start.hour, r.n) for r in rows} == {(12, 2)}


def test_w6_dedupe_stream(spark, tmp_path):
    land = tmp_path / "land"
    _write_batch(
        land,
        "b1.json",
        _rows([(1, "2023-03-25 12:00:00"), (1, "2023-03-25 12:00:30"), (2, "2023-03-25 12:01:00")]),
    )
    src = _with_ts(streams.read_json_stream(spark, str(land), SCHEMA))
    ded = streams.dedupe_stream(src, keys=["id"])
    q = streams.write_stream(ded, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    streams.run_to_completion(q)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 2
    assert sorted(r.id for r in got.collect()) == [1, 2]


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Posts joined to refresh events within 15 min on the same key; the
    time bound keeps join state bounded (append mode requires it)."""
    posts = tmp_path / "posts"
    refr = tmp_path / "refresh"
    _write_batch(
        posts,
        "p.json",
        _rows([(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:30:00"),
               (3, "2023-03-25 14:00:00")]),
    )
    _write_batch(
        refr,
        "r.json",
        _rows([(1, "2023-03-25 12:05:00"),   # within 15 min of post 1
               (2, "2023-03-25 13:20:00"),   # 50 min after post 2 → no match
               (9, "2023-03-25 12:01:00")]), # key never posted
    )
    p = _with_ts(streams.read_json_stream(spark, str(posts), SCHEMA))
    r = _with_ts(streams.read_json_stream(spark, str(refr), SCHEMA)).select(
        "id", F.col("ts").alias("refresh_ts")
    )
    joined = streams.stream_stream_join(
        p, r, ["id"], left_ts="ts", right_ts="refresh_ts", max_delay="15 minutes"
    ).select("id", "ts", "refresh_ts")
    q = streams.write_stream(
        joined, str(tmp_path / "out"), str(tmp_path / "ck"), output_mode="append"
    )
    streams.run_to_completion(q)
    got = {(r.id, r.refresh_ts.minute) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {(1, 5)}


def test_graph_stream_end_to_end_idempotent(spark, tmp_path):
    """Full reference topology on a stream: tweets in, nodes/edges MERGEd to
    the (mock) graph store per micro-batch; replaying the whole stream into
    a fresh checkpoint converges to the same graph — the exactly-once +
    idempotent-MERGE composition."""
    import glob as _glob
    import uuid as _uuid

    from reddit_twitter_big_data_pipeline_spark.operators import cleanse

    land = tmp_path / "tweets"
    land.mkdir()
    rows = [
        {"id": "1", "content": "hi", "username": "alice",
         "mentionedUsers": "bob,carol", "inReplyToUser": None},
        {"id": "2", "content": "yo", "username": "bob",
         "mentionedUsers": None, "inReplyToUser": None},
    ]
    (land / "t1.json").write_text(json.dumps(rows))
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("username", T.StringType()),
            T.StructField("mentionedUsers", T.StringType()),
            T.StructField("inReplyToUser", T.StringType()),
        ]
    )
    out_dir = str(tmp_path / "calls")
    os.makedirs(out_dir)

    def transport_factory():
        def send(statement, rows):
            p = os.path.join(out_dir, f"{_uuid.uuid4().hex}.json")
            with open(p, "w") as f:
                json.dump({"statement": statement, "rows": rows}, f)

        return send

    def run(ckpt):
        src = cleanse.parse_mentions(streams.read_json_stream(spark, str(land), schema))
        q = streams.graph_stream(src, transport_factory, str(tmp_path / ckpt))
        streams.run_to_completion(q)

    run("ck1")
    run("ck2")  # full replay into a fresh checkpoint: MERGE must converge

    nodes, edges = {}, set()
    for p in _glob.glob(out_dir + "/*.json"):
        c = json.load(open(p))
        if "MERGE (n:" in c["statement"]:
            label = c["statement"].split("MERGE (n:")[1].split(" ")[0]
            for r in c["rows"]:
                nodes[(label, r["node_id"])] = True
        else:
            rel = c["statement"].split("MERGE (a)-[r:")[1].split("]")[0]
            for r in c["rows"]:
                edges.add((r["src"], rel, r["dst"]))
    assert ("Tweet", "1") in nodes and ("User_Twitter", "carol") in nodes
    assert ("1", "MENTIONS", "bob") in edges and ("2", "POSTED_BY", "bob") in edges
    # replay created no NEW graph entities: sets are deduped by construction,
    # so assert cardinalities match a single logical graph
    assert len([k for k in nodes if k[0] == "Tweet"]) == 2
    assert len(edges) == 4  # 2 POSTED_BY + 2 MENTIONS


def test_rollup_stream_fresh_checkpoint_reprocesses(spark, tmp_path):
    """Reprocessing with a NEW checkpoint against a fresh target must fold
    every batch — batch ids restart at 0, and a marker left by the previous
    incarnation (stored next to the TARGET) must not silently classify them
    as replays (the incarnation id scoping the marker pins this)."""
    import shutil

    land, tgt = tmp_path / "land", str(tmp_path / "roll")
    _write_batch(land, "b1.json", _rows([(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:10:00")]))
    src = lambda: (  # noqa: E731
        _with_ts(streams.read_json_stream(spark, str(land), SCHEMA))
        .withColumn("day", F.to_date("ts").cast("string"))
        .withColumn("n", F.lit(1))
    )
    streams.run_to_completion(
        streams.rollup_stream(src(), tgt, str(tmp_path / "ckpt1"), ["day"], ["n"], ["day"])
    )
    assert {str(r.day): r.n for r in spark.read.parquet(tgt).collect()} == {"2023-03-25": 2}
    # operator reprocesses: fresh target, fresh checkpoint — but the old
    # marker file (<target>.__last_batch__) is still on disk
    shutil.rmtree(tgt)
    streams.run_to_completion(
        streams.rollup_stream(src(), tgt, str(tmp_path / "ckpt2"), ["day"], ["n"], ["day"])
    )
    assert {str(r.day): r.n for r in spark.read.parquet(tgt).collect()} == {"2023-03-25": 2}


def test_stream_static_enrich(spark, tmp_path):
    """Each micro-batch joins the static dim; unmatched rows survive a left
    join with nulls, and an inner join drops them."""
    land, out, ckpt = tmp_path / "land", str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_batch(land, "b1.json", _rows([(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:01:00")]))
    dim = spark.createDataFrame([(1, "gold")], ["id", "tier"])
    src = streams.stream_static_enrich(
        _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)), dim, ["id"]
    )
    streams.run_to_completion(streams.write_stream(src, out, ckpt))
    got = {r.id: r.tier for r in spark.read.parquet(out).collect()}
    assert got == {1: "gold", 2: None}
    inner = streams.stream_static_enrich(
        _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)), dim, ["id"], how="inner"
    )
    streams.run_to_completion(
        streams.write_stream(inner, str(tmp_path / "out2"), str(tmp_path / "ckpt2"))
    )
    assert [r.id for r in spark.read.parquet(str(tmp_path / "out2")).collect()] == [1]
    import pytest

    with pytest.raises(ValueError, match="left"):
        streams.stream_static_enrich(src, dim, ["id"], how="full")


def test_stream_stream_left_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Matched posts emit with their refresh; posts whose refresh never
    arrived emit with NULL right columns once the watermark passes — the
    missing-enrichment detector (inner join silently drops them)."""
    posts = tmp_path / "posts"
    refr = tmp_path / "refresh"
    _write_batch(
        posts,
        "p.json",
        _rows([(1, "2023-03-25 12:00:00"), (2, "2023-03-25 12:30:00"),
               (8, "2023-03-25 18:00:00")]),  # advances the LEFT watermark
    )
    _write_batch(
        refr,
        "r.json",
        _rows([(1, "2023-03-25 12:05:00"),    # matches post 1
               (9, "2023-03-25 18:00:00")]),  # advances the RIGHT watermark
    )
    # the outer join emits nulls only when the GLOBAL watermark (min of both
    # streams) passes a left row's join window — both sides need a late row
    p = _with_ts(streams.read_json_stream(spark, str(posts), SCHEMA))
    r = _with_ts(streams.read_json_stream(spark, str(refr), SCHEMA)).select(
        "id", F.col("ts").alias("refresh_ts")
    )
    joined = streams.stream_stream_left_join(
        p, r, ["id"], left_ts="ts", right_ts="refresh_ts", max_delay="15 minutes"
    ).select("id", "ts", "refresh_ts")
    q = streams.write_stream(
        joined, str(tmp_path / "out"), str(tmp_path / "ck"), output_mode="append"
    )
    streams.run_to_completion(q)
    got = {
        (r.id, r.refresh_ts.minute if r.refresh_ts is not None else None)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # post 1 matched at 12:05; post 2's window (≤12:45) is past the final
    # watermark (18:00 − 1h) → emitted unmatched with a null refresh
    assert got == {(1, 5), (2, None)}


def test_stream_upsert_into_manifested_store(spark, tmp_path):
    """Streaming micro-batches MERGE into the manifest-committed table:
    batches land as committed snapshots (read_manifested sees the merged
    state), later batches upsert over earlier ones, re-running the query
    against the same checkpoint replays nothing (exactly-once), and a new
    file then commits only its own rows."""
    from reddit_twitter_big_data_pipeline_spark.sinks import writers

    land, target, ckpt = tmp_path / "land", str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    _write_batch(
        land, "1.json",
        [{"id": 1, "date": "a", "username": "u1"},
         {"id": 2, "date": "a", "username": "u2"}],
    )
    _write_batch(
        land, "2.json",
        [{"id": 2, "date": "b", "username": "u2"},  # upsert of id 2
         {"id": 3, "date": "b", "username": "u1"}],
    )
    base = os.path.getmtime(str(land / "1.json"))
    os.utime(str(land / "2.json"), (base + 1, base + 1))

    def run():
        src = streams.read_json_stream(spark, str(land), SCHEMA, max_files_per_trigger=1)
        q = streams.upsert_stream_manifested(
            src, target, ckpt, keys=["id"], partition_cols=["username"], order_col="date"
        )
        streams.run_to_completion(q)
        return q

    # each micro-batch is read once: the source counts the landed rows,
    # not a re-read per action of the merge
    assert sum(p.numInputRows for p in run().recentProgress) == 4
    got = {(r.id, r.date, r.username) for r in writers.read_manifested(spark, target).collect()}
    assert got == {(1, "a", "u1"), (2, "b", "u2"), (3, "b", "u1")}
    fs, _ = writers._hadoop_fs(spark, target)
    v_before = writers._manifest_versions(fs, spark._jvm, target)

    # re-run against the SAME checkpoint: no new data -> no new commits
    run()
    assert writers._manifest_versions(fs, spark._jvm, target) == v_before
    assert {(r.id, r.date, r.username) for r in writers.read_manifested(spark, target).collect()} == got

    # a new file lands -> one commit that adds or upserts only its rows
    _write_batch(
        land, "3.json",
        [{"id": 3, "date": "c", "username": "u1"},  # upsert of id 3
         {"id": 4, "date": "c", "username": "u2"}],
    )
    os.utime(str(land / "3.json"), (base + 2, base + 2))
    assert sum(p.numInputRows for p in run().recentProgress) == 2
    v_after = writers._manifest_versions(fs, spark._jvm, target)
    assert [v for v in v_after if v not in v_before] == [v_before[-1] + 1]
    assert {(r.id, r.date, r.username) for r in writers.read_manifested(spark, target).collect()} == {
        (1, "a", "u1"), (2, "b", "u2"), (3, "c", "u1"), (4, "c", "u2")
    }


def test_kmv_stream_folds_batches_and_replays_idempotently(spark, tmp_path):
    from reddit_twitter_big_data_pipeline_spark.operators import sketches

    land = tmp_path / "land"
    tgt, ckpt = str(tmp_path / "sketch"), str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("day", T.StringType()), T.StructField("user", T.LongType())]
    )
    land.mkdir()

    def _pq(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(land)
        )

    # two days, overlapping users across batches
    _pq("b1", [("d1", u) for u in range(40)])
    _pq("b2", [("d1", u) for u in range(20, 60)] + [("d2", u) for u in range(5)])

    def run():
        streams.run_to_completion(
            streams.kmv_stream(
                streams.read_parquet_stream(spark, str(land), schema, max_files_per_trigger=1),
                "user", tgt, ckpt, group_cols=["day"], k=32,
            )
        )

    run()
    stored = spark.read.parquet(tgt)
    # fixed-size state: at most k rows per group
    assert stored.groupBy("day").count().agg({"count": "max"}).collect()[0][0] <= 32
    est = {
        r.day: r.n_distinct_est
        for r in sketches.kmv_estimate(stored, k=32, group_cols=["day"]).collect()
    }
    assert est["d2"] == 5.0  # under k -> exact across batches
    assert 30 <= est["d1"] <= 130  # 60 true distinct, k=32 estimate
    # replay with the same checkpoint: no new batches, state unchanged
    before = sorted(map(tuple, stored.collect()))
    run()
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == before
    # full replay from scratch (fresh checkpoint): kmv_merge's set
    # semantics make the re-fold land on the identical sketch
    import shutil

    shutil.rmtree(ckpt)
    run()
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == before


def test_kmv_stream_unreadable_sketch_raises_and_keeps_files(spark, tmp_path):
    """A stored sketch that exists but cannot be read is not a first batch:
    the fold raises and leaves every sketch file byte-identical, instead of
    swapping the batch's own sketch in over the stored one."""
    import hashlib

    land, sketch = tmp_path / "land", tmp_path / "sketch"
    tgt, ckpt = str(sketch), str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("user", T.LongType())])
    land.mkdir()

    def land_users(users):
        spark.createDataFrame([(u,) for u in users], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(land))

    def run():
        streams.run_to_completion(
            streams.kmv_stream(
                streams.read_parquet_stream(spark, str(land), schema, max_files_per_trigger=1),
                "user", tgt, ckpt, k=256,
            )
        )

    def files():
        return {
            str(p.relative_to(sketch)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(sketch.rglob("*"))
            if p.is_file()
        }

    land_users(range(100))
    run()
    for f in sketch.glob("*.parquet"):
        data = f.read_bytes()
        f.write_bytes(data[:-8] + b"\0" * 8)  # footer length and magic gone
    for crc in sketch.glob(".*.crc"):
        crc.unlink()  # a damaged footer, not a checksum mismatch
    before = files()
    assert any(k.endswith(".parquet") for k in before)
    land_users([1000])
    with pytest.raises(Exception):
        run()
    assert files() == before


# ------------------------------------------------- W4 through the Delta seam


class _StreamRecorder:
    """Fake delta.tables.DeltaTable capturing each micro-batch's MERGE
    chain (mirrors tests/test_delta_adapter.py's _Recorder, but appends
    per-call so a multi-batch stream records every merge)."""

    calls: dict = {}
    is_delta = True

    @classmethod
    def isDeltaTable(cls, spark, path):
        return cls.is_delta

    @classmethod
    def forPath(cls, spark, path):
        cls.calls.setdefault("forPath", []).append(path)
        return cls()

    def alias(self, a):
        return self

    def merge(self, src, cond):
        type(self).calls.setdefault("merge_conds", []).append(cond)
        type(self).calls.setdefault("merge_srcs", []).append(
            sorted((r.id, r.username) for r in src.select("id", "username").collect())
        )
        return self

    def whenMatchedUpdateAll(self, condition=None):
        type(self).calls.setdefault("matched_conds", []).append(condition)
        return self

    def whenNotMatchedInsertAll(self):
        return self

    def execute(self):
        type(self).calls.setdefault("executed", []).append(True)

    def toDF(self):
        return None


@pytest.fixture
def fake_delta_stream(monkeypatch):
    import sys
    import types

    _StreamRecorder.calls = {}
    pkg = types.ModuleType("delta")
    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = _StreamRecorder
    pkg.tables = tables
    monkeypatch.setitem(sys.modules, "delta", pkg)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)
    yield _StreamRecorder


def test_w4_upsert_stream_routes_through_delta_merge(spark, tmp_path, fake_delta_stream):
    """VERDICT r12 item 2: with delta-spark importable and the target a
    Delta table, every micro-batch of upsert_stream runs a real Delta
    MERGE INTO (null-safe key condition, order_col guard) instead of the
    parquet two-rename merge — foreachBatch runs on the driver, so the
    faked module is visible to the per-batch merge."""
    fake_delta_stream.is_delta = True
    land, ckpt = tmp_path / "land", str(tmp_path / "ckpt")
    _write_batch(
        land, "b1.json",
        [{"id": 10, "date": "2023-03-25 12:00:00", "username": "a"},
         {"id": 11, "date": "2023-03-25 12:01:00", "username": "b"}],
    )
    streams.run_to_completion(
        streams.upsert_stream(
            _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)),
            "/delta/w4", ckpt, keys=["id"], order_col="ts",
        )
    )
    c = fake_delta_stream.calls
    assert c["forPath"] == ["/delta/w4"]
    assert c["merge_conds"] == ["t.`id` <=> s.`id`"]
    assert c["matched_conds"] == ["s.`ts` >= t.`ts`"]
    assert c["executed"] == [True]
    assert c["merge_srcs"] == [[(10, "a"), (11, "b")]]
    # second micro-batch = second MERGE against the same table
    _write_batch(
        land, "b2.json",
        [{"id": 10, "date": "2023-03-27 00:00:00", "username": "a2"}],
    )
    streams.run_to_completion(
        streams.upsert_stream(
            _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)),
            "/delta/w4", ckpt, keys=["id"], order_col="ts",
        )
    )
    assert c["executed"] == [True, True]
    assert c["merge_srcs"][1] == [(10, "a2")]


def test_w4_upsert_stream_partitioned_delta_condition_prunes(
    spark, tmp_path, fake_delta_stream
):
    """partition_cols route: the Delta match condition carries the
    partition keys alongside the upsert keys, which is what lets Delta
    prune the MERGE file scan to touched partitions."""
    fake_delta_stream.is_delta = True
    land, ckpt = tmp_path / "land", str(tmp_path / "ckpt")
    _write_batch(
        land, "b1.json",
        [{"id": 10, "date": "2023-03-25 12:00:00", "username": "a"}],
    )
    streams.run_to_completion(
        streams.upsert_stream(
            _with_ts(streams.read_json_stream(spark, str(land), SCHEMA))
            .withColumn("day", F.to_date("ts")),
            "/delta/w4p", ckpt, keys=["id"], order_col="ts", partition_cols=["day"],
        )
    )
    c = fake_delta_stream.calls
    assert c["merge_conds"] == ["t.`id` <=> s.`id` AND t.`day` <=> s.`day`"]
    assert c["executed"] == [True]


def test_w4_upsert_stream_preexisting_parquet_keeps_parquet_route(
    spark, tmp_path, fake_delta_stream
):
    """A pre-existing non-Delta target keeps the parquet merge even with
    delta-spark importable (installing the dependency must never break a
    working refresh job), and replay-idempotence is unchanged."""
    fake_delta_stream.is_delta = False  # isDeltaTable(path) -> False
    land, tgt, ckpt = tmp_path / "land", str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    # pre-existing plain-parquet target (a table the parquet merge was
    # maintaining before delta-spark got installed)
    spark.createDataFrame(
        [(11, "2023-03-25 12:01:00", "b")], ["id", "date", "username"]
    ).select(
        F.col("id").cast("long"), "date", "username",
        F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    ).write.parquet(tgt)
    _write_batch(
        land, "day1.json",
        [{"id": 10, "date": "2023-03-25 12:00:00", "username": "a"},
         {"id": 11, "date": "2023-03-25 12:01:00", "username": "b"}],
    )
    run = lambda: streams.run_to_completion(  # noqa: E731
        streams.upsert_stream(
            _with_ts(streams.read_json_stream(spark, str(land), SCHEMA)),
            tgt, ckpt, keys=["id"], order_col="ts",
        )
    )
    run()
    assert spark.read.parquet(tgt).count() == 2
    _write_batch(
        land, "day3.json",
        [{"id": 10, "date": "2023-03-27 00:00:00", "username": "a2"}],
    )
    run()
    got = {r.id: r.username for r in spark.read.parquet(tgt).collect()}
    assert got == {10: "a2", 11: "b"}
    assert fake_delta_stream.calls.get("executed") is None  # Delta never merged
    run()  # replay: same checkpoint, nothing new
    assert spark.read.parquet(tgt).count() == 2
