"""Streaming semantics — SURVEY §2.6 (W1, W4, W5).

Replays the reference's cron-based micro-batch topology (15-min scrapes →
2-3-day late refresh, with bookmarks) as real Structured Streaming: file
source + checkpointed foreachBatch merges into the parquet, manifested,
Delta and graph sinks. Fixture files mimic the reference landing format
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


def _with_ts(df):
    return df.withColumn("ts", F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss"))


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
