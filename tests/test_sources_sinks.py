"""Tests for sources/sinks: partitioned JSON round-trip with partition
pruning, corrupt-record quarantine, latest-batch, merge upsert idempotency
(SURVEY §5 plan #4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from reddit_twitter_big_data_pipeline_spark import schemas
from reddit_twitter_big_data_pipeline_spark.sinks import writers
from reddit_twitter_big_data_pipeline_spark.sources import readers


def _write_json_array(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(records, f)


def test_partitioned_json_scan_and_pruning(spark, tmp_path):
    root = str(tmp_path / "social")
    rec = {
        "id": 1, "date": "2023-03-25 10:00:00", "content": "hello", "username": "u1",
        "followersCount": 5, "mentionedUsers": None, "retweetCount": 0,
        "replyCount": 0, "inReplyToUser": None, "timeStamp": "2023-03-25 10:00:00",
    }
    _write_json_array(f"{root}/topic=war/dataload=25-03-2023/0.json", [rec, {**rec, "id": 2}])
    _write_json_array(f"{root}/topic=peace/dataload=25-03-2023/0.json", [{**rec, "id": 3}])

    df = readers.read_partitioned_json(spark, root, schemas.TWEETS, topic="war")
    # partition pruning reached the file source (check BEFORE caching)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "war" in plan
    clean, corrupt = readers.quarantine_split(df)
    assert sorted(r.id for r in clean.collect()) == [1, 2]
    assert corrupt.count() == 0


def test_corrupt_record_quarantine(spark, tmp_path):
    """In multiLine (JSON-array) mode the parse unit is the FILE, so one
    drifted record quarantines its whole file — sibling files stay clean and
    the scan never fails."""
    root = str(tmp_path / "bad")
    bad = f"{root}/topic=x/dataload=01-01-2024/0.json"
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    with open(bad, "w") as f:
        f.write('[{"id": 1, "date": "d"}, {"id": "NOT_A_LONG", "date": "d"}]')
    _write_json_array(
        f"{root}/topic=x/dataload=01-01-2024/1.json", [{"id": 7, "date": "d"}]
    )
    df = readers.read_partitioned_json(spark, root, schemas.TWEETS)
    clean, corrupt = readers.quarantine_split(df)
    assert [r.id for r in clean.collect()] == [7]
    assert corrupt.count() >= 1  # bad file quarantined, good file unaffected


def test_latest_batch(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:15:00"), (3, "2024-01-01 10:15:00")],
        ["id", "timeStamp"],
    )
    out = readers.latest_batch(df)
    assert sorted(r.id for r in out.collect()) == [2, 3]


def test_read_topics(spark, tmp_path):
    p = tmp_path / "topics.txt"
    p.write_text("Ukraine war\n\n  putin  \n")
    out = readers.read_topics(spark, str(p))
    assert sorted(r.topic for r in out.collect()) == ["Ukraine war", "putin"]


def test_partitioned_json_write_roundtrip(spark, tmp_path):
    root = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(1, "a", "war", "25-03-2023"), (2, "b", "peace", "25-03-2023")],
        ["id", "content", "topic", "dataload"],
    )
    writers.write_partitioned_json(df, root)
    back = spark.read.option("basePath", root).json(root)
    assert sorted((r.id, r.topic) for r in back.collect()) == [(1, "war"), (2, "peace")]
    assert os.path.isdir(f"{root}/topic=war/dataload=25-03-2023")


def test_csv_snapshot_flattens_complex(spark, tmp_path):
    path = str(tmp_path / "csv")
    df = spark.createDataFrame([(1, ["a", "b"])], ["id", "arr"])
    writers.write_csv_snapshot(df, path)
    back = spark.read.option("header", True).csv(path)
    r = back.first()
    assert r.id == "1" and json.loads(r.arr) == ["a", "b"]


def test_merge_upsert_late_refresh(spark, tmp_path):
    """W4: the 2-3-day late re-crawl replaces initial score snapshots
    (reference: reddit/lambda_function_aggregate.py:59-71)."""
    target = str(tmp_path / "posts")
    initial = spark.createDataFrame(
        [("p1", 1, "2024-01-01"), ("p2", 2, "2024-01-01")], ["id", "score", "asof"]
    )
    writers.merge_upsert(spark, target, initial, ["id"], order_col="asof")
    refresh = spark.createDataFrame(
        [("p1", 99, "2024-01-03"), ("p3", 5, "2024-01-03")], ["id", "score", "asof"]
    )
    merged = writers.merge_upsert(spark, target, refresh, ["id"], order_col="asof")
    got = {r.id: r.score for r in merged.collect()}
    assert got == {"p1": 99, "p2": 2, "p3": 5}
    # idempotency: replaying the same refresh changes nothing
    again = writers.merge_upsert(spark, target, refresh, ["id"], order_col="asof")
    assert {r.id: r.score for r in again.collect()} == got


def _file_state(root):
    """(relative path → (size, md5)) for every data file under a table —
    byte-level identity proof for the untouched-partition guarantee."""
    import hashlib

    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file() and not p.name.startswith(("_", ".")):
            out[str(p.relative_to(root))] = (p.stat().st_size, hashlib.md5(p.read_bytes()).hexdigest())
    return out


def test_merge_upsert_partitioned_touches_only_hit_partitions(spark, tmp_path):
    """VERDICT r2 item 1: a late refresh of a few keys must cost O(touched
    partitions), and untouched partitions' files must be byte-identical."""
    target = str(tmp_path / "tbl")
    initial = spark.createDataFrame(
        [("p1", 1, "d1"), ("p2", 2, "d1"), ("p3", 3, "d2"), ("p4", 4, "d3")],
        ["id", "score", "dataload"],
    )
    writers.merge_upsert_partitioned(spark, target, initial, ["id"], ["dataload"], order_col="score")
    before = _file_state(tmp_path / "tbl")
    untouched_before = {k: v for k, v in before.items() if "dataload=d1" in k or "dataload=d3" in k}
    assert untouched_before  # sanity: partitioned layout exists

    refresh = spark.createDataFrame([("p3", 99, "d2"), ("p9", 7, "d2")], ["id", "score", "dataload"])
    merged = writers.merge_upsert_partitioned(
        spark, target, refresh, ["id"], ["dataload"], order_col="score"
    )
    got = {r.id: r.score for r in merged.collect()}
    assert got == {"p1": 1, "p2": 2, "p3": 99, "p4": 4, "p9": 7}

    after = _file_state(tmp_path / "tbl")
    untouched_after = {k: v for k, v in after.items() if "dataload=d1" in k or "dataload=d3" in k}
    assert untouched_after == untouched_before  # same paths, sizes, bytes
    # no staging/backup residue inside or beside the table
    assert not (tmp_path / "tbl.__pstaging__").exists()
    assert not (tmp_path / "tbl.__pbackup__").exists()

    # idempotent replay
    again = writers.merge_upsert_partitioned(
        spark, target, refresh, ["id"], ["dataload"], order_col="score"
    )
    assert {r.id: r.score for r in again.collect()} == got


def test_merge_upsert_partitioned_matches_full_merge(spark, tmp_path):
    """Partition-scoped merge ≡ full-table merge when keys stay in their
    partitions (the late-refresh contract)."""
    rows = [(f"k{i}", i, f"d{i % 3}") for i in range(30)]
    upd = [(f"k{i}", 1000 + i, f"d{i % 3}") for i in range(0, 30, 7)] + [("new1", 1, "d0")]
    cols = ["id", "v", "day"]
    t_full, t_part = str(tmp_path / "full"), str(tmp_path / "part")
    writers.merge_upsert(spark, t_full, spark.createDataFrame(rows, cols), ["id"], order_col="v")
    writers.merge_upsert_partitioned(
        spark, t_part, spark.createDataFrame(rows, cols), ["id"], ["day"], order_col="v"
    )
    a = writers.merge_upsert(spark, t_full, spark.createDataFrame(upd, cols), ["id"], order_col="v")
    b = writers.merge_upsert_partitioned(
        spark, t_part, spark.createDataFrame(upd, cols), ["id"], ["day"], order_col="v"
    )
    assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
        map(tuple, b.select(*cols).collect())
    )


_POLICY_SCHEMA = "id string, v long, val string, day string"

# (existing rows, update batch, order_col, expected table); the row
# ("b", 1, "keep", "d1") must survive every case untouched
_POLICY_CASES = {
    "order_tie_goes_to_update": (
        [("a", 5, "old", "d1")], [("a", 5, "new", "d1")], "v", [("a", 5, "new", "d1")]
    ),
    "duplicate_update_keys_largest_order_wins": (
        [("a", 1, "old", "d1")],
        [("a", 3, "mid", "d1"), ("a", 9, "new", "d1"), ("a", 2, "low", "d1")],
        "v",
        [("a", 9, "new", "d1")],
    ),
    "null_key_replaces_null_key_row": (
        [(None, 1, "old", "d1")], [(None, 2, "new", "d1")], "v", [(None, 2, "new", "d1")]
    ),
    "no_order_col_update_wins": (
        [("a", 9, "old", "d1")], [("a", 1, "new", "d1")], None, [("a", 1, "new", "d1")]
    ),
}


def _merge_full(spark, path, df, order_col):
    return writers.merge_upsert(spark, path, df, ["id"], order_col)


def _merge_partitioned(spark, path, df, order_col):
    return writers.merge_upsert_partitioned(spark, path, df, ["id"], ["day"], order_col)


def _merge_manifested(spark, path, df, order_col):
    return writers.merge_upsert_manifested(spark, path, df, ["id"], ["day"], order_col)


def _merge_auto_fallback(spark, path, df, order_col):
    from reddit_twitter_big_data_pipeline_spark.sinks import delta_adapter

    return delta_adapter.merge_upsert_auto(spark, path, df, ["id"], order_col)


@pytest.mark.parametrize("case", sorted(_POLICY_CASES))
@pytest.mark.parametrize(
    "merge", [_merge_full, _merge_partitioned, _merge_manifested, _merge_auto_fallback]
)
def test_merges_share_the_last_writer_wins_policy(spark, tmp_path, merge, case):
    """Every parquet merge applies the one keyed last-writer-wins rule:
    order_col ties and a missing order_col go to the update, the largest
    order_col wins among duplicate update keys, and NULL keys group
    together."""
    existing, updates, order_col, want = _POLICY_CASES[case]
    path = str(tmp_path / "tbl")
    merge(spark, path, spark.createDataFrame(existing + [("b", 1, "keep", "d1")],
                                             _POLICY_SCHEMA), order_col)
    out = merge(spark, path, spark.createDataFrame(updates, _POLICY_SCHEMA), order_col)
    got = sorted(map(tuple, out.select("id", "v", "val", "day").collect()), key=str)
    assert got == sorted(want + [("b", 1, "keep", "d1")], key=str)


def test_merge_upsert_unreadable_target_raises_and_keeps_files(spark, tmp_path):
    """A target that exists but cannot be read is not a first write: the
    merge raises and leaves every file of the table byte-identical,
    instead of swapping the update batch in over the whole table."""
    target = str(tmp_path / "tbl")
    rows = [(f"k{i}", i) for i in range(100)]
    writers.merge_upsert(spark, target, spark.createDataFrame(rows, ["id", "v"]), ["id"], "v")
    table = tmp_path / "tbl"
    for f in table.glob("*.parquet"):
        data = f.read_bytes()
        f.write_bytes(data[:-8] + b"\0" * 8)  # footer length and magic gone
    for crc in table.glob(".*.crc"):
        crc.unlink()  # a damaged footer, not a checksum mismatch
    before = _file_state(table)
    assert before
    with pytest.raises(Exception):
        writers.merge_upsert(
            spark, target, spark.createDataFrame([("k0", 99)], ["id", "v"]), ["id"], "v"
        )
    assert _file_state(table) == before


def test_merge_upsert_partitioned_null_partition_value(spark, tmp_path):
    """Null partition values land in __HIVE_DEFAULT_PARTITION__; the prune
    filter (isNull) and the staging-dir-name-driven swap must both handle
    them."""
    target = str(tmp_path / "tbl")
    schema = "id string, v int, day string"
    writers.merge_upsert_partitioned(
        spark,
        target,
        spark.createDataFrame([("a", 1, "d1"), ("b", 2, None)], schema),
        ["id"],
        ["day"],
        order_col="v",
    )
    out = writers.merge_upsert_partitioned(
        spark, target, spark.createDataFrame([("b", 9, None)], schema), ["id"], ["day"],
        order_col="v",
    )
    assert sorted((r.id, r.v, r.day) for r in out.collect()) == [("a", 1, "d1"), ("b", 9, None)]


def test_merge_upsert_partitioned_crash_recovery(spark, tmp_path):
    """A partition parked under .__pbackup__ with no target copy (= crash
    between the two renames) is restored before the next merge reads."""
    import shutil

    target = str(tmp_path / "tbl")
    initial = spark.createDataFrame([("a", 1, "d1"), ("b", 2, "d2")], ["id", "v", "day"])
    writers.merge_upsert_partitioned(spark, target, initial, ["id"], ["day"], order_col="v")
    # simulate the crash window: partition moved aside, promotion never ran
    (tmp_path / "tbl.__pbackup__").mkdir()
    shutil.move(str(tmp_path / "tbl" / "day=d2"), str(tmp_path / "tbl.__pbackup__" / "day=d2"))
    assert writers.recover_partition_swaps(spark, target, 1) == 1
    got = {r.id: r.v for r in spark.read.parquet(target).collect()}
    assert got == {"a": 1, "b": 2}
    # merge after recovery behaves normally
    merged = writers.merge_upsert_partitioned(
        spark, target, spark.createDataFrame([("b", 9, "d2")], ["id", "v", "day"]), ["id"], ["day"],
        order_col="v",
    )
    assert {r.id: r.v for r in merged.collect()} == {"a": 1, "b": 9}


def test_dedupe_last_writer(spark):
    df = spark.createDataFrame(
        [("k", "2024-01-01", 1), ("k", "2024-01-02", 2)], ["id", "ts", "v"]
    )
    out = writers.dedupe_last_writer(df, ["id"], "ts")
    assert [r.v for r in out.collect()] == [2]


def test_load_table_timestamps(spark, sf_dir):
    """schemas.load_table repairs nanos and passes millis through; both end
    TimestampType."""
    for t, cols in schemas.TESTDATA_TS_COLS.items():
        df = schemas.load_table(spark, sf_dir, t)
        for c in cols:
            assert dict(df.dtypes)[c].startswith("timestamp"), (t, c)
        assert df.limit(1).count() == 1


def test_csv_read_schema_enforced_with_quarantine(spark, tmp_path):
    from pyspark.sql import types as T

    p = str(tmp_path / "csv_in")
    (tmp_path / "csv_in").mkdir()
    (tmp_path / "csv_in" / "part.csv").write_text(
        "id,score\n1,10\n2,twenty\n3,30\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.LongType()),
        ]
    )
    df = readers.read_csv_table(spark, p, schema)
    clean, corrupt = readers.quarantine_split(df)
    assert sorted(r.id for r in clean.collect()) == [1, 3]
    assert corrupt.count() == 1  # 'twenty' fails the LongType contract


def test_orc_roundtrip_preserves_types(spark, tmp_path):
    from pyspark.sql import functions as F

    p = str(tmp_path / "orc_t")
    src = spark.range(0, 50).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    src.write.mode("overwrite").orc(p)
    back = readers.read_orc_table(spark, p)
    # ORC read-back marks columns nullable; names and types must round-trip
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in src.schema
    ]
    assert back.count() == 50
    assert back.filter(F.col("id") == 7).first().v == 10.5


def test_corpus_observation_one_pass_metrics(spark):
    from reddit_twitter_big_data_pipeline_spark import observability as obs_mod

    df = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, ""), (None, "xyz")],
        "doc_id long, text string",
    )
    observed, obs = obs_mod.corpus_observation(df)
    observed.write.format("noop").mode("overwrite").save()  # the one action
    m = obs.get
    assert m["n_rows"] == 4
    assert m["n_null_text"] == 1
    assert m["n_empty_text"] == 1
    assert m["n_null_id"] == 1
    # health gate: 25% nulls trips the default 1% budget
    import pytest

    with pytest.raises(ValueError, match="null-text fraction"):
        obs_mod.assert_corpus_health(m)
    obs_mod.assert_corpus_health(m, max_null_frac=0.5, min_avg_len=0.1)


def test_winsorize_clips_to_exact_percentiles(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import cleanse

    rows = [(i, float(i)) for i in range(101)] + [(999, None)]
    df = spark.createDataFrame(rows, "k int, v double")
    out = {r.k: r.v for r in cleanse.winsorize(df, "v").collect()}
    assert out[0] == 1.0 and out[100] == 99.0    # clipped to p1/p99
    assert out[50] == 50.0                        # interior untouched
    assert out[999] is None                       # NULL passes through, never imputed to p1
    import pytest

    with pytest.raises(ValueError, match="lower"):
        cleanse.winsorize(df, "v", lower=0.9, upper=0.1)


def test_write_training_shards_deterministic_with_manifest(spark, tmp_path):
    """Shard membership is a pure id-hash (stable across partitionings and
    re-exports); the manifest is derived from the WRITTEN files and its
    totals reconcile with the input."""
    from reddit_twitter_big_data_pipeline_spark.plans import training

    df = spark.createDataFrame(
        [(i, f"doc {i}", 10 + i) for i in range(200)], "doc_id long, text string, n_tokens long"
    )
    out = str(tmp_path / "export")
    manifest = training.write_training_shards(df, out, n_shards=4, token_count_col="n_tokens")
    rows = manifest.collect()
    assert [r.shard for r in rows] == [0, 1, 2, 3]
    assert sum(r.n_rows for r in rows) == 200
    assert sum(r.n_tokens for r in rows) == sum(10 + i for i in range(200))
    # every shard actually populated and reasonably balanced
    assert all(20 <= r.n_rows <= 80 for r in rows)

    back = spark.read.parquet(out + "/data")
    assert back.count() == 200
    first = {(r.doc_id, r.shard) for r in back.select("doc_id", "shard").collect()}

    # re-export from a different partitioning → identical membership
    out2 = str(tmp_path / "export2")
    training.write_training_shards(df.repartition(13), out2, n_shards=4)
    second = {(r.doc_id, r.shard)
              for r in spark.read.parquet(out2 + "/data").select("doc_id", "shard").collect()}
    assert first == second
