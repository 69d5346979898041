"""Delta adapter seam (sinks/delta_adapter.py): merge_upsert_auto routes
through Delta MERGE INTO when delta-spark is importable and falls back to
the manifested-parquet merge otherwise — tested with the import faked
both ways (delta-spark is not installed in this container)."""

from __future__ import annotations

import sys
import types

import pytest

from reddit_twitter_big_data_pipeline_spark.sinks import delta_adapter, writers


def _updates(spark):
    # duplicate key 1 among the updates: v=9 must win the pre-merge dedupe
    return spark.createDataFrame(
        [(1, "new", 9), (1, "stale", 3), (2, "two", 5)], ["k", "val", "v"]
    )


def test_fallback_without_delta_matches_merge_upsert(spark, tmp_path):
    """No delta module importable (the container default): the adapter
    must produce exactly writers.merge_upsert's result."""
    assert not delta_adapter.delta_available()
    base = spark.createDataFrame([(1, "old", 5), (3, "three", 1)], ["k", "val", "v"])
    a_path, b_path = str(tmp_path / "auto"), str(tmp_path / "plain")
    base.write.parquet(a_path)
    base.write.parquet(b_path)
    got = delta_adapter.merge_upsert_auto(
        spark, a_path, _updates(spark), ["k"], order_col="v"
    )
    want = writers.merge_upsert(spark, b_path, _updates(spark), ["k"], order_col="v")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # update 1 beat existing 5<=9; 2 inserted; 3 untouched
    assert sorted(map(tuple, got.collect())) == [
        (1, "new", 9), (2, "two", 5), (3, "three", 1)
    ]


class _Recorder:
    """Fake delta.tables.DeltaTable recording the merge call chain."""

    calls: dict = {}
    is_delta = True
    table_df = None

    @classmethod
    def isDeltaTable(cls, spark, path):
        cls.calls.setdefault("isDeltaTable", []).append(path)
        return cls.is_delta

    @classmethod
    def forPath(cls, spark, path):
        cls.calls.setdefault("forPath", []).append(path)
        inst = cls()
        return inst

    def alias(self, a):
        type(self).calls["target_alias"] = a
        return self

    def merge(self, src, cond):
        type(self).calls["merge_src"] = src
        type(self).calls["merge_cond"] = cond
        return self

    def whenMatchedUpdateAll(self, condition=None):
        type(self).calls["matched_cond"] = condition
        return self

    def whenNotMatchedInsertAll(self):
        type(self).calls["insert_all"] = True
        return self

    def execute(self):
        type(self).calls["executed"] = True

    def toDF(self):
        return type(self).table_df


@pytest.fixture
def fake_delta(monkeypatch):
    _Recorder.calls = {}
    pkg = types.ModuleType("delta")
    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = _Recorder
    pkg.tables = tables
    monkeypatch.setitem(sys.modules, "delta", pkg)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)
    yield _Recorder


def test_delta_route_builds_the_merge_chain(spark, tmp_path, fake_delta):
    """With delta importable and an existing Delta table: the adapter
    pre-dedupes the source (Delta rejects duplicate match keys), uses a
    null-safe key condition, guards matched updates on order_col, always
    inserts non-matches, and executes exactly once."""
    assert delta_adapter.delta_available()
    fake_delta.is_delta = True
    fake_delta.table_df = spark.range(1)
    out = delta_adapter.merge_upsert_auto(
        spark, "/delta/t", _updates(spark), ["k"], order_col="v"
    )
    c = fake_delta.calls
    assert c["merge_cond"] == "t.`k` <=> s.`k`"
    assert c["matched_cond"] == "s.`v` >= t.`v`"
    assert c["insert_all"] and c["executed"]
    # source was deduped to one row per key, keeping the max-v winner
    src_rows = {(r.k, r.val, r.v) for r in c["merge_src"].collect()}
    assert src_rows == {(1, "new", 9), (2, "two", 5)}
    assert out is fake_delta.table_df


def test_delta_route_no_order_col_updates_unconditionally(spark, fake_delta):
    fake_delta.is_delta = True
    fake_delta.table_df = spark.range(1)
    delta_adapter.merge_upsert_auto(
        spark, "/delta/t", _updates(spark).drop("v"), ["k"]
    )
    assert fake_delta.calls["matched_cond"] is None
    # without order_col, dedupe keeps one arbitrary row per key
    assert {r.k for r in fake_delta.calls["merge_src"].collect()} == {1, 2}


def test_delta_route_bootstraps_missing_table(spark, monkeypatch, fake_delta):
    """Missing target: the adapter writes the deduped source as a new
    Delta table (partitioned when asked) instead of merging."""
    fake_delta.is_delta = False
    fake_delta.table_df = spark.range(1)
    writes: dict = {}

    from pyspark.sql.readwriter import DataFrameWriter

    def fake_save(self, path):
        writes["path"] = path

    monkeypatch.setattr(DataFrameWriter, "save", fake_save)
    out = delta_adapter.merge_upsert_auto(
        spark, "/delta/new", _updates(spark), ["k"], order_col="v",
        partition_cols=["val"],
    )
    assert writes["path"] == "/delta/new"
    assert out is fake_delta.table_df


def test_delta_route_keeps_parquet_fallback_for_existing_plain_table(
    spark, tmp_path, fake_delta
):
    """Installing delta-spark must not break a target the parquet merge
    was maintaining: an existing non-Delta dir keeps routing through
    writers.merge_upsert instead of hard-erroring on the bootstrap save
    (the 'one dependency, zero code change' promise)."""
    fake_delta.is_delta = False
    path = str(tmp_path / "legacy")
    spark.createDataFrame([(1, "old", 5)], ["k", "val", "v"]).write.parquet(path)
    got = delta_adapter.merge_upsert_auto(
        spark, path, _updates(spark), ["k"], order_col="v"
    )
    assert sorted(map(tuple, got.collect())) == [(1, "new", 9), (2, "two", 5)]
    # and the table on disk was actually merged by the parquet path
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == [
        (1, "new", 9), (2, "two", 5)
    ]


@pytest.fixture
def spy_writer(monkeypatch):
    """Record the DataFrameWriter call chain (format/mode/option/
    partitionBy) and swallow save — format('delta') cannot execute in
    this container, but the chain the adapter BUILDS is the contract."""
    from pyspark.sql.readwriter import DataFrameWriter

    rec = {"options": {}, "partitionBy": None, "mode": None, "format": None, "path": None}
    orig = {n: getattr(DataFrameWriter, n) for n in ("format", "mode", "option", "partitionBy")}

    def _format(self, s):
        rec["format"] = s
        return orig["format"](self, s)

    def _mode(self, s):
        rec["mode"] = s
        return orig["mode"](self, s)

    def _option(self, k, v):
        rec["options"][k] = v
        return orig["option"](self, k, v)

    def _pby(self, *cols):
        rec["partitionBy"] = [c for c in cols]
        return orig["partitionBy"](self, *cols)

    def _save(self, path=None):
        rec["path"] = path

    monkeypatch.setattr(DataFrameWriter, "format", _format)
    monkeypatch.setattr(DataFrameWriter, "mode", _mode)
    monkeypatch.setattr(DataFrameWriter, "option", _option)
    monkeypatch.setattr(DataFrameWriter, "partitionBy", _pby)
    monkeypatch.setattr(DataFrameWriter, "save", _save)
    return rec


def _pupdates(spark):
    return spark.createDataFrame(
        [(1, "a", "new", 9), (2, "b", "two", 5)], ["k", "p", "val", "v"]
    )


def test_merge_upsert_auto_warns_when_partition_cols_dropped(spark, tmp_path):
    """ADVICE r11: partition_cols shapes only the Delta bootstrap — both
    fallback routes warn instead of silently producing an unpartitioned
    table."""
    path = str(tmp_path / "warned")
    with pytest.warns(UserWarning, match="partition_cols is honored only"):
        delta_adapter.merge_upsert_auto(
            spark, path, _updates(spark), ["k"], order_col="v",
            partition_cols=["val"],
        )
    # without partition_cols: no warning (fallback is the documented path)
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        delta_adapter.merge_upsert_auto(
            spark, str(tmp_path / "plain2"), _updates(spark), ["k"], order_col="v"
        )


def test_partitioned_fallback_without_delta_matches_parquet(spark, tmp_path):
    assert not delta_adapter.delta_available()
    base = spark.createDataFrame([(1, "a", "old", 5), (3, "a", "three", 1)],
                                 ["k", "p", "val", "v"])
    a_path, b_path = str(tmp_path / "auto_p"), str(tmp_path / "plain_p")
    base.write.partitionBy("p").parquet(a_path)
    base.write.partitionBy("p").parquet(b_path)
    got = delta_adapter.merge_upsert_partitioned_auto(
        spark, a_path, _pupdates(spark), ["k"], ["p"], order_col="v"
    )
    want = writers.merge_upsert_partitioned(
        spark, b_path, _pupdates(spark), ["k"], ["p"], order_col="v"
    )
    key = lambda r: (r["k"], r["p"])
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert sorted(map(key, spark.read.parquet(a_path).collect())) == [
        (1, "a"), (2, "b"), (3, "a")
    ]


def test_partitioned_delta_route_prunes_on_partition_keys(spark, fake_delta):
    """The Delta MERGE condition must include the partition columns —
    that inclusion IS the partition pruning (Delta scopes the rewrite to
    matching files), and it is semantically free under the same-partition
    update contract."""
    fake_delta.is_delta = True
    fake_delta.table_df = spark.range(1)
    out = delta_adapter.merge_upsert_partitioned_auto(
        spark, "/delta/t", _pupdates(spark), ["k"], ["p"], order_col="v"
    )
    c = fake_delta.calls
    assert c["merge_cond"] == "t.`k` <=> s.`k` AND t.`p` <=> s.`p`"
    assert c["matched_cond"] == "s.`v` >= t.`v`"
    assert c["insert_all"] and c["executed"]
    assert out is fake_delta.table_df


def test_partitioned_delta_bootstrap_partitions_the_table(
    spark, fake_delta, spy_writer
):
    fake_delta.is_delta = False
    fake_delta.table_df = spark.range(1)
    delta_adapter.merge_upsert_partitioned_auto(
        spark, "/delta/newp", _pupdates(spark), ["k"], ["p"], order_col="v"
    )
    assert spy_writer["format"] == "delta"
    assert spy_writer["partitionBy"] == ["p"]
    assert spy_writer["path"] == "/delta/newp"


def test_replace_table_auto_fallback_matches_replace_table(spark, tmp_path):
    assert not delta_adapter.delta_available()
    path = str(tmp_path / "rt")
    spark.createDataFrame([(1, "old")], ["k", "val"]).write.parquet(path)
    delta_adapter.replace_table_auto(
        spark, path, spark.createDataFrame([(2, "new")], ["k", "val"])
    )
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(2, "new")]


def test_replace_table_auto_delta_route_is_transactional_overwrite(
    spark, fake_delta, spy_writer
):
    fake_delta.is_delta = True
    delta_adapter.replace_table_auto(
        spark, "/delta/rt", spark.createDataFrame([(1, "x")], ["k", "val"])
    )
    assert spy_writer["format"] == "delta"
    assert spy_writer["mode"] == "overwrite"
    assert spy_writer["options"].get("overwriteSchema") == "true"
    assert spy_writer["path"] == "/delta/rt"


def test_replace_table_auto_keeps_parquet_for_existing_plain_table(
    spark, tmp_path, fake_delta
):
    fake_delta.is_delta = False
    path = str(tmp_path / "rt_legacy")
    spark.createDataFrame([(1, "old")], ["k", "val"]).write.parquet(path)
    delta_adapter.replace_table_auto(
        spark, path, spark.createDataFrame([(2, "new")], ["k", "val"])
    )
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(2, "new")]


def test_overwrite_partitions_auto_fallback_and_delta_route(
    spark, tmp_path, fake_delta, monkeypatch
):
    # delta importable but target is an existing plain table -> parquet path
    fake_delta.is_delta = False
    path = str(tmp_path / "op")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "p"]).write.partitionBy(
        "p"
    ).parquet(path)
    delta_adapter.overwrite_partitions_auto(
        spark.createDataFrame([(9, "a")], ["k", "p"]), path, ["p"]
    )
    got = sorted((r.k, r.p) for r in spark.read.parquet(path).collect())
    assert got == [(2, "b"), (9, "a")]  # only partition a replaced


def test_overwrite_partitions_auto_delta_route_dynamic(
    spark, fake_delta, spy_writer
):
    fake_delta.is_delta = True
    delta_adapter.overwrite_partitions_auto(
        spark.createDataFrame([(9, "a")], ["k", "p"]), "/delta/op", ["p"]
    )
    assert spy_writer["format"] == "delta"
    assert spy_writer["mode"] == "overwrite"
    assert spy_writer["options"].get("partitionOverwriteMode") == "dynamic"
    assert spy_writer["partitionBy"] == ["p"]
    assert spy_writer["path"] == "/delta/op"


def test_convert_to_delta_requires_delta_and_is_idempotent(
    spark, tmp_path, fake_delta, monkeypatch
):
    conversions = []
    monkeypatch.setattr(
        fake_delta, "convertToDelta",
        classmethod(lambda cls, spark, ident, schema=None: conversions.append((ident, schema))),
        raising=False,
    )
    fake_delta.is_delta = True
    delta_adapter.convert_to_delta(spark, "/delta/already")  # no-op
    assert conversions == []
    fake_delta.is_delta = False
    delta_adapter.convert_to_delta(spark, "/tables/t1")
    delta_adapter.convert_to_delta(spark, "/tables/t2", "p STRING")
    assert conversions == [
        ("parquet.`/tables/t1`", None),
        ("parquet.`/tables/t2`", "p STRING"),
    ]


def test_convert_to_delta_raises_without_delta(spark):
    assert not delta_adapter.delta_available()
    with pytest.raises(RuntimeError, match="delta-spark is not importable"):
        delta_adapter.convert_to_delta(spark, "/tables/t1")


def test_compact_table_auto_fallback_compacts_parquet(spark, tmp_path):
    assert not delta_adapter.delta_available()
    path = str(tmp_path / "ct")
    spark.range(1000).repartition(16).write.parquet(path)
    n = delta_adapter.compact_table_auto(spark, path, target_file_bytes=10**9)
    assert n == 1
    assert spark.read.parquet(path).count() == 1000


def test_compact_table_auto_delta_route_optimize_and_zorder(
    spark, fake_delta, monkeypatch
):
    calls = {}

    class _Opt:
        def executeCompaction(self):
            calls["compaction"] = True
            calls["maxFileSize"] = spark.conf.get(
                "spark.databricks.delta.optimize.maxFileSize", None
            )
            return spark.createDataFrame([("p", {"numFilesAdded": 3})],
                                         "path string, metrics map<string,int>")

        def executeZOrderBy(self, *cols):
            calls["zorder"] = list(cols)
            return spark.range(0)  # metrics shape the adapter can't parse

    monkeypatch.setattr(_Recorder, "optimize", lambda self: _Opt(), raising=False)
    fake_delta.is_delta = True
    n = delta_adapter.compact_table_auto(spark, "/delta/ct", target_file_bytes=12345)
    assert calls["compaction"] and calls["maxFileSize"] == "12345"
    assert n == 3
    # conf restored after the call
    assert spark.conf.get("spark.databricks.delta.optimize.maxFileSize", None) is None
    n2 = delta_adapter.compact_table_auto(
        spark, "/delta/ct", zorder_cols=["a", "b"]
    )
    assert calls["zorder"] == ["a", "b"]
    assert n2 == -1  # unparseable metrics degrade to -1, never raise
    with pytest.raises(ValueError, match="no sort_cols form"):
        delta_adapter.compact_table_auto(spark, "/delta/ct", sort_cols=["a"])


def test_vacuum_auto_routes_by_table_kind(spark, tmp_path, fake_delta, monkeypatch):
    # Delta table -> DeltaTable.vacuum(retention)
    calls = {}
    monkeypatch.setattr(
        _Recorder, "vacuum",
        lambda self, hours: calls.setdefault("hours", hours),
        raising=False,
    )
    fake_delta.is_delta = True
    assert delta_adapter.vacuum_auto(spark, "/delta/v", retention_hours=24.0) == -1
    assert calls["hours"] == 24.0
    # plain parquet -> nothing to vacuum
    fake_delta.is_delta = False
    path = str(tmp_path / "plain_v")
    spark.range(5).write.parquet(path)
    assert delta_adapter.vacuum_auto(spark, path) == 0
    # manifested parquet -> writers.vacuum_manifested (and requires depth)
    vm = {}
    monkeypatch.setattr(writers, "_manifest_versions", lambda fs, jvm, p: [1, 2])
    monkeypatch.setattr(
        writers, "vacuum_manifested",
        lambda spark, p, n: (vm.setdefault("args", (p, n)), 7)[1],
    )
    with pytest.raises(ValueError, match="n_partition_cols"):
        delta_adapter.vacuum_auto(spark, path)
    assert delta_adapter.vacuum_auto(spark, path, n_partition_cols=2) == 7
    assert vm["args"] == (path, 2)
    # missing path entirely -> 0, no error
    assert delta_adapter.vacuum_auto(spark, str(tmp_path / "nope")) == 0


def test_partition_moved_keys_flags_contract_violation(spark, tmp_path):
    """ADVICE r12 / VERDICT r13 item 8: the pre-merge debug assertion.
    A key that moved partitions is flagged with its old and new
    partition values; a contract-clean batch yields an empty frame. Also
    pins both documented parquet-route symptoms the assertion guards
    against (neither is the merge's semantics): when the batch also
    touches the old partition, the moved key's old row VANISHES; when it
    does not, the old row survives and the key is DUPLICATED."""
    assert not delta_adapter.delta_available()

    def table(name):
        path = str(tmp_path / name)
        spark.createDataFrame(
            [(1, "a", "one", 5), (2, "a", "two", 5), (3, "b", "three", 5)],
            ["k", "p", "val", "v"],
        ).write.partitionBy("p").parquet(path)
        return path

    path = table("moved")
    # clean batch: same-partition update + fresh key -> no offenders
    clean = spark.createDataFrame(
        [(1, "a", "upd", 9), (4, "b", "four", 9)], ["k", "p", "val", "v"]
    )
    assert (
        delta_adapter.partition_moved_keys(spark, path, clean, ["k"], ["p"]).count()
        == 0
    )
    # violating batch: key 3 moves b -> a; partition b is not touched
    moved = spark.createDataFrame(
        [(1, "a", "upd", 9), (3, "a", "moved", 9)], ["k", "p", "val", "v"]
    )
    flagged = delta_adapter.partition_moved_keys(spark, path, moved, ["k"], ["p"])
    assert [tuple(r) for r in flagged.collect()] == [(3, "a", "b")]

    def merged(path, batch):
        delta_adapter.merge_upsert_partitioned_auto(
            spark, path, batch, ["k"], ["p"], order_col="v"
        )
        return sorted((r["k"], r["p"]) for r in spark.read.parquet(path).collect())

    # old partition untouched: its row is never read, so key 3 lands twice
    assert merged(path, moved) == [(1, "a"), (2, "a"), (3, "a"), (3, "b")]
    # old partition touched too (fresh key 5 in b): the merge reads b and
    # the moved key's old-partition row vanishes
    touched = moved.unionByName(
        spark.createDataFrame([(5, "b", "five", 9)], ["k", "p", "val", "v"])
    )
    assert merged(table("moved_touched"), touched) == [
        (1, "a"), (2, "a"), (3, "a"), (5, "b")
    ]


def test_partition_moved_keys_null_safe_keys(spark, tmp_path):
    """Key and partition comparisons are null-safe, matching the
    merge's <=> condition: a NULL key in the same partition is clean; a
    NULL key that moved partitions is flagged."""
    assert not delta_adapter.delta_available()
    path = str(tmp_path / "moved_null")
    spark.createDataFrame(
        [(None, "a", "null-key", 5), (1, "a", "one", 5)],
        "k int, p string, val string, v int",
    ).write.partitionBy("p").parquet(path)
    same = spark.createDataFrame(
        [(None, "a", "upd", 9)], "k int, p string, val string, v int"
    )
    assert (
        delta_adapter.partition_moved_keys(spark, path, same, ["k"], ["p"]).count()
        == 0
    )
    moved = spark.createDataFrame(
        [(None, "b", "upd", 9)], "k int, p string, val string, v int"
    )
    flagged = delta_adapter.partition_moved_keys(spark, path, moved, ["k"], ["p"])
    assert [tuple(r) for r in flagged.collect()] == [(None, "b", "a")]
