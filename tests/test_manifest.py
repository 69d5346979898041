"""Manifest-committed tables: reader-safe MERGE (VERDICT r3 item 4).

The two-rename swap writers are crash-safe but leave a window where a
concurrent reader can observe a touched partition missing. The manifest
layer closes it: immutable versioned partition dirs + an atomic manifest
publish as the commit point, with superseded dirs retained for one further
commit. These tests pin (1) merge semantics match merge_upsert_partitioned,
(2) a polling reader concurrent with a stream of commits only ever sees a
complete committed snapshot, (3) crashed commits are invisible and
self-heal, (4) the deferred GC / vacuum retention contract.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from reddit_twitter_big_data_pipeline_spark.sinks import writers


def _rows(df):
    return sorted(
        (r["topic"], r["id"], r["score"]) for r in df.collect()
    )


def _mk(spark, data):
    return spark.createDataFrame(data, "topic string, id long, score long")


def test_manifested_merge_semantics(spark, tmp_path):
    target = str(tmp_path / "tbl")
    base = _mk(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)])
    writers.merge_upsert_manifested(spark, target, base, ["id"], ["topic"])
    got = writers.read_manifested(spark, target)
    assert _rows(got) == [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]

    # second commit touches only topic=a; b's data dir must be untouched
    jvm = spark._jvm
    fs, _ = writers._hadoop_fs(spark, target)
    b_dir = jvm.org.apache.hadoop.fs.Path(target + "/topic=b")
    b_before = sorted(
        st.getPath().getName() for st in fs.listStatus(b_dir)
    )
    upd = _mk(spark, [("a", 2, 99), ("a", 4, 40)])
    writers.merge_upsert_manifested(spark, target, upd, ["id"], ["topic"])
    got = writers.read_manifested(spark, target)
    assert _rows(got) == [
        ("a", 1, 10),
        ("a", 2, 99),
        ("a", 4, 40),
        ("b", 3, 30),
    ]
    b_after = sorted(st.getPath().getName() for st in fs.listStatus(b_dir))
    assert b_after == b_before, "untouched partition gained/lost version dirs"

    # plain partition columns survive the version-dir indirection
    assert set(got.columns) == {"topic", "id", "score"}


def test_manifested_merge_evaluates_updates_once(spark, tmp_path):
    """The merge reads `updates` once per commit: the touched-partition
    collect and the staged write share one evaluation of its plan."""
    target = str(tmp_path / "tbl")
    writers.merge_upsert_manifested(
        spark, target, _mk(spark, [("a", 1, 10), ("b", 2, 20)]), ["id"], ["topic"]
    )
    evals = spark.sparkContext.accumulator(0)

    def topic(t):
        evals.add(1)
        return t

    upd = _mk(spark, [("a", 1, 11), ("a", 3, 30), ("c", 4, 40)]).withColumn(
        "topic", F.udf(topic, "string")("topic")
    )
    writers.merge_upsert_manifested(spark, target, upd, ["id"], ["topic"])
    assert evals.value == 3
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 11),
        ("a", 3, 30),
        ("b", 2, 20),
        ("c", 4, 40),
    ]


def test_empty_updates_commit_nothing(spark, tmp_path):
    """No rows means no commit: on a fresh target nothing is written (no
    manifest, no table dir) and the empty updates come back; on an existing
    table no manifest is published and the snapshot is unchanged. The same
    holds for the two-rename partitioned merge."""
    empty = _mk(spark, [])
    target = str(tmp_path / "tbl")
    out = writers.merge_upsert_manifested(spark, target, empty, ["id"], ["topic"])
    assert out.count() == 0 and set(out.columns) == {"topic", "id", "score"}
    assert not (tmp_path / "tbl").exists()

    writers.merge_upsert_manifested(
        spark, target, _mk(spark, [("a", 1, 10)]), ["id"], ["topic"]
    )
    fs, _ = writers._hadoop_fs(spark, target)
    before = writers._manifest_versions(fs, spark._jvm, target)
    out = writers.merge_upsert_manifested(spark, target, empty, ["id"], ["topic"])
    assert writers._manifest_versions(fs, spark._jvm, target) == before == [1]
    assert _rows(out) == [("a", 1, 10)]

    ptarget = str(tmp_path / "ptbl")
    out = writers.merge_upsert_partitioned(spark, ptarget, empty, ["id"], ["topic"])
    assert out.count() == 0 and not (tmp_path / "ptbl").exists()
    writers.merge_upsert_partitioned(spark, ptarget, _mk(spark, [("a", 1, 10)]), ["id"], ["topic"])
    out = writers.merge_upsert_partitioned(spark, ptarget, empty, ["id"], ["topic"])
    assert _rows(out) == [("a", 1, 10)]


def test_manifested_reader_never_sees_partial_snapshot(spark, tmp_path):
    """A reader polling during a stream of commits must only ever observe
    one of the committed snapshots — never a missing partition or a
    half-applied merge."""
    target = str(tmp_path / "tbl")
    n_parts = 6
    base = _mk(
        spark, [(f"t{p}", p * 10 + i, 0) for p in range(n_parts) for i in range(3)]
    )
    writers.merge_upsert_manifested(spark, target, base, ["id"], ["topic"])

    # committed snapshots: after commit k, every partition's rows carry
    # score k (commit k rewrites ALL partitions — maximum swap surface)
    n_commits = 4
    valid = set(range(n_commits + 1))
    seen: list[tuple] = []
    stop = threading.Event()
    errors: list[str] = []

    def poll():
        while not stop.is_set():
            df = writers.read_manifested(spark, target)
            rows = df.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("topic").alias("p"),
                F.min("score").alias("lo"),
                F.max("score").alias("hi"),
            ).collect()[0]
            seen.append((rows["n"], rows["p"], rows["lo"], rows["hi"]))
            if rows["n"] != 3 * n_parts or rows["p"] != n_parts:
                errors.append(f"partial snapshot: {tuple(rows)}")
                return
            if rows["lo"] != rows["hi"] or rows["lo"] not in valid:
                errors.append(f"torn merge state: {tuple(rows)}")
                return

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        for k in range(1, n_commits + 1):
            upd = _mk(
                spark,
                [
                    (f"t{p}", p * 10 + i, k)
                    for p in range(n_parts)
                    for i in range(3)
                ],
            )
            writers.merge_upsert_manifested(spark, target, upd, ["id"], ["topic"])
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    assert len(seen) >= 2, "reader thread never completed a poll"
    final = writers.read_manifested(spark, target)
    assert final.filter(F.col("score") != n_commits).count() == 0


def test_manifested_crashed_commit_invisible_and_self_heals(spark, tmp_path):
    target = str(tmp_path / "tbl")
    base = _mk(spark, [("a", 1, 10), ("b", 2, 20)])
    writers.merge_upsert_manifested(spark, target, base, ["id"], ["topic"])

    # simulate a crash AFTER staging moved a new version dir in but BEFORE
    # the manifest published: orphan version dir under topic=a (since the
    # OCC change, attempt tokens are unique — a crashed attempt's dirs are
    # never reused, only vacuumed)
    jvm = spark._jvm
    fs, _ = writers._hadoop_fs(spark, target)
    crashed_tok = (2 << 20) | 12345
    orphan = jvm.org.apache.hadoop.fs.Path(f"{target}/topic=a/__v__={crashed_tok}")
    fs.mkdirs(orphan)
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{target}/topic=a/__v__={crashed_tok}/garbage.bin"),
        True,
    )
    out.write(bytearray(b"not parquet"))
    out.close()

    # readers resolve manifest v1 and never look at the orphan
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 10),
        ("b", 2, 20),
    ]

    # the re-attempted commit stages under a FRESH token and commits
    # cleanly; the crashed leftover stays invisible until vacuumed
    upd = _mk(spark, [("a", 1, 11)])
    writers.merge_upsert_manifested(spark, target, upd, ["id"], ["topic"])
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 11),
        ("b", 2, 20),
    ]
    assert writers.vacuum_manifested(spark, target, 1) >= 1  # reclaims the orphan
    assert not fs.exists(orphan)
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 11),
        ("b", 2, 20),
    ]


def test_manifested_gc_retains_one_commit_cycle(spark, tmp_path):
    target = str(tmp_path / "tbl")
    jvm = spark._jvm

    def versions_of(topic):
        fs, _ = writers._hadoop_fs(spark, target)
        pdir = jvm.org.apache.hadoop.fs.Path(target + f"/topic={topic}")
        return sorted(
            int(st.getPath().getName().split("=")[1])
            for st in fs.listStatus(pdir)
            if st.getPath().getName().startswith("__v__=")
        )

    writers.merge_upsert_manifested(
        spark, target, _mk(spark, [("a", 1, 0)]), ["id"], ["topic"]
    )
    for k in (1, 2, 3):
        writers.merge_upsert_manifested(
            spark, target, _mk(spark, [("a", 1, k)]), ["id"], ["topic"]
        )
    fs, _ = writers._hadoop_fs(spark, target)
    mans = writers._manifest_versions(fs, jvm, target)
    assert mans == [3, 4], "old manifests must be dropped with their data"
    # after commit 4: exactly the current (manifest 4) + one retained
    # (manifest 3) data tokens remain on disk; commits 1-2's dirs GC'd
    live_tokens = sorted(
        writers._read_manifest(fs, jvm, target, mv)["topic=a"] for mv in mans
    )
    assert versions_of("a") == live_tokens

    # vacuum removes nothing the retention contract still protects
    assert writers.vacuum_manifested(spark, target, 1) == 0
    # ...but removes a planted orphan
    orphan = jvm.org.apache.hadoop.fs.Path(target + "/topic=a/__v__=99")
    fs.mkdirs(orphan)
    assert writers.vacuum_manifested(spark, target, 1) == 1


def test_manifested_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        writers.read_manifested(spark, str(tmp_path / "nope"))


def test_manifested_concurrent_writer_occ(spark, tmp_path, monkeypatch):
    """OCC at the manifest publish (VERDICT r4 item 6): two writers that
    both computed against snapshot N race toward manifest N+1 — the first
    publish wins, the second raises ConcurrentWriteError, and the store
    stays consistent: readers see exactly the winner's snapshot, the
    loser's uniquely-tokened staged dirs are invisible orphans, and vacuum
    reclaims them."""
    target = str(tmp_path / "tbl")
    base = _mk(spark, [("a", 1, 10), ("b", 2, 20)])
    writers.merge_upsert_manifested(spark, target, base, ["id"], ["topic"])

    orig_publish = writers._publish_manifest
    fired = {"done": False}

    def hook(fs, jvm, root, version, partitions):
        # writer A reaches its commit point; before it publishes, writer B
        # (a full competing merge) commits the SAME computed version
        if not fired["done"]:
            fired["done"] = True
            writers.merge_upsert_manifested(
                spark, target, _mk(spark, [("a", 1, 77)]), ["id"], ["topic"]
            )
        return orig_publish(fs, jvm, root, version, partitions)

    monkeypatch.setattr(writers, "_publish_manifest", hook)
    with pytest.raises(writers.ConcurrentWriteError, match="concurrent|commit race"):
        writers.merge_upsert_manifested(
            spark, target, _mk(spark, [("a", 1, 55)]), ["id"], ["topic"]
        )
    monkeypatch.setattr(writers, "_publish_manifest", orig_publish)

    # the winner's snapshot is what readers resolve — the loser's data
    # never surfaces and never clobbered the winner's dirs
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 77),
        ("b", 2, 20),
    ]
    # the loser's staged dirs are orphans; vacuum reclaims them and the
    # snapshot is unchanged
    assert writers.vacuum_manifested(spark, target, 1) >= 1
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 77),
        ("b", 2, 20),
    ]


def test_manifested_retrying_merge_wins_after_conflict(spark, tmp_path, monkeypatch):
    """The optimistic retry loop: writer A loses the race once (a competing
    merge commits between A's snapshot read and publish), then succeeds on
    the retry — and the retry composes A's updates ON TOP of the winner's
    snapshot, not the stale one."""
    target = str(tmp_path / "tbl")
    writers.merge_upsert_manifested(
        spark, target, _mk(spark, [("a", 1, 10), ("b", 2, 20)]), ["id"], ["topic"]
    )

    orig_publish = writers._publish_manifest
    fired = {"done": False}

    def hook(fs, jvm, root, version, partitions):
        if not fired["done"]:
            fired["done"] = True
            writers.merge_upsert_manifested(
                spark, target, _mk(spark, [("b", 2, 99)]), ["id"], ["topic"]
            )
        return orig_publish(fs, jvm, root, version, partitions)

    monkeypatch.setattr(writers, "_publish_manifest", hook)
    writers.merge_upsert_manifested_retrying(
        spark, target, _mk(spark, [("a", 1, 55)]), ["id"], ["topic"]
    )
    monkeypatch.setattr(writers, "_publish_manifest", orig_publish)
    # both the competing writer's update AND the retried writer's survive
    assert _rows(writers.read_manifested(spark, target)) == [
        ("a", 1, 55),
        ("b", 2, 99),
    ]

    # a hook that ALWAYS interposes a competing commit exhausts the budget
    # (the in_competitor flag keeps the competing merge's own publish from
    # re-triggering the hook recursively)
    state = {"in_competitor": False}

    def always(fs, jvm, root, version, partitions):
        if not state["in_competitor"]:
            state["in_competitor"] = True
            try:
                writers.merge_upsert_manifested(
                    spark, target, _mk(spark, [("b", 2, version)]), ["id"], ["topic"]
                )
            finally:
                state["in_competitor"] = False
        return orig_publish(fs, jvm, root, version, partitions)

    monkeypatch.setattr(writers, "_publish_manifest", always)
    with pytest.raises(writers.ConcurrentWriteError, match="lost the commit race"):
        writers.merge_upsert_manifested_retrying(
            spark, target, _mk(spark, [("a", 1, 77)]), ["id"], ["topic"], max_retries=1
        )


_XPROC_RACER = r'''
import json
import os
import sys
import time

repo, root, wid = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
from reddit_twitter_big_data_pipeline_spark.sinks import writers as W

fs, _ = W._hadoop_fs(spark, root)
jvm = spark._jvm
mdir = root + "/_manifest"
fs.mkdirs(jvm.org.apache.hadoop.fs.Path(mdir))
tmp = jvm.org.apache.hadoop.fs.Path(f"{mdir}/.v0000000002.{wid}.tmp")
dst = jvm.org.apache.hadoop.fs.Path(f"{mdir}/v0000000002.json")
out = fs.create(tmp, True)
out.write(bytearray(json.dumps({"version": 2, "partitions": {"writer": int(wid)}}).encode()))
out.close()
# the exact ADVICE-r5 scenario: BOTH OS processes pass the exists() check
# before EITHER promotes — only an atomically-exclusive commit can then
# keep one of them from silently last-writer-winning
assert not fs.exists(dst)
open(os.path.join(root, f"ready_{wid}"), "w").close()
deadline = time.time() + 60
while not (os.path.exists(root + "/ready_1") and os.path.exists(root + "/ready_2")):
    if time.time() > deadline:
        print("RESULT:BARRIER_TIMEOUT", flush=True)
        sys.exit(2)
    time.sleep(0.005)
try:
    W._promote_exclusive_local(fs, jvm, tmp, dst, root, 2)
    print("RESULT:WIN", flush=True)
except W.ConcurrentWriteError:
    print("RESULT:LOSE", flush=True)
'''


def test_manifested_occ_race_across_processes(tmp_path):
    """VERDICT r5 item 7: the manifest commit must hold across OS
    processes, not just threads. Two separate Python/JVM processes stage
    their own v2 payloads, barrier after both have passed the exists()
    check, then promote simultaneously: the hard-link commit admits
    exactly one winner; the loser gets ConcurrentWriteError; the published
    snapshot is the winner's payload, intact."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "xproc_store")
    os.makedirs(root, exist_ok=True)
    script = str(tmp_path / "racer.py")
    with open(script, "w") as f:
        f.write(_XPROC_RACER)
    procs = [
        subprocess.Popen(
            [sys.executable, script, repo, root, wid],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for wid in ("1", "2")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert "RESULT:" in out, f"racer died: {err[-2000:]}"
        outs.append(out.strip().splitlines()[-1])
    results = sorted(outs)
    assert results == ["RESULT:LOSE", "RESULT:WIN"], results
    winner = outs.index("RESULT:WIN") + 1
    with open(os.path.join(root, "_manifest", "v0000000002.json")) as f:
        doc = json.load(f)
    assert doc == {"version": 2, "partitions": {"writer": winner}}
    # no stray tmp files survive either outcome
    leftovers = [n for n in os.listdir(os.path.join(root, "_manifest")) if n.endswith(".tmp")]
    assert leftovers == []


class _FakeJPath:
    def __init__(self, s):
        self.s = s

    def getName(self):
        return self.s.rsplit("/", 1)[-1]


class _FakeJvm:
    class org:
        class apache:
            class hadoop:
                class fs:
                    Path = _FakeJPath


class _FakeRemoteFs:
    """Non-file:// FileSystem whose rename always fails — drives the
    failed-rename classification branch (ADVICE r5 low): ConcurrentWriteError
    only when dst exists after the failure, IOError otherwise."""

    def __init__(self, dst_exists_after_rename):
        self._dst_exists = dst_exists_after_rename
        self._rename_attempted = False
        self.deleted = []

    class _Out:
        def write(self, b):
            pass

        def close(self):
            pass

    def getUri(self):
        class U:
            @staticmethod
            def getScheme():
                return "fakefs"

        return U()

    def mkdirs(self, p):
        return True

    def create(self, p, overwrite):
        return self._Out()

    def exists(self, p):
        # dst only materializes (for the race case) after the rename attempt,
        # so the early pre-promote check always passes
        return p.s.endswith(".json") and self._rename_attempted and self._dst_exists

    def rename(self, a, b):
        self._rename_attempted = True
        return False

    def delete(self, p, rec):
        self.deleted.append(p.s)
        return True


def test_publish_failed_rename_classifies_race_vs_io_error():
    fs = _FakeRemoteFs(dst_exists_after_rename=True)
    with pytest.raises(writers.ConcurrentWriteError, match="commit race"):
        writers._publish_manifest(fs, _FakeJvm, "/t", 3, {"a": 1})
    fs = _FakeRemoteFs(dst_exists_after_rename=False)
    with pytest.raises(IOError, match="filesystem error, not a commit race"):
        writers._publish_manifest(fs, _FakeJvm, "/t", 3, {"a": 1})
    assert any(p.endswith(".tmp") for p in fs.deleted)
