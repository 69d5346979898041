"""Streaming curation (streaming/curation.py): the batch curate_* gate
stack applied to a document stream — row-local gates, fp-dedup within the
watermark, and the stateful per-domain quota admitter."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_twitter_big_data_pipeline_spark.streaming import curation, streams

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("date", T.StringType()),
    ]
)

# English sentences that clear the word-profile langid gate at margin 1
_EN = [
    "the cat and the dog walked to the market and it was a good day for everyone there",
    "she said that they would have been at the house with their friends all day long",
    "it is not that they could not have done this before but the time was never right",
    "when we went to the store we found that all of the things were already sold out",
    "he was sure that this would be the best of all the days they had seen this year",
]


def _write_batch(dirpath, name: str, rows: list[dict], mtime: int) -> None:
    # batch order follows file MTIME — pin it so replay order is stable
    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    p.write_text(json.dumps(rows))
    os.utime(p, (mtime, mtime))


def _doc(i: int, text: str, host: str, minute: int) -> dict:
    return {
        "doc_id": i,
        "text": text,
        "url": f"https://{host}/p/{i}",
        "date": f"2023-03-25 12:{minute:02d}:00",
    }


def _run(spark, land, tmp_path, name: str, **kw):
    src = streams.read_json_stream(
        spark, str(land), DOC_SCHEMA, max_files_per_trigger=1
    ).withColumn("ts", F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss"))
    out = curation.curate_stream(src, **kw)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    streams.run_to_completion(q)
    return spark.sql(f"select * from {name}").collect()


def test_domain_quota_admit_caps_across_batches(spark, tmp_path):
    """State carries across micro-batches: a domain filled in batch 1
    admits only its remaining quota in batch 2; a fresh domain admits up
    to the cap; within a batch, min-id rows win."""
    land = tmp_path / "land"
    _write_batch(
        land, "1.json",
        [{"doc_id": i, "domain": "a.com"} for i in (2, 1)],  # unsorted on purpose
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [{"doc_id": 3, "domain": "a.com"}, {"doc_id": 4, "domain": "a.com"},
         {"doc_id": 10, "domain": "b.com"}],
        mtime=2,
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("domain", T.StringType())]
    )
    src = streams.read_json_stream(spark, str(land), schema, max_files_per_trigger=1)
    out = curation.domain_quota_admit(src, cap=3)
    q = (
        out.writeStream.format("memory")
        .queryName("quota")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_quota"))
        .trigger(availableNow=True)
        .start()
    )
    streams.run_to_completion(q)
    got = sorted(r.doc_id for r in spark.sql("select * from quota").collect())
    # a.com: 1,2 in batch 1, then only 3 (cap 3) in batch 2; b.com: 10
    assert got == [1, 2, 3, 10]


def test_domain_quota_admit_min_ids_across_arrow_chunks(spark, tmp_path):
    """The group arrives as MULTIPLE Arrow chunks when it exceeds
    maxRecordsPerBatch; the admitted set must still be the globally
    smallest ids of the whole micro-batch group, not per-chunk winners."""
    land = tmp_path / "land"
    # descending ids: the globally smallest ids sit in the LAST chunk,
    # so a per-chunk head() would admit 9,8 instead of 1,2
    _write_batch(
        land, "1.json",
        [{"doc_id": i, "domain": "a.com"} for i in (9, 8, 7, 6, 5, 4, 3, 2, 1)],
        mtime=1,
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("domain", T.StringType())]
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        src = streams.read_json_stream(spark, str(land), schema)
        out = curation.domain_quota_admit(src, cap=2)
        q = (
            out.writeStream.format("memory")
            .queryName("quota_chunks")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_chunks"))
            .trigger(availableNow=True)
            .start()
        )
        streams.run_to_completion(q)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = sorted(r.doc_id for r in spark.sql("select * from quota_chunks").collect())
    assert got == [1, 2]


def test_curate_stream_gates_dedup_and_quota(spark, tmp_path):
    """End-to-end: garbage text drops at langid, a blocked domain drops at
    the anti-join, a cross-batch duplicate drops at the watermark fp-dedup
    (different id, different url — same content), and the per-domain cap
    holds across batches."""
    land = tmp_path / "land"
    _write_batch(
        land, "1.json",
        [
            _doc(1, _EN[0], "a.site1.com", 0),
            _doc(2, _EN[1], "b.site1.com", 1),
            _doc(3, "zzz qqq xxx vvv kkk", "a.site2.com", 2),  # fails langid
            _doc(4, _EN[2], "bad.blocked.com", 3),  # blocked domain
        ],
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [
            _doc(5, _EN[0], "c.site1.com", 5),  # duplicate CONTENT of doc 1
            _doc(6, _EN[3], "d.site1.com", 6),  # site1.com already at cap
            _doc(7, _EN[4], "e.site3.com", 7),  # fresh domain -> admitted
        ],
        mtime=2,
    )
    blocked = spark.createDataFrame([("blocked.com",)], ["domain"])
    rows = _run(
        spark, land, tmp_path, "curated",
        blocked=blocked, min_margin=1, q_micro_min=1,
        domain_cap=2, dedup_delay="1 hour",
    )
    admitted = sorted((r.doc_id, r.domain, r.lang) for r in rows)
    assert admitted == [
        (1, "site1.com", "en"),
        (2, "site1.com", "en"),
        (7, "site3.com", "en"),
    ]
    # the admitted schema keeps everything downstream needs
    assert {"doc_id", "text", "url", "ts", "lang", "domain"} <= {
        f for f in rows[0].asDict()
    }


def test_curate_stream_replay_is_idempotent(spark, tmp_path):
    """Re-running over the same checkpoint admits nothing new (the W5
    exactly-once discipline applies to the stateful quota too)."""
    land = tmp_path / "land"
    _write_batch(land, "1.json", [_doc(1, _EN[0], "a.site1.com", 0)], mtime=1)

    out_dir = str(tmp_path / "out")

    def run() -> None:
        src = streams.read_json_stream(
            spark, str(land), DOC_SCHEMA, max_files_per_trigger=1
        ).withColumn("ts", F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss"))
        out = curation.curate_stream(
            src, min_margin=1, q_micro_min=1, domain_cap=2
        )
        q = (
            out.writeStream.foreachBatch(
                lambda batch, _id: batch.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
            .trigger(availableNow=True)
            .start()
        )
        streams.run_to_completion(q)

    run()
    run()  # same checkpoint, no new files -> no batches replay
    assert spark.read.parquet(out_dir).count() == 1


# --- curate_stream_v2: the near-dup-screening foreachBatch admission -------

_LONG = " ".join(_EN)  # ~90 mostly-distinct trigrams: a 1-word edit keeps J>0.9


def _near_dup_of_long() -> str:
    words = _LONG.split(" ")
    words[40] = "altered"
    return " ".join(words)


def _run_v2(spark, land, tmp_path, tag: str, **kw):
    src = streams.read_json_stream(
        spark, str(land), DOC_SCHEMA, max_files_per_trigger=1
    )
    q = curation.curate_stream_v2(
        src,
        state_dir=str(tmp_path / f"state_{tag}"),
        out_dir=str(tmp_path / f"out_{tag}"),
        checkpoint=str(tmp_path / f"ckpt_{tag}"),
        **kw,
    )
    streams.run_to_completion(q)
    return spark.read.parquet(str(tmp_path / f"out_{tag}"))


def test_curate_stream_v2_screens_and_grows_state(spark, tmp_path):
    """Cross-batch admission: batch 2's exact dup of admitted content
    drops at the stored-fp anti-join, its near-dup (1-word edit of a
    ~90-word admitted doc, J > 0.9) drops at the stored-band MinHash
    probe, a filled domain admits nothing more, and a fresh doc admits."""
    land = tmp_path / "land_v2"
    _write_batch(
        land, "1.json",
        [
            _doc(1, _LONG, "a.site1.com", 0),
            _doc(2, _EN[1], "b.site1.com", 1),
        ],
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [
            _doc(11, _LONG, "c.other1.com", 5),            # exact dup -> fp screen
            _doc(12, _near_dup_of_long(), "d.other2.com", 6),  # near dup -> probe
            _doc(13, _EN[3], "e.site1.com", 7),            # site1.com at cap
            _doc(14, _EN[4], "f.site9.com", 8),            # fresh -> admitted
        ],
        mtime=2,
    )
    out = _run_v2(
        spark, land, tmp_path, "grow",
        min_margin=1, q_micro_min=1, domain_cap=2,
    )
    got = sorted((r.doc_id, r.domain, int(r["__batch"])) for r in out.collect())
    assert got == [
        (1, "site1.com", 0),
        (2, "site1.com", 0),
        (14, "site9.com", 1),
    ]
    # state grew only with ADMITTED docs: 3 fingerprints, 3 banded ids
    state = tmp_path / "state_grow"
    assert spark.read.parquet(str(state / "fps")).count() == 3
    band_ids = {
        r.id for r in spark.read.parquet(str(state / "bands")).select("id").distinct().collect()
    }
    assert band_ids == {1, 2, 14}


def test_curate_stream_v2_batch_parity_with_increment_v2(spark, tmp_path):
    """Per-batch streaming admission == `training.admit` (near-dup screen
    on) of that batch against the previously-admitted corpus (one
    semantics definition, two cadences). Batch 1 parity uses an empty
    corpus; batch 2 parity uses batch 1's admitted docs as the corpus."""
    from reddit_twitter_big_data_pipeline_spark.plans import training

    b1 = [
        _doc(1, _LONG, "a.site1.com", 0),
        _doc(2, _EN[1], "b.site1.com", 1),
        _doc(3, _EN[2], "c.site1.com", 2),  # over the site1.com cap
        _doc(4, "zzz qqq xxx vvv", "d.site2.com", 3),  # fails langid
    ]
    b2 = [
        _doc(11, _near_dup_of_long(), "e.other.com", 5),
        _doc(12, _EN[3], "f.site1.com", 6),
        _doc(13, _EN[4], "g.site3.com", 7),
        _doc(14, _EN[4], "h.site4.com", 8),  # within-batch exact dup of 13
    ]
    land = tmp_path / "land_parity"
    _write_batch(land, "1.json", b1, mtime=1)
    _write_batch(land, "2.json", b2, mtime=2)
    out = _run_v2(
        spark, land, tmp_path, "parity",
        min_margin=1, q_micro_min=1, domain_cap=2,
    )
    stream_rows = {
        int(r["__batch"]): set()
        for r in out.select("__batch").distinct().collect()
    }
    for r in out.collect():
        stream_rows[int(r["__batch"])].add((r.doc_id, r.lang, r.domain, r.n_tokens))

    def df_of(rows):
        return spark.createDataFrame(
            [(d["doc_id"], d["text"], d["url"]) for d in rows],
            ["doc_id", "text", "url"],
        )

    empty = spark.createDataFrame([], "doc_id long, text string, url string")
    gates = training.web_gates(min_margin=1, q_micro_min=1)
    adm1 = training.admit(
        df_of(b1), empty, gates, domain_cap=2, neardup_threshold=0.9
    ).collect()
    adm1_ids = {r.doc_id for r in adm1}
    corpus2 = df_of([d for d in b1 if d["doc_id"] in adm1_ids])
    adm2 = training.admit(
        df_of(b2), corpus2, gates, domain_cap=2, neardup_threshold=0.9
    ).collect()
    assert stream_rows.get(0, set()) == {
        (r.doc_id, r.lang, r.domain, r.n_tokens) for r in adm1
    }
    assert stream_rows.get(1, set()) == {
        (r.doc_id, r.lang, r.domain, r.n_tokens) for r in adm2
    }


def test_curate_stream_v2_replay_is_idempotent(spark, tmp_path):
    """Replays are exact: re-running on the same checkpoint is a no-op,
    and a from-scratch rerun (checkpoint wiped, state/output left on
    disk from the first run) overwrites its own partitions and reads
    only pre-batch state — identical output, no double-admission."""
    import shutil

    land = tmp_path / "land_replay"
    _write_batch(
        land, "1.json",
        [_doc(1, _LONG, "a.site1.com", 0)],
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [_doc(11, _LONG, "b.other.com", 5), _doc(12, _EN[1], "c.site2.com", 6)],
        mtime=2,
    )
    out1 = _run_v2(
        spark, land, tmp_path, "replay", min_margin=1, q_micro_min=1, domain_cap=2
    )
    first = sorted((r.doc_id, int(r["__batch"])) for r in out1.collect())
    assert first == [(1, 0), (12, 1)]
    # same checkpoint -> no batches replay, nothing changes
    out2 = _run_v2(
        spark, land, tmp_path, "replay", min_margin=1, q_micro_min=1, domain_cap=2
    )
    assert sorted((r.doc_id, int(r["__batch"])) for r in out2.collect()) == first
    # wipe ONLY the checkpoint: every batch replays against a state dir
    # that already holds its own writes — the __batch < batch_id read
    # filter must hide them, else batch 0's own fp kills doc 1
    shutil.rmtree(str(tmp_path / "ckpt_replay"))
    out3 = _run_v2(
        spark, land, tmp_path, "replay", min_margin=1, q_micro_min=1, domain_cap=2
    )
    assert sorted((r.doc_id, int(r["__batch"])) for r in out3.collect()) == first


def test_domain_quota_admit_daily_resets_per_event_day(spark, tmp_path):
    """The rolling daily quota: a domain at cap on day 1 admits a fresh
    cap on day 2 (structural reset via the (domain, day) key); expired
    days' counters are removed by the EventTimeTimeout once the
    watermark passes (observable as the state-store row count of the
    final batches)."""
    land = tmp_path / "land_daily"

    def _d(i, host, day, minute, hour=12):
        return {
            "doc_id": i,
            "text": "x",
            "url": f"https://{host}/p/{i}",
            "date": f"2023-03-{day:02d} {hour:02d}:{minute:02d}:00",
        }

    _write_batch(
        land, "1.json",
        [_d(2, "a.com", 1, 1), _d(1, "a.com", 1, 2), _d(3, "a.com", 1, 3),
         _d(5, "b.com", 1, 4)],
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [_d(4, "a.com", 1, 30),  # day 1, still within watermark: at cap
         _d(11, "a.com", 2, 1), _d(12, "a.com", 2, 2), _d(13, "a.com", 2, 3)],
        mtime=2,
    )
    _write_batch(land, "3.json", [_d(21, "a.com", 3, 1)], mtime=3)
    _write_batch(land, "4.json", [_d(22, "a.com", 3, 1, hour=13)], mtime=4)
    src = (
        streams.read_json_stream(spark, str(land), DOC_SCHEMA, max_files_per_trigger=1)
        .withColumn("ts", F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
    )
    out = curation.domain_quota_admit_daily(src, cap=2, delay="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("daily_quota")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_daily"))
        .trigger(availableNow=True)
        .start()
    )
    streams.run_to_completion(q)
    rows = spark.sql("select * from daily_quota").collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 5, 11, 12, 21, 22]
    # day-1 counters (a.com, b.com) expired once the watermark crossed
    # end-of-day-2; day-2 and day-3 counters are still inside the horizon
    finals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert finals and finals[-1] == 2, finals


def test_domain_quota_admit_daily_past_watermark_straggler_drops(spark, tmp_path):
    """VERDICT r12 item 4: a straggler whose event day was already GC'd
    (its timer fired because the watermark passed end-of-day + slack) is
    DROPPED by the engine's late-row filter before the operator runs —
    it must NOT re-admit under a fresh counter (the silent re-earned-cap
    break the GC timer would otherwise open). Pinned semantics: drop."""
    land = tmp_path / "land_straggler"

    def _d(i, day, minute):
        return {
            "doc_id": i,
            "text": "x",
            "url": f"https://a.com/p/{i}",
            "date": f"2023-03-{day:02d} 12:{minute:02d}:00",
        }

    # batch 1: day-1 fills a.com's cap (ids 1,2; id 3 over cap), and a
    # day-9 row drives the watermark far past day 1's GC horizon
    # (day-1 timer = end of day 2; watermark after batch 1 = day 9 - 1h)
    _write_batch(
        land, "1.json",
        [_d(1, 1, 1), _d(2, 1, 2), _d(3, 1, 3), _d(70, 9, 0)],
        mtime=1,
    )
    # batch 2: innocuous day-9 row; while it runs, the day-1 timer
    # (< watermark) fires and the (a.com, day-1) counter is REMOVED
    _write_batch(land, "2.json", [_d(71, 9, 30)], mtime=2)
    # batch 3: a day-1 straggler, far behind the watermark, whose
    # (a.com, day-1) counter no longer exists
    _write_batch(land, "3.json", [_d(99, 1, 30)], mtime=3)
    src = (
        streams.read_json_stream(spark, str(land), DOC_SCHEMA, max_files_per_trigger=1)
        .withColumn("ts", F.to_timestamp("date", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
    )
    out = curation.domain_quota_admit_daily(src, cap=2, delay="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("daily_straggler")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_straggler"))
        .trigger(availableNow=True)
        .start()
    )
    streams.run_to_completion(q)
    rows = spark.sql("select * from daily_straggler").collect()
    # 99 dropped (late), 3 dropped (over cap), 1/2/70/71 admitted
    assert sorted(r.doc_id for r in rows) == [1, 2, 70, 71]
    # the day-1 counter was GONE before the straggler's batch ran (state
    # drops 2 -> 1 at batch 2), so only the late-row filter stood between
    # id 99 and a re-earned fresh cap — and it held
    finals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert finals and finals[-1] == 1 and 1 in finals[:-1], finals


def test_compact_stream_state_preserves_admission_behavior(spark, tmp_path):
    """Compaction folds all per-batch state into __batch=-1 without
    changing content: a batch streamed AFTER compaction admits exactly
    what it would have against the uncompacted state (control run),
    and the per-table row counts are unchanged (domains re-aggregate)."""
    b1 = [_doc(1, _LONG, "a.site1.com", 0), _doc(2, _EN[1], "b.site1.com", 1)]
    b2 = [_doc(11, _EN[2], "c.site2.com", 5)]
    b3 = [
        _doc(21, _LONG, "d.other.com", 8),     # exact dup of admitted doc 1
        _doc(22, _near_dup_of_long(), "e.other2.com", 9),  # near dup
        _doc(23, _EN[3], "f.site1.com", 10),   # site1.com at cap
        _doc(24, _EN[4], "g.site9.com", 11),   # fresh -> admitted
    ]

    def run(tag, batches, compact_before_last=False):
        land = tmp_path / f"land_{tag}"
        for i, rows in enumerate(batches[:-1], start=1):
            _write_batch(land, f"{i}.json", rows, mtime=i)
        _run_v2(spark, land, tmp_path, tag, min_margin=1, q_micro_min=1, domain_cap=2)
        if compact_before_last:
            before = {
                t: spark.read.parquet(str(tmp_path / f"state_{tag}" / t)).count()
                for t in ("fps", "shingles", "bands")
            }
            counts = curation.compact_stream_state(
                spark, str(tmp_path / f"state_{tag}")
            )
            assert {t: counts[t] for t in before} == before
            # everything now lives in the single pre-stream partition
            batches_left = {
                r["__batch"]
                for r in spark.read.parquet(str(tmp_path / f"state_{tag}" / "bands"))
                .select("__batch").distinct().collect()
            }
            assert batches_left == {-1}
        _write_batch(land, f"{len(batches)}.json", batches[-1], mtime=len(batches))
        _run_v2(spark, land, tmp_path, tag, min_margin=1, q_micro_min=1, domain_cap=2)
        return sorted(
            (r.doc_id, int(r["__batch"]))
            for r in spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()
        )

    control = run("nocompact", [b1, b2, b3], compact_before_last=False)
    compacted = run("compact", [b1, b2, b3], compact_before_last=True)
    assert compacted == control
    assert [d for d, _ in control] == [1, 2, 11, 24]


def test_curate_stream_v2_all_filtered_batch_is_harmless(spark, tmp_path):
    """A micro-batch whose every row fails the gates admits nothing,
    writes only empty partitions, and leaves later batches' admission
    unaffected (state reads tolerate empty partition dirs)."""
    land = tmp_path / "land_empty"
    _write_batch(
        land, "1.json",
        [_doc(1, "zzz qqq xxx vvv", "a.site1.com", 0)],  # fails langid
        mtime=1,
    )
    _write_batch(land, "2.json", [_doc(11, _EN[0], "b.site2.com", 5)], mtime=2)
    out = _run_v2(
        spark, land, tmp_path, "allfiltered",
        min_margin=1, q_micro_min=1, domain_cap=2,
    )
    got = sorted((r.doc_id, int(r["__batch"])) for r in out.collect())
    assert got == [(11, 1)]
    # batch 0 contributed no state rows; batch 1's landed normally
    bands = spark.read.parquet(str(tmp_path / "state_allfiltered" / "bands"))
    assert {r.id for r in bands.select("id").distinct().collect()} == {11}


def test_curate_stream_daily_quota_mode(spark, tmp_path):
    """quota_mode='daily': a domain filled on day 1 admits a fresh cap on
    day 2 inside the same composed pipeline (three chained stateful
    operators: fp-dedup, then the (domain, day)-keyed quota)."""
    land = tmp_path / "land_dq"

    def _d(i, text, host, day, minute):
        return {
            "doc_id": i, "text": text,
            "url": f"https://{host}/p/{i}",
            "date": f"2023-03-{day:02d} 12:{minute:02d}:00",
        }

    _write_batch(
        land, "1.json",
        [_d(1, _EN[0], "a.site1.com", 1, 0), _d(2, _EN[1], "b.site1.com", 1, 1),
         _d(3, _EN[2], "c.site1.com", 1, 2)],   # over the day-1 cap
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [_d(11, _EN[3], "d.site1.com", 2, 0),   # fresh day -> admitted
         _d(12, _EN[0], "e.site1.com", 2, 1)],  # dup content of doc 1 -> fp-dedup
        mtime=2,
    )
    rows = _run(
        spark, land, tmp_path, "daily_mode",
        min_margin=1, q_micro_min=1, domain_cap=2, quota_mode="daily",
    )
    assert sorted(r.doc_id for r in rows) == [1, 2, 11]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="quota_mode"):
        curation.curate_stream(spark.range(1), quota_mode="weekly")


def test_curate_stream_v2_rejects_nonmonotonic_ids(spark, tmp_path):
    """ADVICE r11: the globally-increasing-id convention is enforced, not
    just documented — a batch whose min id is <= the stored high-water
    mark (logged per batch in the slim ids/ state table) fails the query
    loudly instead of silently admitting near-duplicates as pair
    a-sides. The high-water mark covers every SEEN id, not just admitted
    ones."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    land = tmp_path / "land_mono"
    _write_batch(
        land, "1.json",
        [_doc(1, _EN[0], "a.site1.com", 0), _doc(8, _EN[1], "b.site2.com", 1)],
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [_doc(5, _EN[2], "c.site3.com", 5)],  # 5 <= stored hi 8 -> reject
        mtime=2,
    )
    with pytest.raises(StreamingQueryException, match="globally increasing"):
        _run_v2(spark, land, tmp_path, "mono", min_margin=1, q_micro_min=1)
    # the invariant log itself: one hi row per completed batch
    ids = spark.read.parquet(str(tmp_path / "state_mono" / "ids"))
    assert [(r.hi, int(r["__batch"])) for r in ids.collect()] == [(8, 0)]


def test_curate_stream_v2_monotonic_ids_pass_and_compact(spark, tmp_path):
    """Increasing ids sail through the invariant, and compaction folds
    the ids log to its running max so the check keeps working after a
    maintenance window."""
    land = tmp_path / "land_mono_ok"
    _write_batch(land, "1.json", [_doc(1, _EN[0], "a.site1.com", 0)], mtime=1)
    _write_batch(land, "2.json", [_doc(9, _EN[1], "b.site2.com", 5)], mtime=2)
    out = _run_v2(spark, land, tmp_path, "mono_ok", min_margin=1, q_micro_min=1)
    assert sorted(r.doc_id for r in out.collect()) == [1, 9]
    state = str(tmp_path / "state_mono_ok")
    counts = curation.compact_stream_state(spark, state)
    assert counts["ids"] == 1  # folded to the single running max
    ids = spark.read.parquet(os.path.join(state, "ids"))
    assert [(r.hi, int(r["__batch"])) for r in ids.collect()] == [(9, -1)]
    # a replay-fresh batch below the folded max still rejects
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    _write_batch(land, "3.json", [_doc(4, _EN[2], "c.site3.com", 8)], mtime=3)
    with pytest.raises(StreamingQueryException, match="globally increasing"):
        _run_v2(spark, land, tmp_path, "mono_ok", min_margin=1, q_micro_min=1)


def test_compact_stream_state_enforces_stopped_clean_checkpoint(spark, tmp_path):
    """VERDICT r11 item 3: given the stream's checkpoint,
    compact_stream_state refuses while the last started batch has no
    commit (it would replay against folded state) and succeeds after a
    clean completion; force=True overrides."""
    import pytest

    land = tmp_path / "land_ilock"
    _write_batch(land, "1.json", [_doc(1, _EN[0], "a.site1.com", 0)], mtime=1)
    _run_v2(spark, land, tmp_path, "ilock", min_margin=1, q_micro_min=1)
    state = str(tmp_path / "state_ilock")
    ckpt = str(tmp_path / "ckpt_ilock")
    # clean completion: batch 0 started AND committed -> compaction runs
    counts = curation.compact_stream_state(spark, state, checkpoint=ckpt)
    assert counts["fps"] == 1
    # fabricate a started-but-uncommitted batch: offsets/1 with no commits/1
    off = os.path.join(ckpt, "offsets")
    with open(os.path.join(off, "0")) as f:
        payload = f.read()
    with open(os.path.join(off, "1"), "w") as f:
        f.write(payload)
    with pytest.raises(RuntimeError, match="batch 1 started but never committed"):
        curation.compact_stream_state(spark, state, checkpoint=ckpt)
    # force overrides for operators abandoning the checkpoint
    counts = curation.compact_stream_state(spark, state, checkpoint=ckpt, force=True)
    assert counts["fps"] == 1


def _dday(i, text, host, day, minute=0):
    return {
        "doc_id": i, "text": text,
        "url": f"https://{host}/p/{i}",
        "date": f"2023-03-{day:02d} 12:{minute:02d}:00",
    }


def test_curate_stream_v2_daily_quota_resets_per_event_day(spark, tmp_path):
    """VERDICT r11 item 6: quota_mode='daily' keys the stored domain
    counts by event date — a domain filled on day 1 stays capped for
    day-1 stragglers in LATER batches but admits a fresh cap on day 2;
    the domains state table carries the __day key."""
    land = tmp_path / "land_v2daily"
    _write_batch(
        land, "1.json",
        [_dday(1, _EN[0], "a.site1.com", 1, 0),
         _dday(2, _EN[1], "b.site1.com", 1, 1),
         _dday(3, _EN[2], "c.site1.com", 1, 2)],   # over the day-1 cap of 2
        mtime=1,
    )
    _write_batch(
        land, "2.json",
        [_dday(11, _EN[3], "d.site1.com", 1, 5),   # day 1 still at cap
         _dday(12, _EN[4], "e.site1.com", 2, 6)],  # day 2 -> fresh cap
        mtime=2,
    )
    out = _run_v2(
        spark, land, tmp_path, "v2daily",
        min_margin=1, q_micro_min=1, domain_cap=2,
        quota_mode="daily", date_col="date",
    )
    got = sorted((r.doc_id, str(r["__day"]), int(r["__batch"])) for r in out.collect())
    # admission within a (domain, day) group follows the deterministic
    # HASH order (the cap_per_group rule), so pin semantics, not ids:
    # exactly 2 of day-1's three docs admit in batch 0, day-1 straggler
    # 11 is rejected in batch 1, day-2 doc 12 opens a fresh cap
    day1 = [g for g in got if g[1] == "2023-03-01"]
    assert len(day1) == 2 and all(b == 0 for _, _, b in day1)
    assert {g[0] for g in day1} < {1, 2, 3}
    assert [g for g in got if g[1] == "2023-03-02"] == [(12, "2023-03-02", 1)]
    dom = spark.read.parquet(str(tmp_path / "state_v2daily" / "domains"))
    assert sorted((r.domain, str(r["__day"]), r.n) for r in dom.collect()) == [
        ("site1.com", "2023-03-01", 2), ("site1.com", "2023-03-02", 1)
    ]
    import pytest

    with pytest.raises(ValueError, match="quota_mode"):
        curation.curate_stream_v2(
            spark.range(1), "s", "o", "c", quota_mode="weekly"
        )
    with pytest.raises(ValueError, match="requires date_col"):
        curation.curate_stream_v2(
            spark.range(1), "s", "o", "c", quota_mode="daily"
        )


def test_curate_stream_v2_daily_single_day_parity_with_lifetime(spark, tmp_path):
    """Within one event day the daily quota IS the lifetime quota — the
    two modes must admit identical documents over the same batches."""
    b1 = [_dday(1, _EN[0], "a.site1.com", 1, 0),
          _dday(2, _EN[1], "b.site1.com", 1, 1),
          _dday(3, _EN[2], "c.site1.com", 1, 2)]
    b2 = [_dday(11, _EN[3], "d.site1.com", 1, 5),
          _dday(12, _EN[4], "e.site9.com", 1, 6)]
    land = tmp_path / "land_parity1d"
    _write_batch(land, "1.json", b1, mtime=1)
    _write_batch(land, "2.json", b2, mtime=2)
    daily = _run_v2(
        spark, land, tmp_path, "par_daily",
        min_margin=1, q_micro_min=1, domain_cap=2,
        quota_mode="daily", date_col="date",
    )
    life = _run_v2(
        spark, land, tmp_path, "par_life",
        min_margin=1, q_micro_min=1, domain_cap=2,
    )
    key = lambda r: (r.doc_id, r.domain, int(r["__batch"]))
    assert sorted(map(key, daily.collect())) == sorted(map(key, life.collect()))


def test_curate_stream_v2_daily_replay_is_idempotent(spark, tmp_path):
    """The daily path keeps the W5 discipline: a from-scratch rerun
    (checkpoint wiped, day-keyed state left on disk) reads only
    pre-batch state and overwrites its own partitions — identical
    output, no double-admission, and compaction folds the day-keyed
    domain counts correctly."""
    import shutil

    land = tmp_path / "land_dreplay"
    _write_batch(land, "1.json", [_dday(1, _EN[0], "a.site1.com", 1, 0)], mtime=1)
    _write_batch(
        land, "2.json",
        [_dday(11, _EN[1], "b.site1.com", 1, 5),   # day-1 site1.com at cap 1
         _dday(12, _EN[2], "c.site1.com", 2, 6)],  # day 2 admits
        mtime=2,
    )
    kw = dict(min_margin=1, q_micro_min=1, domain_cap=1,
              quota_mode="daily", date_col="date")
    out1 = _run_v2(spark, land, tmp_path, "dreplay", **kw)
    first = sorted((r.doc_id, int(r["__batch"])) for r in out1.collect())
    assert first == [(1, 0), (12, 1)]
    shutil.rmtree(str(tmp_path / "ckpt_dreplay"))
    out2 = _run_v2(spark, land, tmp_path, "dreplay", **kw)
    assert sorted((r.doc_id, int(r["__batch"])) for r in out2.collect()) == first
    counts = curation.compact_stream_state(spark, str(tmp_path / "state_dreplay"))
    assert counts["domains"] == 2  # (site1.com, d1) and (site1.com, d2)
    dom = spark.read.parquet(str(tmp_path / "state_dreplay" / "domains"))
    assert sorted((r.domain, str(r["__day"]), r.n) for r in dom.collect()) == [
        ("site1.com", "2023-03-01", 1), ("site1.com", "2023-03-02", 1)
    ]


def test_curate_stream_v2_daily_rejects_unparseable_dates(spark, tmp_path):
    """r12 review: a null/unparseable event date under quota_mode='daily'
    fails the batch loudly — a null __day would never match its stored
    (domain, __day) counts, so the domain would silently re-earn a fresh
    cap every micro-batch."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    land = tmp_path / "land_baddate"
    rows = [_dday(1, _EN[0], "a.site1.com", 1, 0)]
    rows[0]["date"] = "03/01/2023 not-a-date"
    _write_batch(land, "1.json", rows, mtime=1)
    with pytest.raises(StreamingQueryException, match="parseable event date"):
        _run_v2(
            spark, land, tmp_path, "baddate",
            min_margin=1, q_micro_min=1,
            quota_mode="daily", date_col="date",
        )


def test_compact_stream_state_delta_route(spark, tmp_path, monkeypatch):
    """VERDICT r12 item 7: when the state tables are Delta, compaction
    folds via ONE transactional partitioned overwrite + vacuum_auto —
    never the two-rename swap — and produces exactly the parquet route's
    content. Delta is faked (not installed here): the routing decision
    comes from the faked DeltaTable.isDeltaTable, and the two delta IO
    seams are patched to parquet equivalents that record the calls."""
    import sys
    import types

    from reddit_twitter_big_data_pipeline_spark.sinks import delta_adapter, writers

    def build(dirname):
        sd = tmp_path / dirname
        mk = lambda rows, schema: spark.createDataFrame(rows, schema)  # noqa: E731
        tables = {
            "fps": mk([("a",), ("b",)], "fp string"),
            "shingles": mk([(1, 10), (2, 20)], "id long, h long"),
            "bands": mk([(1, 0, 5)], "id long, band int, sig long"),
            "domains": mk([("x.com", 2), ("y.com", 1)], "domain string, n long"),
            "ids": mk([(7,)], "hi long"),
        }
        for b in (0, 1):
            for t, df in tables.items():
                writers.overwrite_partitions(
                    df.withColumn("__batch", F.lit(b)), str(sd / t), ["__batch"]
                )
        return str(sd)

    def read_all(sd):
        return {
            t: sorted(
                map(tuple, spark.read.parquet(f"{sd}/{t}").drop("__batch").collect())
            )
            for t in ("fps", "shingles", "bands", "domains", "ids")
        }

    # control: the parquet route
    sd_parquet = build("state_parquet")
    counts_parquet = curation.compact_stream_state(spark, sd_parquet)

    # delta route: fake the module, patch the IO seams, record vacuums
    sd_delta = build("state_delta")

    class _FakeDeltaTable:
        @classmethod
        def isDeltaTable(cls, spark, path):
            return path.startswith(sd_delta)  # only OUR tables are "Delta"

    pkg = types.ModuleType("delta")
    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = _FakeDeltaTable
    pkg.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", pkg)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)

    overwrites, vacuums = [], []
    monkeypatch.setattr(curation, "_delta_read", lambda s, p: s.read.parquet(p))

    def fake_overwrite(df, path):
        rows = df.collect()  # materialize before clobbering the input dir
        overwrites.append(path)
        spark.createDataFrame(rows, df.schema).write.mode("overwrite").partitionBy(
            "__batch"
        ).parquet(path)

    monkeypatch.setattr(curation, "_delta_overwrite", fake_overwrite)
    monkeypatch.setattr(
        delta_adapter, "vacuum_auto", lambda s, p, h: (vacuums.append((p, h)), -1)[1]
    )

    def no_swap(*a, **kw):
        raise AssertionError("two-rename swap must not run on the Delta route")

    monkeypatch.setattr(writers, "_swap_into_place", no_swap)

    counts_delta = curation.compact_stream_state(spark, sd_delta, retention_hours=24.0)

    assert counts_delta == counts_parquet
    assert read_all(sd_delta) == read_all(sd_parquet)
    # the domains fold re-aggregated (2 batches x 2 domains -> 2 rows)
    assert counts_delta["domains"] == 2 and counts_delta["ids"] == 1
    assert sorted(overwrites) == sorted(f"{sd_delta}/{t}" for t in curation._STATE_TABLES)
    assert sorted(vacuums) == sorted((f"{sd_delta}/{t}", 24.0) for t in curation._STATE_TABLES)
    # everything folded into the single pre-stream partition
    fps = spark.read.parquet(f"{sd_delta}/fps")
    assert {r["__batch"] for r in fps.select("__batch").distinct().collect()} == {-1}
