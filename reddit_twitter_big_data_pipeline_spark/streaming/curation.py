"""Streaming corpus curation — the batch curation builder's gate stack
applied to a document STREAM ("curate the crawl as it lands"), the
steady-state shape between whole-corpus curation
(`plans/training.py:curate`) and daily batch admission (`admit`). The
reference has no streaming at all (SURVEY §2.6 extension).

Stage map of `curate_stream` — the gates are the builder's single
definition:

1. row-local gates: `plans.training.web_gates` (confidence langid,
   broadcast blocklist anti-join, integer micro-unit quality) — pure
   column expressions and a stream-static join, streaming-safe as-is
   (the gate barriers are no-ops on a stream); every input column,
   the event-time one included, passes through;
2. exact dedup: watermark + `dropDuplicatesWithinWatermark` on the
   content fingerprint (`operators/text.py:fingerprint`) — state is one
   16-byte fp per surviving doc inside the horizon, expiring with the
   watermark;
3. per-domain quota: `domain_quota_admit`, a custom stateful operator
   (`applyInPandasWithState`) whose state is ONE LONG per domain (total
   admitted so far) — the streaming twin of `admit`'s remaining-quota
   ranking. Within a micro-batch rows admit in id order
   (the deterministic tiebreak); across batches, arrival order decides,
   which IS the streaming admission semantic.

`curate_stream_v2` instead runs `admit`'s stages per micro-batch against
stored corpus state (see its docstring).

State discipline (the 100-TB rules): quota state
is a single counter per domain — never buffered rows; dedup state is
watermark-bounded; handlers iterate Arrow batches.

Minimum Spark version: 3.5 (ADVICE r10). `curate_stream` chains
`dropDuplicatesWithinWatermark` (added in 3.5) into
`applyInPandasWithState` in one update-mode query; both the operator and
the multiple-stateful-operator combination are version-sensitive —
pinned-version tests pass here (4.x), but a downgrade or port below 3.5
fails analysis, and mid-3.x versions may reject the chaining. If you
must run older, split the stages across two queries joined by a sink.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.utils import AnalysisException

from .._serde import register_self
from ..operators import dedup as dedup_ops
from ..operators import text as text_ops
from ..plans.training import (
    _Cols,
    _admit_by_quota,
    _drop_near_dups,
    _gated,
    _novel,
    web_gates,
)
from ..sinks import writers
from ..sinks import delta_adapter

_QUOTA_STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def _admit_chunks(
    pdfs: Iterator[pd.DataFrame],
    take: int,
    id_col: str,
    drop_cols: list[str] | None = None,
):
    """The shared chunk-safe admission scan of both quota operators: keep
    a rolling buffer of the current best ≤ `take` rows (smallest
    `id_col`) across Arrow chunks — bounded by the cap, never by group
    size; per-chunk admission would depend on nondeterministic chunk
    boundaries (the r10 review fix, in ONE place so the two quota modes
    cannot diverge). Returns the admitted frame (None when empty);
    always drains the iterator."""
    best: pd.DataFrame | None = None
    if take > 0:
        for pdf in pdfs:
            cand = pdf if best is None else pd.concat([best, pdf])
            best = cand.sort_values(id_col).head(take)
    else:
        for _ in pdfs:  # drain; the group is at cap
            pass
    if best is not None and len(best) and drop_cols:
        best = best.drop(columns=drop_cols)
    return best if best is not None and len(best) else None


def domain_quota_admit(
    docs: DataFrame,
    cap: int,
    domain_col: str = "domain",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit at most `cap` documents per domain over the STREAM's lifetime,
    emitting admitted rows with their full input schema. State = one long
    per domain (admitted count). Within a micro-batch, the `cap − n`
    smallest `id_col` rows of the WHOLE group win (the exact-dedupe min-id
    convention) — the group arrives as multiple Arrow chunks, so the
    handler keeps a rolling buffer of the current best ≤ `cap − n` rows
    across chunks (bounded by the cap, never by group size) and emits
    once. Per-chunk admission would depend on chunk boundaries, which are
    not deterministic across retries/replays."""

    out_schema = docs.schema

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        best = _admit_chunks(pdfs, cap - n, id_col)
        if best is not None:
            n += len(best)
            yield best
        state.update((int(n),))

    return docs.groupBy(domain_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_QUOTA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def domain_quota_admit_daily(
    docs: DataFrame,
    cap: int,
    domain_col: str = "domain",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    delay: str = "1 day",
) -> DataFrame:
    """Admit at most `cap` documents per domain PER EVENT-TIME DAY — the
    rolling-quota twin of `domain_quota_admit` at the reference's daily
    cadence (the Glue jobs' one-partition-per-dataload-day rhythm,
    reference: terraform/main.tf:419-439, glue/reddit_glue.py:204-213).

    The reset is STRUCTURAL, not timer-driven: the group key is
    (domain, event-date), so each day gets a fresh counter and the
    admission semantics never depend on timer firing order. The
    EventTimeTimeout is pure garbage collection — once the watermark
    passes a day's end (+1 day of slack, covering any session-timezone
    offset from the UTC epoch arithmetic), that (domain, day) counter is
    removed, bounding state by domains × days inside the watermark
    horizon instead of growing forever. Rows later than the watermark
    are dropped by the engine before reaching the operator, so an
    expired counter can never be re-created by stragglers.

    Within a micro-batch the `cap − n` smallest `id_col` rows of the
    whole group win (chunk-safe, same contract as
    `domain_quota_admit`); across batches arrival order decides.
    `delay` is the watermark lateness bound applied to `ts_col`; pass
    None when the stream already carries a watermark (Spark disallows
    redefining one mid-plan — the `curate_stream` composition case)."""
    import datetime

    epoch = datetime.date(1970, 1, 1)
    out_schema = docs.schema

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        _domain, day = key
        n = state.get[0] if state.exists else 0
        best = _admit_chunks(pdfs, cap - n, id_col, drop_cols=["__day"])
        if best is not None:
            n += len(best)
            yield best
        state.update((int(n),))
        # GC timer: end of the event day + 1 day of timezone slack; must
        # exceed the current watermark or the engine rejects it
        day_end_ms = ((day - epoch).days + 2) * 86_400_000
        state.setTimeoutTimestamp(max(day_end_ms, state.getCurrentWatermarkMs() + 1))

    src = docs if delay is None else docs.withWatermark(ts_col, delay)
    return (
        src.withColumn("__day", F.to_date(ts_col))
        .groupBy(domain_col, "__day")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_QUOTA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def curate_stream(
    stream: DataFrame,
    blocked: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    blocked_col: str = "domain",
    ts_col: str = "ts",
    min_margin: int = 2,
    q_micro_min: int = 150_000,
    domain_cap: int = 20,
    dedup_delay: str = "1 hour",
    quota_mode: str = "lifetime",
) -> DataFrame:
    """The composed streaming curation pipeline: gates → fp-dedup within
    the watermark → per-domain quota. Returns admitted rows
    (id, text, url, ts, lang, domain). See the module docstring for the
    stage map; thresholds share the batch stack's defaults.

    `quota_mode`: "lifetime" (default) caps each domain once over the
    stream's life (`domain_quota_admit`); "daily" caps per event-time
    day (`domain_quota_admit_daily` — the reference's daily-batch
    cadence), with `dedup_delay` doubling as the quota day-keying (the watermark itself is set once, at the dedup stage)."""
    if quota_mode not in ("lifetime", "daily"):
        raise ValueError("curate_stream: quota_mode must be 'lifetime' or 'daily'")
    gated = _gated(
        stream.select(id_col, text_col, url_col, ts_col),
        web_gates(blocked, min_margin, q_micro_min, blocked_col),
        _Cols(id_col, text_col, url_col),
    )
    deduped = (
        gated.withColumn("__fp", text_ops.fingerprint(text_col))
        .withWatermark(ts_col, dedup_delay)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )
    if quota_mode == "daily":
        return domain_quota_admit_daily(
            deduped, domain_cap, domain_col="domain", id_col=id_col,
            ts_col=ts_col, delay=None,  # watermark already set by the dedup stage
        )
    return domain_quota_admit(deduped, domain_cap, domain_col="domain", id_col=id_col)


def _read_state(
    spark: SparkSession, path: str, schema: str, batch_id: int
) -> DataFrame:
    """Read one of curate_stream_v2's state tables as it stood BEFORE
    `batch_id`: partitions `__batch >= batch_id` are excluded (partition
    pruning makes the filter free), so a replayed batch sees exactly the
    state its first run saw — even if it crashed after some of its own
    state writes landed. A missing dir (first batch) reads as empty."""
    try:
        df = delta_adapter.read_table_auto(spark, path)
    except AnalysisException:
        return spark.createDataFrame([], schema)
    return df.filter(F.col("__batch") < F.lit(batch_id)).drop("__batch")


def _write_state_partition(df: DataFrame, path: str, cols: list[str]) -> None:
    """One per-batch partition write of a v2 state/output table, routed
    through the Delta adapter (VERDICT r12 item 7): with delta-spark
    installed, tables bootstrap as Delta and each batch lands as a
    transactional dynamic partition overwrite; otherwise the plain
    parquet dynamic overwrite (the pre-r13 behavior, byte-identical).
    `_read_state` reads through the same routing, so a replayed batch's
    `__batch < batch_id` filter prunes identically on both kinds."""
    delta_adapter.overwrite_partitions_auto(df, path, cols)


def _delta_read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.format("delta").load(path)


def _delta_overwrite(df: DataFrame, path: str) -> None:
    (
        df.write.format("delta")
        .mode("overwrite")
        .option("overwriteSchema", "true")
        .partitionBy("__batch")
        .save(path)
    )


def curate_stream_v2(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    blocked: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    blocked_col: str = "domain",
    min_margin: int = 2,
    q_micro_min: int = 150_000,
    domain_cap: int = 20,
    neardup_threshold: float = 0.9,
    num_perm: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    hash_fn: str = "xxhash64",
    quota_mode: str = "lifetime",
    date_col: str | None = None,
) -> StreamingQuery:
    """`admit` with the near-dup screen as a STREAM (VERDICT r10 item 5):
    each micro-batch runs the BATCH admission stages — row-local gates,
    within-batch exact dedupe, corpus exact-fp anti-join, incremental
    MinHash near-dup probe, per-domain remaining-quota ranking — against
    stored corpus state, then grows that state with what it admitted.
    One definition of the semantics (`plans/training.py`), two cadences.

    State under `state_dir` (all parquet, partitioned by `__batch`):
      fps/       (__fp)            admitted-content fingerprints
      shingles/  (id, h)           admitted docs' hashed shingles
      bands/     (id, band, bucket) admitted docs' LSH band table
      domains/   (domain, n)       per-batch admitted domain counts
      ids/       (hi)              per-batch max SEEN id (invariant log)
    Admitted rows land in `out_dir` as (doc_id, lang, domain, n_tokens),
    partitioned by `__batch`. Per-batch cost is proportional to the
    batch: the corpus contributes only its stored reductions — text is
    shingled exactly once, at admission (`minhash_corpus_state`'s
    stored-index thesis, `operators/dedup.py:656`).

    Replay idempotence (the W5 discipline): every write is a dynamic
    partition OVERWRITE at `__batch=batch_id`, and every state read
    filters `__batch < batch_id` — so a batch that crashed mid-write
    recomputes from exactly the pre-batch state and overwrites its own
    half-landed partitions. Ids must be globally increasing across
    batches (the incremental convention — pair b-sides are then always
    current-batch rows); event-source ids (snowflakes) satisfy this.

    That convention is ENFORCED per batch (ADVICE r11): each batch logs
    the max id of its gated-NOVEL rows — the rows that reach the probe;
    gate-rejected ids never enter state and are exempt — to the slim
    `ids/` state table (one row per batch, read cost ∝ #batches, never
    corpus-sized), and a batch whose min gated id is <= the stored max
    FAILS the streaming query loudly instead of silently admitting
    near-duplicates as pair a-sides. The min/max agg runs over the
    already-persisted novel frame, so it is the action that populates
    the cache the probe reuses — no extra source scan. Replay stays
    sound: the check reads `__batch < batch_id`, so a replayed batch
    compares against exactly its pre-batch high-water mark. String ids
    compare lexicographically — the zero-padded convention their
    validity already requires.

    Long-running streams accumulate one small file set per batch per
    state table; compact with `compact_stream_state` during a stopped
    maintenance window.

    `quota_mode` (VERDICT r11 item 6, unifying the two streaming
    pipelines): "lifetime" (default) caps each domain once over the
    stream's life; "daily" caps per (domain, EVENT-DAY) — `date_col`
    names the batch column carrying the event time (timestamp or
    date-castable string) and the stored domain counts gain a `__day`
    key, so a day's quota refills at the next event day exactly like
    `curate_stream`'s daily mode and `domain_quota_admit_daily`. Daily
    output rows additionally carry the `__day` column, and a
    null/unparseable event date fails the batch loudly (a null day
    would silently re-earn a fresh cap every batch). The mode is fixed
    per `state_dir` AND per `out_dir` (the domains table's schema and
    the output schema both differ); point a mode switch at fresh
    dirs for both."""
    rows_per_band = num_perm // bands
    cols = _Cols(id_col, text_col, url_col)
    gates = web_gates(blocked, min_margin, q_micro_min, blocked_col)
    if quota_mode not in ("lifetime", "daily"):
        raise ValueError("curate_stream_v2: quota_mode must be 'lifetime' or 'daily'")
    if quota_mode == "daily" and date_col is None:
        raise ValueError("curate_stream_v2: quota_mode='daily' requires date_col")

    def _admit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # empty-state fallback schemas must carry the STREAM's id type —
        # hardcoding long would make a string-id stream (still valid under
        # the globally-increasing convention, e.g. zero-padded ids) fail
        # its first-ever batch on an incompatible unionByName
        id_t = batch.schema[id_col].dataType.simpleString()
        fps = _read_state(
            spark, os.path.join(state_dir, "fps"), "__fp string", batch_id
        )
        ex_old = _read_state(
            spark, os.path.join(state_dir, "shingles"), f"id {id_t}, h long", batch_id
        )
        b_old = _read_state(
            spark,
            os.path.join(state_dir, "bands"),
            f"id {id_t}, band int, bucket long",
            batch_id,
        )
        if quota_mode == "daily":
            quota_keys = ("domain", "__day")
            have = (
                _read_state(
                    spark, os.path.join(state_dir, "domains"),
                    "domain string, __day date, n long", batch_id,
                )
                .groupBy("domain", "__day")
                .agg(F.sum("n").alias("__have"))
            )
        else:
            quota_keys = ("domain",)
            have = (
                _read_state(
                    spark, os.path.join(state_dir, "domains"), "domain string, n long",
                    batch_id,
                )
                .groupBy("domain")
                .agg(F.sum("n").alias("__have"))
            )
        novel = _novel(
            _gated(batch.select(id_col, text_col, url_col), gates, cols), fps, cols
        ).persist()
        # id-monotonicity invariant (ADVICE r11): the convention protects
        # the probe's b-side-is-batch-row labeling, so the rows that must
        # satisfy it are exactly the ones that REACH the probe — the
        # gated novel set (gate-rejected ids never enter state and are
        # exempt). Computing min/max over the PERSISTED novel frame
        # costs no extra source scan (the r12 review: a batch-frame agg
        # re-read the raw source once per batch) — this action is what
        # materializes the cache the probe reuses. The stored side is
        # the #batches-row ids log, a bounded scan.
        prev_hi = (
            _read_state(spark, os.path.join(state_dir, "ids"), f"hi {id_t}", batch_id)
            .agg(F.max("hi"))
            .first()[0]
        )
        batch_lo, batch_hi = novel.agg(F.min(id_col), F.max(id_col)).first()
        if prev_hi is not None and batch_lo is not None and batch_lo <= prev_hi:
            raise ValueError(
                f"curate_stream_v2: batch {batch_id} contains id "
                f"{batch_lo!r} <= the stored high-water mark {prev_hi!r} — "
                "ids must be globally increasing across batches (the "
                "incremental near-dup convention); a violating stream "
                "would silently admit near-duplicates."
            )
        # screened is consumed exactly once (by the quota ranking), so it
        # carries no cache; the quota output keeps `text` via keep_cols —
        # FREE, the text column already rides the quota window's shuffle
        # — so the admitted frame doubles as the admitted DOC set and the
        # old screened-join-admitted-ids re-join (plus its persist and
        # screened's) is gone. Interleaved A/B at sf0.1 vs the r11 body:
        # 0.993x min / 0.96x median, outputs identical
        # (tools/ab_increment_v2_writes.py) — landed for the structural
        # win: 3 persists instead of 4, one less batch-text cache copy.
        screened = _drop_near_dups(
            novel, None, cols, neardup_threshold, num_perm, shingle_k, bands,
            (ex_old, b_old),
        )
        if quota_mode == "daily":
            # thread the event day through (novel dropped it): one
            # batch-sized id->date join, the day becomes a quota key. A
            # null/unparseable event date fails LOUDLY (r12 review): the
            # have-counts join on (domain, __day) is null-UNSAFE, so a
            # null day would never match its accumulated counts and the
            # domain would silently re-earn a fresh cap every batch —
            # the exact silent-break class the other guards fail on.
            # try_cast (not to_date) so malformed strings reach THIS
            # guard's message instead of ANSI mode's cast exception —
            # one failure shape whether the input is null or garbage.
            # The guard is computed AFTER the join to screened (ADVICE
            # r12): validation covers exactly the rows that survive
            # gating + dedup — deterministically, because __day is a
            # quota key the admission window evaluates for every ranked
            # row — instead of an optimizer-dependent maybe-fire on rows
            # the join was about to prune anyway.
            day = F.col(date_col).try_cast("date")
            day_ok = F.when(
                day.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("curate_stream_v2: quota_mode='daily' requires a "
                              "parseable event date; got "),
                        F.coalesce(F.col(date_col).cast("string"), F.lit("NULL")),
                        F.lit(f" in column {date_col!r}"),
                    )
                ).cast("date"),
            ).otherwise(day)
            ranked = (
                screened.join(batch.select(F.col(id_col), F.col(date_col)), id_col)
                .withColumn("__day", day_ok)
                .drop(date_col)
            )
        else:
            ranked = screened
        adm_docs = _admit_by_quota(
            ranked, have, domain_cap, hash_fn, cols,
            quota_keys=quota_keys, keep_cols=(text_col,),
        ).persist()
        admitted = adm_docs.drop(text_col)

        bcol = F.lit(batch_id).alias("__batch")
        _write_state_partition(admitted.select("*", bcol), out_dir, ["__batch"])
        _write_state_partition(
            adm_docs.select(
                text_ops.fingerprint(text_col).alias("__fp")
            ).distinct().select("*", bcol),
            os.path.join(state_dir, "fps"),
            ["__batch"],
        )
        ex_inc = dedup_ops.hashed_shingles(
            adm_docs, id_col, text_col, shingle_k
        ).persist()
        _write_state_partition(
            ex_inc.select("*", bcol), os.path.join(state_dir, "shingles"), ["__batch"]
        )
        _write_state_partition(
            dedup_ops._band_frame(
                dedup_ops.minhash_signatures_from_hashes(ex_inc, num_perm),
                bands,
                rows_per_band,
            ).select("*", bcol),
            os.path.join(state_dir, "bands"),
            ["__batch"],
        )
        _write_state_partition(
            admitted.groupBy(*quota_keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .select("*", bcol),
            os.path.join(state_dir, "domains"),
            ["__batch"],
        )
        hi_rows = [] if batch_hi is None else [(batch_hi,)]  # all-gated-out batch
        _write_state_partition(
            spark.createDataFrame(hi_rows, f"hi {id_t}").select("*", bcol),
            os.path.join(state_dir, "ids"),
            ["__batch"],
        )
        for c in (novel, adm_docs, ex_inc):
            c.unpersist()

    writer = stream.writeStream.foreachBatch(_admit).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(availableNow=True).start()


_STATE_TABLES = ("fps", "shingles", "bands", "domains", "ids")


def _last_uncommitted_batch(spark: SparkSession, checkpoint: str) -> int | None:
    """The id of the last STARTED batch in a Structured Streaming
    checkpoint when it never committed, else None. A batch leaves a
    numeric file under `offsets/` when it starts and a matching file
    under `commits/` only when it completes — so max(offsets) without a
    commit means the stream stopped (or crashed) mid-batch and WILL
    replay that batch on restart. Non-numeric entries (`.tmp.crc`,
    compaction artifacts) are ignored, matching the engine's own log
    parsing."""

    def _ids(sub: str) -> set[int]:
        fs, p = writers._hadoop_fs(spark, os.path.join(checkpoint, sub))
        if not fs.exists(p):
            return set()
        out = set()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.isdigit():
                out.add(int(name))
        return out

    offsets = _ids("offsets")
    if not offsets:
        return None
    last = max(offsets)
    return None if last in _ids("commits") else last


def compact_stream_state(
    spark: SparkSession,
    state_dir: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    checkpoint: str | None = None,
    force: bool = False,
    retention_hours: float = 168.0,
) -> dict[str, int]:
    """Maintenance compaction for `curate_stream_v2`'s state tables: fold
    every per-batch partition into the single pre-stream partition
    `__batch=-1` (re-aggregating the domain counters), fixing the
    one-file-set-per-batch-per-table accumulation a long-running stream
    leaves behind. Returns per-table row counts after compaction.

    Run ONLY while the stream is stopped after a clean completion (every
    processed batch committed to the checkpoint): replay correctness
    relies on `__batch < batch_id` hiding a replayed batch's own writes,
    and compaction moves all history below every future batch id — which
    is correct precisely when no committed batch can replay. The next
    batch continues from the checkpoint's id sequence, landing new
    partitions above −1 as before.

    Pass the stream's `checkpoint` to ENFORCE that precondition (VERDICT
    r11 item 3): when the checkpoint's last started batch (max id under
    `offsets/`) has no matching `commits/` entry, that batch WILL replay
    on restart — and compaction would fold its pre-batch state below it,
    so the replay would see its own first run's writes. The call then
    raises instead of compacting; `force=True` overrides for operators
    who know the stream is being abandoned. Without `checkpoint` the
    caller is trusted (the pre-r12 contract, kept for state dirs whose
    checkpoint is unavailable to the maintenance job).

    Crash safety: each table is rewritten to a staging dir and swapped
    into place with the two-rename swap (`sinks.writers`), healed by
    `recover_interrupted_swap` on the next access; a crash between
    tables leaves some compacted and some not — identical CONTENT either
    way, so readers are unaffected.

    Delta-backed state tables (bootstrapped by `_write_state_partition`
    when delta-spark is installed — VERDICT r12 item 7) take the Delta
    route instead: the fold lands as ONE transactional partitioned
    overwrite (no staging/swap — readers keep the old snapshot until the
    commit), then `vacuum_auto(retention_hours)` GCs the superseded
    files past Delta's retention floor. The replay precondition is the
    same on both routes; only the crash-safety mechanism differs."""
    if checkpoint is not None and not force:
        pending = _last_uncommitted_batch(spark, checkpoint)
        if pending is not None:
            raise RuntimeError(
                f"compact_stream_state: batch {pending} started but never "
                f"committed in {checkpoint!r} — it will replay on restart and "
                "must see its pre-batch state, which compaction would fold "
                "away. Restart the stream to completion first (or pass "
                "force=True to compact anyway, abandoning the checkpoint)."
            )
    counts: dict[str, int] = {}
    for name in _STATE_TABLES:
        path = os.path.join(state_dir, name)
        route, _, _ = delta_adapter._route(spark, path)
        if route != "delta":
            writers.recover_interrupted_swap(spark, path)
        try:
            df = _delta_read(spark, path) if route == "delta" else spark.read.parquet(path)
        except AnalysisException:
            continue
        folded = df.drop("__batch")
        if name == "domains":
            # group by every non-count column so both quota modes fold
            # correctly: (domain) for lifetime, (domain, __day) for daily
            gk = [c for c in folded.columns if c != "n"]
            folded = folded.groupBy(*gk).agg(F.sum("n").alias("n"))
        elif name == "ids":  # the invariant log folds to its running max
            folded = folded.agg(F.max("hi").alias("hi"))
        # Size the fold from the LIVE snapshot's files, not the raw dir:
        # on the Delta route getContentSummary counts _delta_log plus
        # every superseded pre-vacuum file (vacuum runs AFTER this and
        # keeps most of them under the retention floor anyway), so a
        # long-running stream's dir is ~N× its live data and the fold
        # would re-emit ~N× too many files — the accumulation this
        # compaction exists to fix. `df.inputFiles()` is the snapshot's
        # file list on both routes (plain parquet listing = live files).
        fs, _ = writers._hadoop_fs(spark, path)
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        size = sum(fs.getFileStatus(jvm_path(f)).getLen() for f in df.inputFiles())
        n_files = max(1, int((size + target_file_bytes - 1) // target_file_bytes))
        compacted = folded.repartition(n_files).withColumn("__batch", F.lit(-1))
        if route == "delta":
            # transactional fold: Delta's snapshot isolation lets the
            # plan read the table it replaces; superseded files GC via
            # VACUUM once past the retention floor
            _delta_overwrite(compacted, path)
            delta_adapter.vacuum_auto(spark, path, retention_hours)
            counts[name] = _delta_read(spark, path).count()
            continue
        staging = path + ".__staging__"
        compacted.write.mode("overwrite").partitionBy("__batch").parquet(staging)
        writers._swap_into_place(spark, path, staging)
        counts[name] = spark.read.parquet(path).count()
    return counts


register_self(__name__)
