"""Structured Streaming layer — SURVEY §2.6 (W1-W5) + W6 extensions.

The reference's "streaming" is cron wiring: EventBridge fires scraper
Lambdas every 15 minutes (reference: terraform/main.tf:200-205), daily Glue
jobs consume yesterday's Hive partition (reference: glue/reddit_glue.py:60),
Glue job bookmarks provide incremental exactly-once progress (reference:
terraform/main.tf:374,402), and a deliberate 2-3-day re-crawl refreshes
settled Reddit scores (reference: reddit/lambda_function_aggregate.py:38,59-71).

Here the same semantics are first-class Structured Streaming:

  W1  micro-batch trigger      → file-source `readStream` (+ maxFilesPerTrigger);
                                 every sink below runs under the availableNow
                                 trigger: replay all new input, then stop
  W2  15-min tumbling window   → `windowed_counts`: `window(ts, "15 minutes")`
                                 + watermark (batch form: the registered
                                 `w2_tumbling_window` query)
  W3  daily boundary/watermark → `windowed_counts(window="1 day")` + 1-hour
                                 watermark (batch form: `w3_daily_batches`,
                                 keyed on `cleanse.dataload_label`)
  W4  3-day late refresh       → `foreachBatch` → delta_adapter.merge_upsert_auto
                                 (Delta MERGE INTO when delta-spark is
                                 importable, writers.merge_upsert otherwise);
                                 `upsert_stream_manifested` for the
                                 manifest-committed store
  W5  exactly-once bookmarks   → checkpointLocation (file-source offsets log)
  W6  sessionization (absent   → `sessionized_counts` over `session_window`
      in reference)              (batch form: `w6_sessionize`); stream dedup
                                 via `dedupe_stream`

At 100 TB the same topology holds: the file source lists only NEW files per
micro-batch (offset log keeps listing incremental), state for windowed aggs
is bounded by the watermark (state-store rows expire once the watermark
passes the window end), and `foreachBatch` turns each micro-batch into a
bounded MERGE whose shuffle is keyed on the upsert keys. Nothing buffers the
stream on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .. import checkpointing
from ..sinks import delta_adapter, writers


# --------------------------------------------------------------------- W1

def read_json_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
    multi_line: bool = True,
) -> DataFrame:
    """W1: micro-batch file-source ingest over the reference's landing layout
    (JSON-array files under topic=…/dataload=… — reference:
    twitter/lambda_function.py:26,42-43). Schema is EXPLICIT (never inferred
    on a stream); partition dirs surface as columns automatically when the
    glob keeps them. `maxFilesPerTrigger` bounds micro-batch size the way the
    15-minute cron bounded scrape volume."""
    reader = (
        spark.readStream.schema(schema)
        .option("multiLine", "true" if multi_line else "false")
        .option("recursiveFileLookup", "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def read_parquet_stream(
    spark: SparkSession, path: str, schema: StructType, max_files_per_trigger: int | None = None
) -> DataFrame:
    """W1 (engine-native storage): same micro-batch semantics over parquet."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


# ---------------------------------------------------------------- W2 / W3

def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "15 minutes",
    watermark: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """W2/W3: tumbling event-time window with late-data watermark.

    The reference's 15-minute scrape window (reference:
    twitter/lambda_function.py:28-29) and its 1-hour crawler→job settle
    allowance (reference: terraform/main.tf:312,423 — crawl 00:00, job 01:00)
    become a real watermark: rows later than `watermark` are dropped and the
    window's state is reclaimed. Output columns: window_start, window_end,
    group keys, n.
    """
    keys = keys or []
    win = F.window(F.col(ts_col), window)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win, *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def sessionized_counts(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """W6: session windows (gap-based) — absent in the reference, free in
    Spark. State per (key, open session), closed when the watermark passes
    session end + gap."""
    keys = keys or []
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n",
        )
    )


def dedupe_stream(
    df: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key, dropping any
    replay that lands within the watermark horizon — the streaming form of
    A2/exact_dedupe (the batch twin is sinks.writers.dedupe_last_writer).
    The reference re-scrapes overlapping 15-minute windows (reference:
    twitter/lambda_function.py:27-29 queries `since:` the last window), so
    the same tweet arrives in consecutive micro-batches; this drops the
    re-arrivals inside the stream instead of relying on the sink MERGE to
    absorb them.

    Scale shape: `dropDuplicatesWithinWatermark` keeps one state entry per
    key seen within `watermark` — state is BOUNDED by the duplicate-arrival
    horizon (a couple of scrape windows), not by stream history, which is
    what makes per-key dedup state viable on an unbounded stream. Compose
    before windowed aggregation or upsert_stream."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "15 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with BOUNDED state: rows match when their
    event times are within `max_delay` of each other (|left_ts - right_ts|
    ≤ max_delay). Both sides carry watermarks and the join condition carries
    the time bound, so the state store holds only `watermark + max_delay`
    of each stream — without the bound, a stream-stream join must buffer
    BOTH streams forever (Spark rejects it in append mode for this reason).

    The reference's analogue is temporal co-occurrence of a post and its
    enrichment/refresh event inside one scrape window (the 15-min cadence,
    reference: terraform/main.tf cron; hence the default). `right_ts` is
    auto-renamed `right_<name>` on collision so the output is unambiguous
    (same contract as operators.temporal.as_of_join, which is the BATCH
    as-of twin of this operator).

    `how`: 'inner' (matched pairs only) or 'left_outer' (additionally emit
    a left row with nulled right columns once the GLOBAL watermark proves
    no match can still arrive — see `stream_stream_left_join`)."""
    if how not in ("inner", "left_outer"):
        raise ValueError("stream_stream_join supports how='inner'|'left_outer' only")
    if right_ts == left_ts:
        new_right_ts = f"right_{right_ts}"
        right = right.withColumnRenamed(right_ts, new_right_ts)
        right_ts = new_right_ts
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    key_cond = [l_wm[k] == r_wm[k] for k in keys]
    # qualified refs: an unqualified F.col(left_ts) is ambiguous whenever the
    # right stream happens to carry a column with the left timestamp's name
    delay = F.expr(f"INTERVAL {max_delay}")
    time_cond = [
        r_wm[right_ts] >= l_wm[left_ts] - delay,
        r_wm[right_ts] <= l_wm[left_ts] + delay,
    ]
    joined = l_wm.join(
        r_wm, [c for conds in (key_cond, time_cond) for c in conds], how
    )
    # drop the duplicate key columns from the right side
    return joined.drop(*[r_wm[k] for k in keys])


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with bounded state: matched rows emit
    as they pair; an UNMATCHED left row emits with nulled right columns
    only once the watermark proves no match can still arrive (left_ts +
    max_delay < watermark). The missing-enrichment detector the inner
    variant can't express — e.g. a post whose sentiment/refresh event
    never landed inside the scrape window surfaces as (post, null) instead
    of vanishing.

    Same state bound as `stream_stream_join` (this is literally that
    operator with how='left_outer'), plus the outer-side buffer the engine
    holds until the watermark passes — still `watermark + max_delay` of
    stream, never unbounded. Spark requires BOTH the watermark and the
    time bound for outer stream joins; the shared wrapper exists so
    callers can't forget one and ship a plan that buffers a stream
    forever (the engine rejects it only at start)."""
    return stream_stream_join(
        left, right, keys, left_ts, right_ts, max_delay, watermark, how="left_outer"
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream against a BATCH dimension table
    (the streaming form of A3's FK join — each micro-batch joins the
    current dim snapshot; no state store involved, because the static side
    is re-read per batch). The planner broadcasts the dim when small —
    at scale this is the stream-side analogue of the social pipelines'
    dim enrichment. `how` is 'left' (keep unmatched stream rows) or
    'inner' (drop them); stream-side rows never buffer."""
    if how not in ("left", "inner"):
        raise ValueError("stream-static join supports how='left'|'inner' only")
    return stream.join(dim, keys, how)


# ---------------------------------------------------------------- W4 / W5

def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    partition_by: list[str] | None = None,
) -> StreamingQuery:
    """W5: checkpointed sink — the offset log + sink commit log give the
    exactly-once progress the reference got from Glue job bookmarks
    (reference: terraform/main.tf:374,402; glue/reddit_glue.py:282
    `job.commit()`). Like every sink in this module it runs under the
    availableNow trigger, "process everything new, then stop": the direct
    analog of one nightly Glue run."""
    writer = df.writeStream.format(fmt).option("checkpointLocation", checkpoint).outputMode(
        output_mode
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.trigger(availableNow=True).start(path)


def upsert_stream(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str | None = None,
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """W4: late-data refresh as a streaming MERGE. Each micro-batch upserts
    into the target keyed on `keys` (last-writer-wins on `order_col`) — the
    reference's T+2/T+3-day re-crawl of Reddit scores (reference:
    reddit/lambda_function_aggregate.py:38,59-71) replayed through
    `foreachBatch`. Checkpointing makes the refresh itself exactly-once;
    merge_upsert makes it idempotent even on replay.

    With `partition_cols` set, each micro-batch uses the partition-scoped
    merge: only the partitions a batch's keys live in are rewritten, so a
    steady stream of small late updates costs O(touched partitions) per
    batch instead of one full-table rewrite per batch — the difference
    between a viable and a pathological continuous refresh at 100 TB.

    Each batch merges through the `*_auto` Delta adapter (VERDICT r12
    item 2): a Delta-enabled deployment gets a real transactional
    `MERGE INTO` per micro-batch (with partition keys in the match
    condition when `partition_cols` is set, so Delta prunes the rewrite
    to touched partitions); without delta-spark the adapter falls back
    to the exact `writers.merge_upsert[_partitioned]` calls this
    function made before — replay-idempotence is unchanged on both
    routes (keyed last-writer-wins merges are idempotent under
    re-execution of the same batch)."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if partition_cols:
            delta_adapter.merge_upsert_partitioned_auto(
                batch.sparkSession, target_path, batch, keys, partition_cols, order_col
            )
        else:
            delta_adapter.merge_upsert_auto(
                batch.sparkSession, target_path, batch, keys, order_col
            )

    writer = df.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def upsert_stream_manifested(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    keys: list[str],
    partition_cols: list[str],
    order_col: str | None = None,
) -> StreamingQuery:
    """W4 against the MANIFEST-COMMITTED store: each micro-batch merges via
    `merge_upsert_manifested_retrying`, composing the streaming layer with
    the reader-safe snapshot store — a polling reader concurrent with the
    stream (via `read_manifested`) only ever observes complete committed
    snapshots, and an external batch writer racing a micro-batch resolves
    through OCC (the micro-batch retries on `ConcurrentWriteError` against
    the new snapshot, as often as the retrying merge's default allows).
    Exactly-once end-to-end: the checkpoint commits each batch's offsets
    once, and a crash-replayed batch re-merges the same keyed rows into the
    same snapshot state (keyed last-writer-wins is idempotent under
    replay)."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # the merge reads the batch once and commits nothing for an empty one
        writers.merge_upsert_manifested_retrying(
            batch.sparkSession, target_path, batch, keys, partition_cols, order_col
        )

    writer = df.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def kmv_stream(
    df: DataFrame,
    value_col: str,
    target_path: str,
    checkpoint: str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> StreamingQuery:
    """Streaming distinct-count maintenance via the KMV sketch
    (operators/sketches.py): each micro-batch sketches only ITS rows —
    per-batch cost ∝ batch size — and folds into the stored sketch with
    `kmv_merge`, so the at-rest state stays ≤ k rows per group while
    `kmv_estimate` over the stored frame answers "distinct users per day
    so far" at any moment. An exact streaming distinct would keep state
    proportional to the user universe; this keeps a fixed-size summary.

    Exactly-once is BELT AND SUSPENDERS here: the checkpoint dedupes
    batches, and even a replayed batch is harmless because kmv_merge has
    set semantics (union + re-take the k smallest is idempotent) — the
    same property that makes the fold commutative across out-of-order
    batches. The stored sketch is replaced via the atomic
    staging-then-swap writer, so readers never see a torn state."""
    from ..operators import sketches

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        sk = sketches.kmv_build(batch, value_col, group_cols=group_cols, k=k)
        # heal a crash between the previous fold's two swap renames BEFORE
        # probing for the table, or a recoverable state would be misread as
        # "no sketch yet" and silently restart the count
        writers.recover_interrupted_swap(spark, target_path)
        fs, tgt = writers._hadoop_fs(spark, target_path)
        # "first batch" is decided by the path, never by a failed read: an
        # unreadable sketch must raise, not be replaced by this batch's own
        if fs.exists(tgt):
            existing = spark.read.parquet(target_path)
            merged = sketches.kmv_merge(existing, sk, k=k, group_cols=group_cols)
        else:
            merged = sk
        # staging-then-swap keeps the old files intact until the swap, so
        # reading target_path inside the plan that replaces it is safe
        writers.replace_table(spark, target_path, merged)

    writer = df.writeStream.foreachBatch(_fold).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def rollup_stream(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    group_keys: list[str],
    sum_cols: list[str],
    partition_cols: list[str],
) -> StreamingQuery:
    """Continuous aggregate (the W2/W3 rollup, maintained incrementally):
    each micro-batch reduces to partial sums by `group_keys` and folds into
    the stored rollup via `merge_aggregate_partitioned` — only the
    partitions the batch touches are rewritten, so maintaining a year-long
    daily rollup costs O(today), not O(history), per batch. The incremental
    form of the reference's recompute-the-day T+1 Glue aggregation
    (terraform/main.tf:423,433).

    `sum_cols` must be additive (pre-create a `lit(1)` column upstream for
    counts; avg = sum/count downstream). Replay safety: the fold is NOT
    idempotent, so a `.__last_batch__` marker records the highest folded
    batch id and replayed batches skip — the remaining double-fold window
    is a crash between the partition swap and the marker write (the same
    gap a non-transactional table format leaves any incremental system;
    Delta/Iceberg close it with a transactional commit)."""

    def _incarnation(spark) -> str:
        """A uuid minted once per CHECKPOINT lifetime (stored inside the
        checkpoint dir, so deleting the checkpoint mints a new one). Batch
        ids restart at 0 for a fresh checkpoint; comparing them against a
        marker left by a previous incarnation would silently DROP every
        initial batch as a 'replay'. The marker is only trusted when its
        incarnation matches — a reprocessing run folds everything (pair it
        with a fresh target, as any non-idempotent fold requires)."""
        import uuid

        fs, inc_path = writers._hadoop_fs(spark, checkpoint + "/__rollup_incarnation__")
        if fs.exists(inc_path):
            return writers._read_bytes(fs, spark._jvm, inc_path).decode("ascii")
        inc = uuid.uuid4().hex
        out = fs.create(inc_path, True)
        out.write(inc.encode("ascii"))
        out.close()
        return inc

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        inc = _incarnation(spark)
        fs, marker = writers._hadoop_fs(spark, target_path + ".__last_batch__")
        if fs.exists(marker):
            data = writers._read_bytes(fs, spark._jvm, marker).decode("ascii")
            m_inc, _, m_id = data.rpartition(":")
            if m_inc == inc and batch_id <= int(m_id):
                return  # replayed batch of THIS incarnation: already folded
        partial = batch.groupBy(*group_keys).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        writers.merge_aggregate_partitioned(
            spark, target_path, partial, group_keys, sum_cols, partition_cols
        )
        tmp = target_path + ".__last_batch_tmp__"
        fs2, tmp_path = writers._hadoop_fs(spark, tmp)
        out = fs2.create(tmp_path, True)
        out.write(f"{inc}:{batch_id}".encode("ascii"))
        out.close()
        if fs2.exists(marker):
            fs2.delete(marker, False)
        fs2.rename(tmp_path, marker)

    writer = df.writeStream.foreachBatch(_fold).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def graph_stream(
    tweets: DataFrame,
    transport_factory,
    checkpoint: str,
) -> StreamingQuery:
    """The reference's full topology as ONE streaming pipeline: scraped
    tweets stream in, each micro-batch derives the nodes/edges model and
    upserts it through the batched graph sink (reference: the
    EventBridge→Lambda→Glue→Neo4j chain, terraform/main.tf:200-205 +
    neo4j_insert/neo4j_twitter_insert.py:60-82, collapsed into
    readStream→foreachBatch).

    Exactly-once composition: the checkpoint makes each micro-batch
    processed once; the sink's MERGE statements make a replayed batch (task
    retry, crash between checkpoint and sink) converge instead of
    duplicating — the same idempotency argument as upsert_stream, applied
    to an external store."""
    from ..plans.graph import twitter_graph
    from ..sinks.graph_sink import write_graph

    def _serve(batch: DataFrame, batch_id: int) -> None:
        # twitter_graph reads the batch twice (nodes and edges) and the sink
        # runs two actions — stage it once or each re-reads the micro-batch's
        # source files
        batch = checkpointing.stage(batch)
        if batch.isEmpty():
            return
        nodes, edges = twitter_graph(batch)
        write_graph(nodes, edges, transport_factory)

    writer = tweets.writeStream.foreachBatch(_serve).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(availableNow=True).start()


def run_to_completion(query: StreamingQuery, timeout_s: int = 300) -> None:
    """Await an availableNow query; surface its exception if it failed."""
    query.awaitTermination(timeout_s)
    if query.isActive:
        query.stop()
        raise TimeoutError(f"stream {query.name or query.id} still active after {timeout_s}s")
    if query.exception() is not None:
        raise query.exception()
