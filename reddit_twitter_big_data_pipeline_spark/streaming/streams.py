"""Structured Streaming layer — SURVEY §2.6 (W1-W5) + W6 extensions.

The reference's "streaming" is cron wiring: EventBridge fires scraper
Lambdas every 15 minutes (reference: terraform/main.tf:200-205), daily Glue
jobs consume yesterday's Hive partition (reference: glue/reddit_glue.py:60),
Glue job bookmarks provide incremental exactly-once progress (reference:
terraform/main.tf:374,402), and a deliberate 2-3-day re-crawl refreshes
settled Reddit scores (reference: reddit/lambda_function_aggregate.py:38,59-71).

This module holds the 15-minute refresh path — file-source ingest, then a
checkpointed `foreachBatch` sink. Where each semantic lives:

  W1  micro-batch trigger      → `read_json_stream` / `read_parquet_stream`
                                 (+ maxFilesPerTrigger); every sink below
                                 runs under the availableNow trigger: replay
                                 all new input, then stop
  W2  15-min tumbling window   → the registered batch query
                                 `w2_tumbling_window`
  W3  daily boundary/watermark → the registered batch query
                                 `w3_daily_batches`, keyed on
                                 `cleanse.dataload_label`
  W4  3-day late refresh       → `upsert_stream` (Delta MERGE INTO when
                                 delta-spark is importable,
                                 writers.merge_upsert otherwise),
                                 `upsert_stream_manifested` for the
                                 manifest-committed store, `graph_stream` for
                                 the graph store
  W5  exactly-once bookmarks   → checkpointLocation (file-source offsets log)
                                 of the W4 sinks
  W6  sessionization (absent   → the registered batch query `w6_sessionize`
      in reference)              (`session_window`); the lag/gap form is
                                 `analytics.sessionize_batch`

Stream-side windowing and dedupe are Spark built-ins, called directly on
the stream: `withWatermark` + `window` / `session_window` for W2/W3/W6, and
`dropDuplicatesWithinWatermark` for replayed scrapes.

At 100 TB the same topology holds: the file source lists only NEW files per
micro-batch (offset log keeps listing incremental), and `foreachBatch`
turns each micro-batch into a bounded MERGE whose shuffle is keyed on the
upsert keys. Nothing buffers the stream on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


# ---------------------------------------------------------------- W4 / W5

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
