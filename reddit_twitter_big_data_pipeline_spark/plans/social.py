"""End-to-end social pipelines — SURVEY §3.4's target lifecycle as single
Catalyst plans: cleanse (F1-F6) → enrich (U1-U3) → graph model (A1-A5).

The reference runs this lifecycle as collect-then-compute driver loops
(reference: glue/twitter_glue.py:150-186, glue/reddit_glue.py:199-280); here
each pipeline is one lazy DataFrame composition — no collect anywhere, so the
same code distributes across 1000 executors unchanged.

`tweets_from_events` derives a deterministic tweets-shaped frame from the
driver's synthetic `events` table (TESTDATA.md) so the flagship pipeline is
runnable — and DuckDB-oracle-checkable — on the provisioned testdata without
any scraper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import checkpointing
from ..functions import enrich
from ..operators import cleanse
from . import graph


def tweets_from_events(events: DataFrame) -> DataFrame:
    """Map the synthetic `events` table onto the tweets schema (FIXTURES §1).

    Deterministic, SQL-expressible column derivations (mirrored verbatim in
    the DuckDB oracle in ``__spark_entry__.py``):
      id             = event_id
      date           = ts formatted 'yyyy-MM-dd HH:mm:ss'
      content        = 'event ' || event_type || ' ' || props
      username       = 'u' || user_id
      followersCount = floor(value)
      mentionedUsers = for click/view events: 'u<uid+1>,u<uid+7>' else NULL
      inReplyToUser  = for error events: 'u<uid+3>' else NULL
      timeStamp      = ts truncated to the 15-minute micro-batch
    """
    uid = F.col("user_id")
    return events.select(
        F.col("event_id").alias("id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("date"),
        F.concat(F.lit("event "), F.col("event_type"), F.lit(" "), F.col("props")).alias(
            "content"
        ),
        F.concat(F.lit("u"), uid).alias("username"),
        F.floor("value").cast("int").alias("followersCount"),
        F.when(
            F.col("event_type").isin("click", "view"),
            F.concat(F.lit("u"), uid + 1, F.lit(",u"), uid + 7),
        ).alias("mentionedUsers"),
        F.col("value").cast("int").alias("retweetCount"),
        (F.col("event_id") % 5).cast("int").alias("replyCount"),
        F.when(F.col("event_type") == "error", F.concat(F.lit("u"), uid + 3)).alias(
            "inReplyToUser"
        ),
        F.date_format(
            (F.floor(F.unix_timestamp("ts") / 900) * 900).cast("timestamp"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("timeStamp"),
    )


def twitter_pipeline(
    tweets_raw: DataFrame,
    blocklist: list[str] | None = None,
    enrichment: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The flagship path (SURVEY §3.1), distributed end-to-end.

    cleanse: sentinel scrub (F3) → length guard (F5) → blocklist (F6) →
    mentions parse (T1) — then enrich (U1-U3; Column expressions with the
    default backends) — then graph model (K5/K6: one inline emitter and one
    dedupe per output). Returns (nodes, edges).

    The graph reads the cleansed tweets twice (nodes and edges), and a
    commit runs several actions over each output, so the tweets are staged
    (`checkpointing.stage`) before the graph: the scan and the enrichment
    run once per commit, not once per output and action.
    """
    df = cleanse.scrub_sentinels(tweets_raw)
    df = cleanse.filter_length(df, ["content"], 1000)
    if blocklist:
        df = cleanse.filter_blocklist(df, ["content"], blocklist)
    df = cleanse.parse_mentions(df)
    if enrichment:
        df = enrich.enrich(df)
    return graph.twitter_graph(checkpointing.stage(df))


def reddit_pipeline(
    posts_raw: DataFrame,
    comments_raw: DataFrame,
    blocklist: list[str] | None = None,
    enrichment: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """SURVEY §3.2's daily reddit job as one plan per output table.

    Unlike the reference, comments are scrubbed/enriched with their OWN
    values (the reference leaks the last post's enrichment into every
    comment — reference: glue/reddit_glue.py:122-124, documented bug).
    Posts and comments are each staged before the graph, as in
    `twitter_pipeline`.
    """

    def _cleanse(df: DataFrame) -> DataFrame:
        out = cleanse.scrub_empty(df, ["content", "username"])
        out = cleanse.scrub_sentinels(out)
        out = cleanse.filter_bots(out)
        out = cleanse.filter_length(out, ["content"], 1000)
        if blocklist:
            out = cleanse.filter_blocklist(out, ["content"], blocklist)
        return out

    posts = _cleanse(posts_raw)
    comments = _cleanse(comments_raw)
    if enrichment:
        posts = enrich.enrich(posts)
        comments = enrich.enrich(comments)
    return graph.reddit_graph(checkpointing.stage(posts), checkpointing.stage(comments))
