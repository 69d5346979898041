"""The benchmark's workloads: each drives the engine through its public
functions, one unit of work at a time, and checks every unit's output.

A workload object loads its DuckDB reference when built, before the
session starts (``oracle.ensure_reference`` computes it in a child process
on first use); ``setup(spark)`` registers its inputs with the session,
``unit(i)`` does one unit of work and returns a handle, and
``check(i, handle)`` compares the unit's output with the DuckDB reference.
Only ``unit`` is timed.
"""

from __future__ import annotations

import os
import shutil

import gen
import oracle

from reddit_twitter_big_data_pipeline_spark import schemas
from reddit_twitter_big_data_pipeline_spark.operators import model
from reddit_twitter_big_data_pipeline_spark.plans import social
from reddit_twitter_big_data_pipeline_spark.sinks import writers
from reddit_twitter_big_data_pipeline_spark.sources import readers
from reddit_twitter_big_data_pipeline_spark.streaming import streams
from pyspark.sql import functions as F
from pyspark.sql import types as T


class DailyBatch:
    """Yesterday's tweets, posts and comments → cleanse → enrich → graph →
    one manifested upsert per standing table (nodes, edges).

    Every unit re-runs the same day's job against the standing tables:
    the first creates them, later units are idempotent re-runs that
    rewrite every touched partition, so every unit's output is the same
    and one reference checks them all. The check compares every node's
    props (so the enrichment columns are checked too) and the edge table."""

    name = "daily_batch"
    # The campaign budget (a run may average ~70 s) allows one cold unit
    # and two timed ones at 13-19 s each; the cold unit is the warm-up.
    warmup_units = 0
    min_timed_units = 2
    units = None  # every unit re-runs the same day: inputs never run out

    def __init__(self, inputs: str, workdir: str):
        self.root = os.path.join(inputs, "social")
        self.out = workdir
        self.expected = oracle.ensure_reference(inputs, self.name)
        self.input_rows = self.expected["input_rows"]

    def _sources(self):
        read = readers.read_partitioned_json
        return (read(self.spark, self.root + "/tweets", schemas.TWEETS, dataload=gen.DAY),
                read(self.spark, self.root + "/reddit_posts", schemas.REDDIT_POSTS,
                     dataload=gen.DAY),
                read(self.spark, self.root + "/reddit_comments", schemas.REDDIT_COMMENTS,
                     dataload=gen.DAY))

    def setup(self, spark) -> None:
        self.spark = spark
        self._sources()  # resolves schemas and lists the partitions

    def unit(self, i: int):
        tweets, posts, comments = self._sources()
        tn, te = social.twitter_pipeline(tweets, gen.BLOCKLIST)
        rn, re_ = social.reddit_pipeline(posts, comments, gen.BLOCKLIST)
        nodes = writers.merge_upsert_manifested(
            self.spark, self.out + "/nodes", model.union_sources(tn, rn),
            oracle.NODE_KEYS, ["label"])
        edges = writers.merge_upsert_manifested(
            self.spark, self.out + "/edges", model.union_sources(te, re_),
            oracle.EDGE_KEYS, ["rel_type"])
        return nodes, edges

    def check(self, i: int, handle) -> bool:
        nodes, edges = handle
        props = oracle.spark_props_fingerprint(nodes, self.expected["rescraped"])
        return (list(props) == self.expected["props"]
                and list(oracle.spark_fingerprint(edges, oracle.EDGE_KEYS))
                == self.expected["edges"])


_STREAM_EXTRA = [T.StructField("topic", T.StringType()),
                 T.StructField("dataload", T.StringType())]
POSTS_STREAM = T.StructType(list(schemas.REDDIT_POSTS.fields) + _STREAM_EXTRA
                            + [T.StructField("fetched", T.LongType())])
TWEETS_STREAM = T.StructType(list(schemas.TWEETS.fields) + _STREAM_EXTRA)


class StreamRefresh:
    """A closed loop of ticks. Each tick lands one file of new tweets and
    one file of Reddit score re-fetches, merges each through an
    ``availableNow`` manifested upsert stream, then reads both tables back
    (top-N posts by score, tweet count); the next tick lands only after
    that. A unit's wall time is the refresh latency: from the files
    landing until the merged snapshot has been read. Tick 0 lands the
    three days of post history."""

    name = "stream_refresh"
    warmup_units = 4  # after the cold unit
    min_timed_units = 3
    units = gen.TICKS["count"] + 1  # ticks 0..count, then the inputs run out

    def __init__(self, inputs: str, workdir: str):
        self.ticks = os.path.join(inputs, "ticks")
        self.out = workdir
        self.landing = os.path.join(workdir, "landing")
        self.reference = oracle.ensure_reference(inputs, self.name)
        self.input_rows = self.reference["input_rows"]  # every tick after 0 lands as many

    def setup(self, spark) -> None:
        self.spark = spark
        for t in ("posts", "tweets"):
            os.makedirs(os.path.join(self.landing, t), exist_ok=True)
        self.posts = streams.read_json_stream(self.spark, self.landing + "/posts", POSTS_STREAM)
        self.tweets = streams.read_json_stream(self.spark, self.landing + "/tweets",
                                               TWEETS_STREAM)

    def land(self, i: int) -> int:
        """Land tick `i`'s files; returns how many landed."""
        if i >= self.units:
            raise RuntimeError(f"ran out of generated ticks at tick {i}")
        tables = ("posts", "tweets")
        for t in tables:
            name = f"tick-{i:05d}.json"
            tmp = os.path.join(self.landing, f".{t}-{name}")
            shutil.copyfile(os.path.join(self.ticks, t, name), tmp)
            os.rename(tmp, os.path.join(self.landing, t, name))  # land atomically
        return len(tables)

    def unit(self, i: int):
        self.land(i)
        for df, table, keys, order in ((self.posts, "posts", ["id"], "fetched"),
                                       (self.tweets, "tweets", ["id"], None)):
            q = streams.upsert_stream_manifested(
                df, f"{self.out}/{table}", f"{self.out}/_ck_{table}", keys, ["dataload"], order)
            streams.run_to_completion(q)
        return self.read_back(i)

    def read_back(self, i: int):
        top = (writers.read_manifested(self.spark, self.out + "/posts")
               .orderBy(F.col("score").desc(), F.col("id")).limit(oracle.TOP_N)
               .select("id", "score").collect())
        if i == 0:  # no tweets have landed yet
            return [(r["id"], r["score"]) for r in top], None, 0
        tweets = writers.read_manifested(self.spark, self.out + "/tweets")
        return [(r["id"], r["score"]) for r in top], tweets, tweets.count()

    def check(self, i: int, handle) -> bool:
        top, tweets, n = handle
        fp = (oracle.spark_fingerprint(tweets.select("id").distinct(), ["id"])
              if tweets is not None else (0, 0))
        expected_top, expected_fp = self.reference["after"][i]
        return ([list(t) for t in top] == expected_top and list(fp) == expected_fp
                and n == fp[0])


WORKLOADS = {w.name: w for w in (DailyBatch, StreamRefresh)}
