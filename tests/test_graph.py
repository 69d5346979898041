"""Golden end-to-end tests for the graph model and social pipelines —
fixture rows shaped like the reference dumps (SURVEY §5 plan #3)."""

from __future__ import annotations

import glob
import json
import os

from reddit_twitter_big_data_pipeline_spark import checkpointing, schemas
from reddit_twitter_big_data_pipeline_spark.functions import enrich
from reddit_twitter_big_data_pipeline_spark.operators import cleanse
from reddit_twitter_big_data_pipeline_spark.plans import audit, graph, social
from reddit_twitter_big_data_pipeline_spark.sinks import writers
from reddit_twitter_big_data_pipeline_spark.sources import readers

TWEETS = [
    # id, date, content, username, followers, mentionedUsers, rt, reply, inReplyTo, ts
    (1, "2023-03-25 10:00:00", "war update", "alice", 10, "bob,carol", 2, 0, None,
     "2023-03-25 10:00:00"),
    (2, "2023-03-25 10:01:00", "[deleted]", "dan", 5, None, 0, 0, None,
     "2023-03-25 10:00:00"),
    (3, "2023-03-25 10:02:00", "reply text", "bob", 7, None, 1, 1, "alice",
     "2023-03-25 10:00:00"),
    (4, "2023-03-25 10:03:00", "more news", "erin", 3, "carol,,", 0, 0, None,
     "2023-03-25 10:00:00"),
]
TWEET_COLS = [
    "id", "date", "content", "username", "followersCount", "mentionedUsers",
    "retweetCount", "replyCount", "inReplyToUser", "timeStamp",
]


def test_twitter_graph_golden(spark):
    tweets = spark.createDataFrame(TWEETS, TWEET_COLS)
    nodes, edges = social.twitter_pipeline(tweets, enrichment=False)
    got_edges = sorted((r.src, r.dst, r.rel_type) for r in edges.collect())
    # tweet 2 is scrubbed ([deleted]); tweet 1 fans out 2 MENTIONS; tweet 3 has
    # a reply edge — the reference's 4-way null dispatch collapses to this.
    # Tweet 4's empty names ("carol,,") yield no user node and no edge.
    assert got_edges == [
        ("1", "alice", "POSTED_BY"),
        ("1", "bob", "MENTIONS"),
        ("1", "carol", "MENTIONS"),
        ("3", "alice", "IN_REPLY_TO"),
        ("3", "bob", "POSTED_BY"),
        ("4", "carol", "MENTIONS"),
        ("4", "erin", "POSTED_BY"),
    ]
    got_nodes = sorted((r.node_id, r.label) for r in nodes.collect())
    assert got_nodes == [
        ("1", "Tweet"),
        ("3", "Tweet"),
        ("4", "Tweet"),
        ("alice", "User_Twitter"),
        ("bob", "User_Twitter"),
        ("carol", "User_Twitter"),
        ("erin", "User_Twitter"),
    ]


def test_twitter_props_roundtrip(spark):
    tweets = cleanse.parse_mentions(spark.createDataFrame(TWEETS, TWEET_COLS))
    nodes, _ = graph.twitter_graph(tweets)
    t1 = {r.node_id: r.props for r in nodes.filter("label = 'Tweet'").collect()}["1"]
    assert t1["username"] == "alice"
    assert t1["followersCount"] == "10"  # stringly props map, cast at read


POSTS = [
    ("p1", "2023-03-25 09:00:00", "title", "body", "alice", 2, 10, "worldnews"),
    ("p2", "2023-03-25 09:30:00", "t2", "[deleted]", "bob", 0, 1, "news"),
]
POST_COLS = ["id", "date", "title", "content", "username", "commentCount", "score", "subreddit"]
COMMENTS = [
    ("c1", "2023-03-25 09:10:00", "reply 1", "carol", 3, "p1", "t3_p1"),
    ("c2", "2023-03-25 09:20:00", "reply 2", "AutoModerator", 1, "p1", "t1_c1"),
    ("c3", "2023-03-25 09:25:00", "orphan", "dan", 1, "p404", "t3_p404"),
]
COMMENT_COLS = ["id", "date", "content", "username", "score", "post_id", "parent_id"]


def test_reddit_graph_golden(spark):
    posts = spark.createDataFrame(POSTS, POST_COLS)
    comments = spark.createDataFrame(COMMENTS, COMMENT_COLS)
    nodes, edges = social.reddit_pipeline(posts, comments, enrichment=False)
    got = sorted((r.src, r.dst, r.rel_type) for r in edges.collect())
    # p2 scrubbed ([deleted]); c2 dropped (bot); c3 orphaned (inner-join MATCH
    # semantics, reference glue/reddit_glue.py:94-98)
    assert got == [
        ("c1", "carol", "COMMENTED_BY"),
        ("c1", "p1", "COMMENTED_ON"),
        ("p1", "alice", "POSTED_BY"),
        ("p1", "worldnews", "POSTED_IN"),
    ]
    labels = {(r.node_id, r.label) for r in nodes.collect()}
    assert ("p1", "Post_Reddit") in labels
    assert ("c1", "Comment_Reddit") in labels
    assert ("worldnews", "Subreddit_Reddit") in labels
    assert ("alice", "User_Reddit") in labels and ("carol", "User_Reddit") in labels
    # scrubbed/orphaned rows contribute no nodes — the reference's comment
    # Cypher starts with MATCH(post), so an orphan creates neither its
    # comment node nor its user node
    assert ("p2", "Post_Reddit") not in labels
    assert ("c3", "Comment_Reddit") not in labels
    assert ("dan", "User_Reddit") not in labels


def test_idempotent_rerun_same_graph(spark):
    """W5: replaying the same micro-batch yields the identical graph (MERGE
    semantics by construction)."""
    posts = spark.createDataFrame(POSTS + POSTS, POST_COLS)  # duplicated batch
    comments = spark.createDataFrame(COMMENTS + COMMENTS, COMMENT_COLS)
    _, edges_twice = social.reddit_pipeline(posts, comments, enrichment=False)
    _, edges_once = social.reddit_pipeline(
        spark.createDataFrame(POSTS, POST_COLS),
        spark.createDataFrame(COMMENTS, COMMENT_COLS),
        enrichment=False,
    )
    assert sorted(map(tuple, edges_twice.collect())) == sorted(map(tuple, edges_once.collect()))


def _scan(spark, root: str, rows: list, cols: list[str], schema):
    """`rows` landed as one JSON-array file and read back the way the daily
    job reads its sources, so the plan sees file sizes."""
    d = f"{root}/topic=t/dataload=d1"
    os.makedirs(d)
    with open(f"{d}/part-0.json", "w") as f:
        json.dump([dict(zip(cols, r)) for r in rows], f)
    return readers.read_partitioned_json(spark, root, schema, dataload="d1")


def test_daily_plan_one_shuffle_per_output_and_no_python_worker(spark, tmp_path, monkeypatch):
    """The daily plan's shape: over the staged, enriched inputs each graph
    output plans exactly one shuffle (its MERGE dedupe), and with the
    default backends enrichment plans no Python UDF node; a backend swapped
    in with set_backend brings its pandas UDF back."""
    tweets = _scan(spark, str(tmp_path / "tweets"), TWEETS, TWEET_COLS, schemas.TWEETS)
    posts = _scan(spark, str(tmp_path / "posts"), POSTS, POST_COLS, schemas.REDDIT_POSTS)
    comments = _scan(
        spark, str(tmp_path / "comments"), COMMENTS, COMMENT_COLS, schemas.REDDIT_COMMENTS
    )
    staged = []
    stage = checkpointing.stage

    def capture(df):
        staged.append(df)
        return stage(df)

    monkeypatch.setattr(checkpointing, "stage", capture)

    def build():
        staged.clear()
        return [*social.twitter_pipeline(tweets), *social.reddit_pipeline(posts, comments)]

    def udf_nodes():
        return [
            audit.count_operator(df, "ArrowEvalPython") + audit.count_operator(df, "BatchEvalPython")
            for df in staged
        ]

    outputs = build()
    assert [len(audit.shuffle_exchanges(o)) for o in outputs] == [1, 1, 1, 1]
    assert udf_nodes() == [0, 0, 0]  # tweets, posts, comments
    saved = enrich.BACKENDS["sentiment"]
    try:
        enrich.set_backend("sentiment", enrich.retrying_backend(enrich.sentiment_hash))
        build()
        assert all(n > 0 for n in udf_nodes()) and len(staged) == 3
    finally:
        enrich.set_backend("sentiment", saved)


def _next_execution_id(spark) -> int:
    """Id of the next SQL execution. The status store keeps only the
    newest executions, so their count is not an id."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    last = -1
    while execs.hasNext():
        last = max(last, execs.next().executionId())
    return last + 1


def _files_read_since(spark, first_execution: int) -> int:
    """Files opened by every file-source scan of the SQL executions from
    `first_execution` on: the sum of the scans' "number of files read"
    metric in the SQL status store. A scan node posts it each time a plan
    containing it executes, so a branch or action that re-reads the source
    counts its files again."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    total, execs = 0, store.executionsList().iterator()
    while execs.hasNext():
        e = execs.next()
        if e.executionId() < first_execution:
            continue
        ids, metrics = set(), e.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            if m.name() == "number of files read":
                ids.add(m.accumulatorId())
        values = store.executionMetrics(e.executionId()).iterator()
        while values.hasNext():
            kv = values.next()
            if kv._1() in ids:
                total += int(kv._2().replace(",", ""))
    return total


def _live_table_files(spark, target: str) -> int:
    """Parquet files of the current snapshot of a manifested table."""
    fs, _ = writers._hadoop_fs(spark, target)
    versions = writers._manifest_versions(fs, spark._jvm, target)
    if not versions:
        return 0
    parts = writers._read_manifest(fs, spark._jvm, target, versions[-1])
    return sum(
        len(glob.glob(f"{target}/{rel}/{writers._VERSION_KEY}={v}/*.parquet"))
        for rel, v in parts.items()
    )


def test_daily_commit_reads_each_source_file_once(spark, tmp_path):
    """The daily job — scan, cleanse, enrich, graph, one manifested merge
    per table — opens each source file once per commit, however many graph
    branches and merge actions read the tweets; a re-run also opens each
    live file of the standing tables once."""
    root = str(tmp_path / "tweets")
    rows = TWEETS * 2
    n_files = len(rows)  # one tweet per file, over two topic partitions
    for i, row in enumerate(rows):
        d = f"{root}/topic=t{i % 2}/dataload=d1"
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/part-{i}.json", "w") as f:
            json.dump([dict(zip(TWEET_COLS, row), id=row[0] + 10 * i)], f)
    nodes_t, edges_t = str(tmp_path / "nodes"), str(tmp_path / "edges")
    for _commit in range(2):
        expected = n_files + _live_table_files(spark, nodes_t) + _live_table_files(
            spark, edges_t
        )
        first = _next_execution_id(spark)
        tweets = readers.read_partitioned_json(spark, root, schemas.TWEETS, dataload="d1")
        nodes, edges = social.twitter_pipeline(tweets)
        writers.merge_upsert_manifested(spark, nodes_t, nodes, ["node_id", "label"], ["label"])
        writers.merge_upsert_manifested(
            spark, edges_t, edges, ["src", "dst", "rel_type"], ["rel_type"]
        )
        assert _files_read_since(spark, first) == expected
    got = writers.read_manifested(spark, edges_t)
    assert got.filter("rel_type = 'POSTED_BY'").count() == 6  # 6 of 8 tweets kept
