"""Graph-as-tables model — SURVEY §2.2 K3-K6, FIXTURES.md §5.

The reference upserts a Neo4j property graph one Cypher transaction per row
(reference: glue/reddit_glue.py:70-126, glue/twitter_glue.py:74-105). The
engine represents the same graph as two DataFrames:

    nodes(node_id, label, props map<string,string>)
    edges(src, dst, rel_type)

Each source row emits all its node rows (and, separately, all its edge
rows) at once: one `inline` over an array of structs, with the mentions
FOREACH fan-out as a `transform` over the mentions array. Rows with a null
key drop, and every Cypher MERGE of an output becomes ONE dropDuplicates on
its natural key: one shuffle per output. Every MATCH becomes an inner join.
Graph queries downstream are joins/aggregations — the reference has no
query that needs more (SURVEY §1.1). Each emitter is one SQL expression, so
a plan costs a handful of Py4J calls to build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators import model

_NO_PROPS = "CAST(map() AS MAP<STRING, STRING>)"
_NODE_KEY = ["node_id", "label"]
_EDGE_KEY = ["src", "dst", "rel_type"]


def _props(cols: list[str]) -> str:
    """Pack payload columns into the props map (stringly, like the property
    graph; numeric re-casts happen at read via map_get + cast)."""
    return "map(" + ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols) + ")"


def _node(key: str, label: str, props: str = _NO_PROPS) -> str:
    return f"named_struct('node_id', CAST({key} AS STRING), 'label', '{label}', 'props', {props})"


def _edge(src: str, dst: str, rel: str) -> str:
    return (
        f"named_struct('src', CAST({src} AS STRING), 'dst', CAST({dst} AS STRING), "
        f"'rel_type', '{rel}')"
    )


def _emit(df: DataFrame, rows: list[str], fanout: str = "") -> DataFrame:
    """One output row per struct in `rows`, plus one per element of the
    `fanout` array (null/empty arrays emit none)."""
    arr = f"array({', '.join(rows)})"
    return df.selectExpr(f"inline(concat({arr}, {fanout}))" if fanout else f"inline({arr})")


def _merge(keys: list[str], *emitted: DataFrame) -> DataFrame:
    """The Cypher MERGE of one output: null keys drop, then one
    dropDuplicates on the natural key."""
    out = model.union_sources(*emitted)
    return out.filter(" AND ".join(f"{k} IS NOT NULL" for k in keys)).dropDuplicates(keys)


def reddit_graph(posts: DataFrame, comments: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K3+K4: post/comment/user/subreddit nodes and POSTED_IN / POSTED_BY /
    COMMENTED_ON / COMMENTED_BY edges.

    MERGE-per-row → distinct per natural key (A1/A2); the Cypher
    `MATCH (p {id:$postId})` comment attachment → inner join, orphans dropped
    (A3, reference: glue/reddit_glue.py:92-109).

    Unlike the reference's write loop — which leaks the LAST post's topic and
    sentiment into every comment (reference: glue/reddit_glue.py:122-124,
    documented bug, SURVEY §3.2) — comments keep their own enrichment here.
    """
    post_props = _props([c for c in posts.columns if c != "id"])
    comment_props = _props([c for c in comments.columns if c != "id"])
    # MATCH-drop semantics: the reference's comment Cypher MERGEs the comment
    # node, its user node, and both edges in ONE query that starts with
    # `MATCH (p1:Post_Reddit {id: $postId})` — an orphaned comment therefore
    # contributes NOTHING, nodes included (glue/reddit_glue.py:92-109).
    attached = model.fk_join(
        comments, posts.select(F.col("id").alias("p_id")), "post_id", "p_id"
    )

    nodes = _merge(
        _NODE_KEY,
        _emit(posts, [_node("id", "Post_Reddit", post_props), _node("username", "User_Reddit"),
                      _node("subreddit", "Subreddit_Reddit")]),
        _emit(attached, [_node("id", "Comment_Reddit", comment_props),
                         _node("username", "User_Reddit")]),
    )
    edges = _merge(
        _EDGE_KEY,
        _emit(posts, [_edge("id", "subreddit", "POSTED_IN"), _edge("id", "username", "POSTED_BY")]),
        _emit(attached, [_edge("id", "p_id", "COMMENTED_ON"),
                         _edge("id", "username", "COMMENTED_BY")]),
    )
    return nodes, edges


def twitter_graph(tweets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K5+K6: Tweet / User_Twitter nodes, MENTIONS fan-out edges.

    The Cypher FOREACH-over-SPLIT (reference: glue/twitter_glue.py:92-94) and
    the loader's 4-way null dispatch (reference:
    neo4j_insert/neo4j_twitter_insert.py:60-82) collapse into a transform
    over the mentions array, which emits zero rows for null/empty arrays and
    drops empty names. Expects `mentionedUsers` already parsed to array
    (cleanse.parse_mentions).
    """
    tweet_props = _props([c for c in tweets.columns if c not in ("id", "mentionedUsers")])
    mentioned = "transform(filter(coalesce(mentionedUsers, array()), m -> m != ''), m -> {})"
    nodes = _merge(_NODE_KEY, _emit(
        tweets,
        [_node("id", "Tweet", tweet_props), _node("username", "User_Twitter"),
         _node("inReplyToUser", "User_Twitter")],
        mentioned.format(_node("m", "User_Twitter")),
    ))
    edges = _merge(_EDGE_KEY, _emit(
        tweets,
        [_edge("id", "username", "POSTED_BY"), _edge("id", "inReplyToUser", "IN_REPLY_TO")],
        mentioned.format(_edge("id", "m", "MENTIONS")),
    ))
    return nodes, edges
