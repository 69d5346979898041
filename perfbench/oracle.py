"""Reference outputs from DuckDB over the same generated files.

Each reference is a row count plus an order-independent checksum: the sum
over rows of the first 15 hex digits of ``md5(concat_ws(chr(31), cols))``.
Spark computes the same expression over the engine's output (see
``spark_fingerprint``), so the check costs one aggregate per table and no
rows cross to Python. The cleanse, enrich and graph rules are restated here
in SQL from their definitions (``operators/cleanse.py``,
``functions/enrich.py``, ``plans/social.py``, ``plans/graph.py``), not
imported from the engine.

The references are computed in a child process before the benchmark starts
its session, so DuckDB never runs in the measured process tree:

    python3 perfbench/oracle.py <workload> <input dir> <output json>

``ensure_reference`` does that once per seed and caches the result next to
the inputs. DuckDB is imported only in that child.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import gen

NODE_KEYS = ["node_id", "label"]
EDGE_KEYS = ["src", "dst", "rel_type"]
PROP_KEYS = ["node_id", "label", "key", "value"]
TOP_N = 20

# Enrichment outputs are doubles; they are compared as floor(x * 1e9), which
# is exact on both sides because both compute the same IEEE division.
FLOAT_PROPS = ("Positive", "Negative", "Neutral", "Mixed", "claimScore")
# A re-scraped tweet differs from its first scrape only in these props, so
# for a duplicated tweet they depend on which copy the engine keeps.
RESCRAPE_PROPS = ("retweetCount", "timeStamp")
# functions/enrich.py: claim_keyword's marker words
CLAIM_WORDS = ("percent", "%", "million", "billion", "kill", "dead", "report",
               "confirm", "official", "data")

_SEP = "chr(31)"


def _fingerprint_sql(rel: str, cols: list[str]) -> str:
    key = f"concat_ws({_SEP}, {', '.join(cols)})"
    return (f"SELECT count(*)::BIGINT, "
            f"coalesce(sum(('0x' || substr(md5({key}), 1, 15))::BIGINT), 0)::HUGEINT "
            f"FROM {rel}")


def spark_fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """(rows, checksum) of a Spark DataFrame, matching ``_fingerprint_sql``."""
    from pyspark.sql import functions as F

    key = F.concat_ws(chr(31), *[F.col(c) for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))).first()
    return int(row[0]), int(row[1])


def spark_props_fingerprint(nodes, rescraped: list[str]) -> tuple[int, int]:
    """Fingerprint of every node's props, one row per (node, key, value);
    a node without props is one row with a null key. Enrichment doubles
    become floor(x * 1e9); the re-scrape props of the tweets in
    `rescraped` are left out."""
    from pyspark.sql import functions as F

    rows = nodes.select("node_id", "label", F.explode_outer("props").alias("key", "value"))
    value = F.when(F.col("key").isin(*FLOAT_PROPS),
                   F.floor(F.col("value").cast("double") * 1e9).cast("string")
                   ).otherwise(F.col("value"))
    rows = rows.withColumn("value", value).filter(
        ~((F.col("label") == "Tweet") & F.col("key").isin(*RESCRAPE_PROPS)
          & F.col("node_id").isin(*rescraped)))
    return spark_fingerprint(rows, PROP_KEYS)


# --- DuckDB side (child process only) ---------------------------------------


def _connect():
    import duckdb

    return duckdb.connect()


def _json(pattern: str, columns: dict[str, str]) -> str:
    """A Hive-partitioned scan of JSON-array files; partition columns
    (``topic``, ``dataload``) come from the paths, and ``filename`` names
    each row's file."""
    cols = ", ".join(f"'{k}': '{v}'" for k, v in columns.items())
    return (f"read_json('{pattern}', format='array', columns={{{cols}}}, "
            "hive_partitioning=true, filename=true)")


# Every column read as text; INT_COLS are the ones the engine's schema types
# as integers (schemas.py), which Spark parses per value.
_TWEET_COLS = ["id", "date", "content", "username", "followersCount", "mentionedUsers",
               "retweetCount", "replyCount", "inReplyToUser", "timeStamp"]
_POST_COLS = ["id", "date", "title", "content", "username", "commentCount", "score",
              "subreddit"]
_COMMENT_COLS = ["id", "date", "content", "username", "score", "post_id", "parent_id"]
_INT_COLS = {"id": "BIGINT", "followersCount": "INTEGER", "retweetCount": "INTEGER",
             "replyCount": "INTEGER", "commentCount": "INTEGER", "score": "INTEGER"}


def _typed_scan(pattern: str, cols: list[str], id_is_int: bool) -> str:
    """Rows of one table as the engine's PERMISSIVE JSON scan yields them:
    integer columns cast per value (NULL when a value does not parse), and
    ``_corrupt_record`` holding the text of the whole file for every row of
    a file in which any value failed to parse (a JSON-array file is one
    record to Spark's multiLine reader)."""
    ints = {c: t for c, t in _INT_COLS.items() if c in cols and (c != "id" or id_is_int)}
    bad = " OR ".join(f"(TRY_CAST(r.{c} AS {t}) IS NULL AND r.{c} IS NOT NULL)"
                      for c, t in ints.items()) or "false"
    sel = ", ".join(f"TRY_CAST(r.{c} AS {ints[c]})::VARCHAR AS {c}" if c in ints
                    else f"r.{c} AS {c}" for c in cols)
    raw = _json(pattern, {c: "VARCHAR" for c in cols})
    return f"""(
      SELECT {sel}, r.topic, r.dataload,
             CASE WHEN bool_or({bad}) OVER (PARTITION BY r.filename)
                  THEN t.content END AS _corrupt_record
      FROM {raw} r LEFT JOIN read_text('{pattern}') t ON t.filename = r.filename)"""


def _blocked(col: str) -> str:
    # filter_blocklist: case-insensitive substring match on any term
    return " OR ".join(f"contains(lower({col}), '{t}')" for t in gen.BLOCKLIST)


def _enriched(rel: str) -> str:
    """`rel` plus the enrich columns, restating functions/enrich.py's
    default backends: identity translation; sentiment_hash, the md5 of the
    text's first four bytes (+1 each) normalised to sum 1; claim_keyword,
    the number of marker words present / 3, capped at 1. Cleanse has
    dropped empty texts, so their special cases never apply."""
    b = [f"(('0x' || substr(md5(content), {2 * i + 1}, 2))::INTEGER + 1)::DOUBLE"
         for i in range(4)]
    total = " + ".join(b)
    hits = " + ".join(f"contains(lower(content), '{w}')::INTEGER" for w in CLAIM_WORDS)
    sent = ", ".join(f"{b[i]} / ({total}) AS {name}"
                     for i, name in enumerate(("Positive", "Negative", "Neutral", "Mixed")))
    claim = f"least(1.0::DOUBLE, ({hits})::DOUBLE / 3.0) AS claimScore"
    return f"(SELECT *, {sent}, {claim} FROM {rel})"


def _props_rows(rel: str, id_col: str, label: str, props: list[str]) -> str:
    """One (node_id, label, key, value) row per prop of each node in `rel`,
    enrichment doubles as floor(x * 1e9)."""
    parts = []
    for c in props:
        v = f"floor({c} * 1e9)::BIGINT::VARCHAR" if c in FLOAT_PROPS else f"{c}::VARCHAR"
        parts.append(f"SELECT {id_col} AS node_id, '{label}' AS label, '{c}' AS key, "
                     f"{v} AS value FROM {rel}")
    return " UNION ALL ".join(parts)


def daily_reference(social_root: str) -> dict:
    """Expected fingerprints of the node props and of the edge table after
    the daily job over ``social_root``, the ids of the tweets scraped more
    than once, and the number of input records."""
    con = _connect()
    try:
        day = f"dataload = '{gen.DAY}'"
        kept = ("content NOT IN ('', '[deleted]', '[removed]') AND length(content) <= 1000 "
                f"AND NOT ({_blocked('content')})")
        con.execute(f"""
          CREATE TEMP TABLE tw AS
          SELECT * FROM {_enriched(_typed_scan(social_root + '/tweets/*/*/*.json',
                                               _TWEET_COLS, True))}
          WHERE {day} AND username NOT IN ('', 'None') AND {kept}""")
        con.execute("""
          CREATE TEMP VIEW mentions AS
          SELECT id, m FROM (
            SELECT id, unnest(string_split(mentionedUsers, ',')) AS m
            FROM tw WHERE mentionedUsers IS NOT NULL AND mentionedUsers <> '')
          WHERE m <> ''""")
        for name, path, cols in (("po", "reddit_posts", _POST_COLS),
                                 ("co", "reddit_comments", _COMMENT_COLS)):
            con.execute(f"""
              CREATE TEMP TABLE {name} AS
              SELECT * FROM {_enriched(_typed_scan(social_root + f'/{path}/*/*/*.json',
                                                   cols, False))}
              WHERE {day} AND username NOT IN ('', 'None', 'AutoModerator') AND {kept}""")
        con.execute("""
          CREATE TEMP TABLE att AS
          SELECT co.*, po.id AS p_id FROM co JOIN po ON co.post_id = po.id""")
        enrich_cols = list(FLOAT_PROPS)
        common = ["_corrupt_record", "topic", "dataload"] + enrich_cols
        tweet_props = [c for c in _TWEET_COLS if c not in ("id", "mentionedUsers")] + common
        post_props = _POST_COLS[1:] + common
        comment_props = _COMMENT_COLS[1:] + common
        rescrape = ", ".join(f"'{k}'" for k in RESCRAPE_PROPS)
        con.execute("""
          CREATE TEMP VIEW rescraped AS SELECT id FROM tw GROUP BY id HAVING count(*) > 1""")
        con.execute(f"""
          CREATE TEMP VIEW props AS SELECT DISTINCT * FROM (
            {_props_rows('tw', 'id', 'Tweet', tweet_props)}
            UNION ALL {_props_rows('po', 'id', 'Post_Reddit', post_props)}
            UNION ALL {_props_rows('att', 'id', 'Comment_Reddit', comment_props)}
            UNION ALL SELECT username, 'User_Twitter', NULL, NULL FROM tw
            UNION ALL SELECT m, 'User_Twitter', NULL, NULL FROM mentions
            UNION ALL SELECT inReplyToUser, 'User_Twitter', NULL, NULL FROM tw
            UNION ALL SELECT username, 'User_Reddit', NULL, NULL FROM po
            UNION ALL SELECT username, 'User_Reddit', NULL, NULL FROM att
            UNION ALL SELECT subreddit, 'Subreddit_Reddit', NULL, NULL FROM po)
          WHERE node_id IS NOT NULL
            AND NOT (label = 'Tweet' AND key IN ({rescrape})
                     AND node_id IN (SELECT id FROM rescraped))""")
        con.execute("""
          CREATE TEMP VIEW edges AS SELECT DISTINCT src, dst, rel_type FROM (
            SELECT id AS src, username AS dst, 'POSTED_BY' AS rel_type FROM tw
            UNION ALL SELECT id, m, 'MENTIONS' FROM mentions
            UNION ALL SELECT id, inReplyToUser, 'IN_REPLY_TO' FROM tw
            UNION ALL SELECT id, subreddit, 'POSTED_IN' FROM po
            UNION ALL SELECT id, username, 'POSTED_BY' FROM po
            UNION ALL SELECT id, p_id, 'COMMENTED_ON' FROM att
            UNION ALL SELECT id, username, 'COMMENTED_BY' FROM att)
          WHERE src IS NOT NULL AND dst IS NOT NULL""")
        out = {"rescraped": sorted(r[0] for r in con.execute("SELECT id FROM rescraped")
                                   .fetchall())}
        for rel, cols in (("props", PROP_KEYS), ("edges", EDGE_KEYS)):
            n, s = con.execute(_fingerprint_sql(rel, cols)).fetchone()
            out[rel] = [int(n), int(s)]
        out["input_rows"] = sum(con.execute(
            f"SELECT count(*) FROM {_json(social_root + f'/{t}/*/*/*.json', {'id': 'VARCHAR'})}"
            f" WHERE {day}").fetchone()[0]
            for t in ("tweets", "reddit_posts", "reddit_comments"))
        return out
    finally:
        con.close()


def ticks_reference(ticks_root: str) -> dict:
    """Expected read-back after each stream_refresh tick: the top-N posts
    by score (last re-fetch wins) and the tweet-id fingerprint; and the
    records one tick lands."""
    con = _connect()
    try:
        after = []
        for tick in range(gen.TICKS["count"] + 1):
            files = [f"{ticks_root}/posts/tick-{k:05d}.json" for k in range(tick + 1)]
            posts = (f"read_json({files!r}, format='array', "
                     "columns={'id': 'VARCHAR', 'score': 'INTEGER', 'fetched': 'BIGINT'})")
            top = con.execute(f"""
              SELECT id, score FROM (
                SELECT id, score,
                       row_number() OVER (PARTITION BY id ORDER BY fetched DESC) AS rn
                FROM {posts}) WHERE rn = 1
              ORDER BY score DESC, id LIMIT {TOP_N}""").fetchall()
            fp = [0, 0]
            if tick > 0:
                tfiles = [f"{ticks_root}/tweets/tick-{k:05d}.json" for k in range(1, tick + 1)]
                tweets = (f"(SELECT DISTINCT id::VARCHAR AS id FROM read_json({tfiles!r}, "
                          "format='array', columns={'id': 'BIGINT'}))")
                fp = [int(x) for x in con.execute(_fingerprint_sql(tweets, ["id"])).fetchone()]
            after.append([[[i, int(s)] for i, s in top], fp])
        rows = sum(con.execute(
            f"SELECT count(*) FROM read_json('{ticks_root}/{t}/tick-00001.json', "
            "format='array', columns={'id': 'VARCHAR'})").fetchone()[0]
            for t in ("posts", "tweets"))
        return {"after": after, "input_rows": rows}
    finally:
        con.close()


REFERENCES = {"daily_batch": lambda inputs: daily_reference(os.path.join(inputs, "social")),
              "stream_refresh": lambda inputs: ticks_reference(os.path.join(inputs, "ticks"))}


def ensure_reference(inputs: str, workload: str) -> dict:
    """The reference for `workload` over `inputs`, computed in a child
    process on first use and cached next to the inputs."""
    path = f"{inputs}.{workload}.ref.json"
    if not os.path.isfile(path):
        tmp = f"{path}.tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.abspath(__file__), workload, inputs, tmp],
                       check=True, timeout=300)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    name, inputs, out = sys.argv[1:4]
    with open(out, "w") as f:
        json.dump(REFERENCES[name](inputs), f)
