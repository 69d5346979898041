"""Explicit StructTypes for every table the engine reads or writes.

The reference infers schemas nightly with a Glue crawler
(reference: terraform/main.tf:310-319) and reads schema-on-read
DynamicFrames (reference: glue/reddit_glue.py:204-213). The engine is
explicit instead: schema drift is handled by PERMISSIVE JSON parsing with a
`_corrupt_record` column, not by re-inference — at 100 TB a surprise schema
change should quarantine rows, not silently re-type a column.

Field sources (FIXTURES.md §1-3):
  tweets          — reference: twitter/lambda_function.py:30-41
  reddit_posts    — reference: reddit/lambda_function.py:46-55
  reddit_comments — reference: reddit/lambda_function.py:62-70
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- social tables (storage layer: JSON-array files, Hive-partitioned) ----

# `mentionedUsers` is comma-joined in storage (reference:
# twitter/lambda_function.py:36); the engine parses it to a real array at
# the ingest boundary (operators.cleanse.parse_mentions) and only flattens
# back at legacy-format sinks.
TWEETS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("date", T.StringType(), False),  # parsed to ts at ingest
        T.StructField("content", T.StringType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("followersCount", T.IntegerType(), True),
        T.StructField("mentionedUsers", T.StringType(), True),  # CSV-in-string
        T.StructField("retweetCount", T.IntegerType(), True),
        T.StructField("replyCount", T.IntegerType(), True),
        T.StructField("inReplyToUser", T.StringType(), True),
        T.StructField("timeStamp", T.StringType(), True),  # micro-batch id
    ]
)

REDDIT_POSTS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("commentCount", T.IntegerType(), True),
        T.StructField("score", T.IntegerType(), True),
        T.StructField("subreddit", T.StringType(), True),
    ]
)

REDDIT_COMMENTS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("score", T.IntegerType(), True),
        T.StructField("post_id", T.StringType(), True),
        T.StructField("parent_id", T.StringType(), True),
    ]
)

# --- multimodal media table (operators.multimodal) ------------------------

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField("mime", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

# --- driver synthetic tables (TESTDATA.md) --------------------------------

# Some driver parquet timestamp columns are TIMESTAMP(NANOS) (events.ts),
# which Spark's parquet reader rejects outright; others are millis and read
# fine as TimestampType (orders/lineitem). We read nanos as raw longs
# (spark.sql.legacy.parquet.nanosAsLong) and rebuild TimestampType with
# integer division — doubles can't represent epoch-nanos (> 2^53), so the
# division MUST stay integral. The repair is applied only when the column
# actually arrives as a long, so millis-typed files pass through untouched.
TESTDATA_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_table(spark, sf_dir: str, name: str):
    """Canonical scan of one driver testdata table, timestamps repaired."""
    from pyspark.sql import functions as F, types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in TESTDATA_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":  # nanos-as-long needs the rebuild
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dtypes.get(c, "").startswith("timestamp"):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df
