"""Sources — SURVEY §2.1 (S1-S5) re-expressed as declarative scans.

Each reader returns a lazy DataFrame: filters passed here become Catalyst
partition/predicate pushdown, never driver-side listing loops. The
reference's boto3 list-and-concatenate pattern (reference:
reddit/lambda_function_aggregate.py:48-54) and `max(files, key=LastModified)`
argmax (reference: glue/twitter_glue.py:66-68) are both single declarative
scans here — at 100 TB, file listing belongs to the data source, not the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


def read_partitioned_json(
    spark: SparkSession,
    root: str,
    schema: T.StructType,
    topic: str | None = None,
    dataload: str | None = None,
) -> DataFrame:
    """S1+S2+S3: scan a topic=…/dataload=… tree of JSON-array files.

    The reference needs a Glue crawler + `$[*]` classifier + push_down_predicate
    (reference: terraform/main.tf:301-306, glue/reddit_glue.py:204-213). Here
    `multiLine` handles the JSON-array layout, `basePath` keeps the Hive
    partition columns, and equality filters on partition columns are pruned by
    Catalyst's PruneFileSourcePartitions — verify with
    `df.explain()` → `PartitionFilters: [isnotnull(topic), (topic = …)]`.

    PERMISSIVE mode + `_corrupt_record` quarantines drifted rows instead of
    failing the scan (schema-drift posture, SURVEY §1.3).
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("basePath", root)
        .schema(full)
        .json(root)
    )
    if topic is not None:
        df = df.filter(F.col("topic") == topic)
    if dataload is not None:
        df = df.filter(F.col("dataload") == dataload)
    return df


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE scan into (clean, corrupt) frames.

    Spark forbids queries that reference only `_corrupt_record` over a raw
    JSON scan (SPARK-21610): the parsed result must be materialized first.
    Local cache here; a production ingest would land the parsed batch to a
    bronze table and split from there (same one-materialization cost).
    """
    df = df.cache()
    corrupt = df.filter(F.col("_corrupt_record").isNotNull())
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return clean, corrupt


def latest_batch(df: DataFrame, batch_col: str = "timeStamp") -> DataFrame:
    """S4: keep only rows belonging to the newest micro-batch.

    The reference finds the newest S3 object by LastModified on the driver
    (reference: glue/twitter_glue.py:66-68). Distributed equivalent: a
    scalar-subquery max + semijoin-style filter — one extra pass over the
    (pruned) scan, no driver listing. AQE turns the tiny max side into a
    broadcast.
    """
    mx = df.select(F.max(batch_col).alias("mx"))
    return df.join(F.broadcast(mx), F.col(batch_col) == F.col("mx"), "inner").drop("mx")


def read_topics(spark: SparkSession, path: str) -> DataFrame:
    """S5: the topics.txt config scan (reference: glue/reddit_glue.py:57-59).

    One `topic` per line. The reference loops the whole job per topic
    (A10); the engine reads topics as a (tiny, broadcastable) DataFrame and
    processes all topics at once — per-topic parallelism comes from
    partitioning, not a driver loop.
    """
    return (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("topic"))
        .filter(F.col("topic") != "")
    )


def read_csv_table(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """Schema-enforced CSV scan with the same PERMISSIVE + corrupt-record
    posture as the JSON reader (the return leg of K2's CSV snapshots —
    reference: glue/reddit_glue.py:225-226 writes CSV, never reads it back;
    a complete engine round-trips). Feed the result through
    ``quarantine_split`` to separate drifted rows. Never schema-inference:
    inference costs an extra full scan and silently re-types columns
    between runs — at 100 TB both are incidents."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return (
        spark.read.option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .csv(path)
    )


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan — same pushdown/pruning behavior as parquet
    (predicate pushdown via ORC row-group stats; verify with .explain() →
    PushedFilters). Exists so a lake standardized on ORC plugs in without
    touching any operator."""
    return spark.read.orc(path)
