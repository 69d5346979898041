"""Lineage truncation and the engine's one staging rule.

Staging (`stage`): a frame that several actions or plan branches read is
staged once, where it fans out, and every consumer reads the staged rows
instead of re-running its plan. Without it each branch and each action
re-runs the whole subtree — the source scan, the enrichment (expressions
by default, pandas UDFs for swapped-in services), the text-scoring
projections that filter pushdown copies into every consumer. The engine
stages at three kinds of place:
- each curation gate that evaluates the staged token machinery, and
  admission's novel rows (`plans/training.py`);
- the frames the graph branches read: the cleansed, enriched tweets,
  posts and comments (`plans/social.py`) and each micro-batch of
  `streams.graph_stream`;
- the updates of a merge into an existing table (`sinks/writers.py`: the
  partition-scoped and manifested merges), so the touched-partition
  collect, which is also the empty check, and the staged write read one
  evaluation; this also stages each micro-batch of
  `streams.upsert_stream_manifested`. A first commit has one action over
  its updates and is not staged.

The stage is a LAZY `localCheckpoint`: the first action that reads the
frame materializes it as a side effect, so staging adds no job of its own
and a frame no action reads costs nothing. Unlike a cache it cuts the
lineage, so the optimizer sees a leaf (filters cannot be substituted back
through it), and no caller has to unpersist it.

Fault-tolerance trade-off: `localCheckpoint` keeps UNREPLICATED
executor-local blocks and cuts the lineage that would rebuild them, so
losing an executor that holds one (spot reclaim, dynamic-allocation
scale-down, OOM kill) fails the job instead of recomputing; the blocks
also take executor memory and disk until the frame is garbage collected.
Fine on one local JVM (if it dies, everything dies); a deployment with
executor churn should swap `stage` for a reliable `df.checkpoint()` to
cluster storage — here, in one place.

Lineage truncation (`truncate_lineage`): every iterative operator
(connected_components, comment_depth, range_join's left path) must
truncate lineage per round — Catalyst re-analyzes the full logical plan
each round otherwise, and analysis cost compounds catastrophically past
~10 nested joins. With a `checkpoint_dir` set (HDFS/S3 path on a cluster)
it uses reliable `df.checkpoint()` — blocks live in the shared filesystem
and survive any executor — at the cost of one write+read per truncation;
with None it keeps the zero-I/O local form, with the trade-off above.
Operators accept `checkpoint_dir: str | None = None` and pass it through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage(df: DataFrame) -> DataFrame:
    """Stage `df` where it fans out (the rule above): a lazy
    localCheckpoint. No-op on streaming frames: micro-batch plans are
    rebuilt per batch, and a checkpoint there is a plan-build-time
    AnalysisException."""
    return df if df.isStreaming else df.localCheckpoint(eager=False)


def truncate_lineage(df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True) -> DataFrame:
    """Materialize `df` and cut its lineage. With `checkpoint_dir`, a
    reliable (executor-loss-tolerant) checkpoint under that dir; without,
    `localCheckpoint` (fast, blocks on executors). Setting the dir is
    idempotent and cheap, so it is (re)applied per call rather than made a
    session-construction concern."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)
