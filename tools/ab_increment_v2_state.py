"""Interleaved A/B: near-dup-screened admission's MinHash probe with the
corpus state DERIVED per admission (the gated-query shape — corpus
shingles/signatures/bands rebuilt each run) vs the PRODUCTION shape
(minhash_corpus_state prebuilt once and reused — what a standing
pipeline stores at ingest). Both return identical admissions (pinned
in pytest test_curate_increment_v2_near_dup_screen); this measures the
steady-state marginal saving.

Usage: python tools/ab_increment_v2_state.py [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from reddit_twitter_big_data_pipeline_spark import schemas, session  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.operators import dedup  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.plans import training  # noqa: E402


def inputs(spark, sf_dir: str):
    docs = schemas.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    corpus = docs.select(
        "doc_id", "text",
        F.concat(
            F.lit("https://sub.site"), (d % 20).cast("string"),
            F.lit(".com/p/"), d.cast("string"),
        ).alias("url"),
    )
    src = F.col("src")
    base = docs.select(F.col("doc_id").alias("src"), "text")
    btext = (
        F.when(src % 4 == 0, F.col("text"))
        .when(src % 4 == 2, F.concat(F.col("text"), F.lit(" nd")))
        .otherwise(F.concat(F.col("text"), F.lit(" b"), src.cast("string")))
    )
    burl = F.when(
        src % 3 == 0,
        F.concat(F.lit("https://x.fresh"), (src % 50).cast("string"),
                 F.lit(".org/b/"), src.cast("string")),
    ).otherwise(
        F.concat(F.lit("https://sub.site"), (src % 20).cast("string"),
                 F.lit(".com/b/"), src.cast("string"))
    )
    batch = base.select(
        (src + 50_000_000).alias("doc_id"), btext.alias("text"), burl.alias("url")
    )
    return batch, corpus


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = session.get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    batch, corpus = inputs(spark, sf_dir)

    # production: the stored index is built ONCE (and its build cost is
    # reported separately — it is ingest-time, not admission-time)
    t0 = time.time()
    state = dedup.minhash_corpus_state(corpus)
    for frame in state:
        frame.count()  # force materialization, like a stored table would be
    build_s = round(time.time() - t0, 3)
    print(f"state build (once, at ingest): {build_s}s", file=sys.stderr, flush=True)

    def run(with_state: bool):
        out = training.admit(
            batch, corpus, training.web_gates(), domain_cap=20,
            neardup_threshold=0.9, corpus_state=state if with_state else None,
        )
        out.write.format("noop").mode("overwrite").save()

    for ws in (False, True):  # warm
        run(ws)
    times = {"derive_here": [], "stored_state": []}
    for rep in range(reps):
        for key, ws in (("derive_here", False), ("stored_state", True)):
            t0 = time.time()
            run(ws)
            times[key].append(time.time() - t0)
            print(f"rep{rep} {key}: {times[key][-1]:.2f}s", file=sys.stderr, flush=True)
    mins = {k: round(min(v), 3) for k, v in times.items()}
    mins["state_build_once"] = build_s
    mins["ratio_state_over_derive"] = round(
        min(times["stored_state"]) / min(times["derive_here"]), 3
    )
    print(json.dumps(mins))


if __name__ == "__main__":
    main()
