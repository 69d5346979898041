"""Interleaved A/B: whole-corpus curation stage order — r9 (quota THEN
quality) vs r10/ADVICE-r9 (quality THEN quota) — at the 16x salted
corpus, the scale where tools/bench_curation_scaled.py's linearity
ratio moved 15.5x (r9) -> ~17x (r10). The reorder is a CORRECTNESS fix
(a low-quality page must not consume a domain's cap); this A/B
establishes whether it also moved the wall time or whether the ratio
drift is ambient. The r10 arm is `training.curate` itself; the r9 arm
runs the same `web_gates` with the quality gate moved after the quota,
then the same dedupe/split tail.

Usage: python tools/ab_curation_order.py [sf_dir] [reps] [scale]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame  # noqa: E402

from reddit_twitter_big_data_pipeline_spark import session  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.operators import (  # noqa: E402
    dedup as dedup_ops,
    sampling,
    text as text_ops,
)
from reddit_twitter_big_data_pipeline_spark.parallel import spread  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.plans import training  # noqa: E402
from tools.bench_curation_scaled import blocked_domains, corpus  # noqa: E402


def pipeline(docs: DataFrame, blocked: DataFrame, quality_first: bool) -> DataFrame:
    gates = training.web_gates(blocked, q_micro_min=150_000)
    if quality_first:  # the r10 order
        return training.curate(docs, gates, domain_cap=20)
    # the r9 order
    langid, domain, quality = gates
    c = training._Cols("doc_id", "text", "url")
    quota = sampling.cap_per_group(
        training._gated(spread(docs), [langid, domain], c), "domain", 20
    )
    deduped = dedup_ops.exact_dedupe(quality(quota, c))
    return deduped.select(
        "doc_id",
        "lang",
        "domain",
        sampling.split_label("doc_id").alias("split"),
        text_ops.token_count("text").cast("long").alias("n_tokens"),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    scale = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    spark = session.get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    docs = corpus(spark, sf_dir, scale)
    blocked = blocked_domains(spark, scale)
    # warm both arms
    for qf in (False, True):
        pipeline(docs, blocked, qf).write.format("noop").mode("overwrite").save()
    times = {"quota_then_quality_r9": [], "quality_then_quota_r10": []}
    for rep in range(reps):
        for key, qf in (
            ("quota_then_quality_r9", False),
            ("quality_then_quota_r10", True),
        ):
            t0 = time.time()
            pipeline(docs, blocked, qf).write.format("noop").mode("overwrite").save()
            times[key].append(time.time() - t0)
            print(f"rep{rep} {key}: {times[key][-1]:.2f}s", file=sys.stderr, flush=True)
    mins = {k: round(min(v), 3) for k, v in times.items()}
    mins["ratio_r10_over_r9"] = round(
        min(times["quality_then_quota_r10"]) / min(times["quota_then_quality_r9"]), 3
    )
    print(json.dumps(mins))


if __name__ == "__main__":
    main()
