"""Interleaved A/B for curate_stream_v2's per-batch admission write set
(VERDICT r11 item 7): the `_admit` body runs 4 persists + 5 state writes
per micro-batch; the candidate observation is that `_admit_by_quota`
ALREADY shuffles the batch's `text` through the quota window (it is a
column of `screened`) and then drops it in its select — so keeping it
costs no extra exchange payload and makes `adm_docs` the admitted frame
itself, deleting one join and one persist (`screened` is then consumed
once and needs no cache).

Arms (both run the full _admit-equivalent body on a plain DataFrame
batch against seeded 4x-scale corpus state, writing out + all 4 derived
state tables to scratch dirs — the foreachBatch wrapper adds nothing to
the measured work):

  current: verbatim streaming/curation.py body — novel/screened/
           admitted/adm_docs persists, adm_docs = screened JOIN
           admitted-ids.
  fused:   _admit_by_quota keeps text (keep_cols); adm_docs IS the
           admitted frame; screened unpersisted (single consumer);
           3 persists, no id re-join.

Outputs are asserted identical (admitted ids + per-table state row
counts) before timing.

Usage: python tools/ab_increment_v2_writes.py [sf_dir] [reps] [workdir]
Prints one JSON line with min/median per arm and the ratio.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bench_curation_scaled import corpus, fixed_batch  # noqa: E402
from bench_stream_curation_scaled import seed_state  # noqa: E402
from reddit_twitter_big_data_pipeline_spark import session  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.operators import dedup as dedup_ops  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.operators import text as text_ops  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.plans.training import (  # noqa: E402
    _admit_by_quota,
    _Cols,
    _drop_near_dups,
    _gated,
    _novel,
    web_gates,
)
from reddit_twitter_big_data_pipeline_spark.sinks.writers import (  # noqa: E402
    overwrite_partitions,
)
from reddit_twitter_big_data_pipeline_spark.streaming.curation import (  # noqa: E402
    _read_state,
)

NUM_PERM, K, BANDS = 64, 3, 16
CAP, QMIN, MARGIN, THRESH = 20, 150_000, 2, 0.9
COLS = _Cols("doc_id", "text", "url")


def _admit_arm(spark, batch, state_dir: str, scratch: str, fused: bool) -> None:
    """The _admit body (lifetime quota) writing to `scratch`; state READS
    come from the seeded `state_dir` (__batch=-1), exactly a first
    batch_id=0 micro-batch."""
    batch_id = 0
    id_t = batch.schema["doc_id"].dataType.simpleString()
    fps = _read_state(spark, os.path.join(state_dir, "fps"), "__fp string", batch_id)
    ex_old = _read_state(
        spark, os.path.join(state_dir, "shingles"), f"id {id_t}, h long", batch_id
    )
    b_old = _read_state(
        spark, os.path.join(state_dir, "bands"),
        f"id {id_t}, band int, bucket long", batch_id,
    )
    have = (
        _read_state(
            spark, os.path.join(state_dir, "domains"), "domain string, n long",
            batch_id,
        )
        .groupBy("domain")
        .agg(F.sum("n").alias("__have"))
    )
    gated = _gated(batch.select(*COLS), web_gates(None, MARGIN, QMIN), COLS)
    novel = _novel(gated, fps, COLS).persist()
    screened = _drop_near_dups(
        novel, None, COLS, THRESH, NUM_PERM, K, BANDS, (ex_old, b_old)
    )
    caches = [novel]
    if fused:
        adm_full = _admit_by_quota(
            screened, have, CAP, "xxhash64", COLS, keep_cols=("text",)
        ).persist()
        admitted = adm_full.drop("text")
        adm_docs = adm_full
        caches.append(adm_full)
    else:
        screened = screened.persist()
        admitted = _admit_by_quota(screened, have, CAP, "xxhash64", COLS).persist()
        adm_docs = screened.join(admitted.select("doc_id"), "doc_id").persist()
        caches += [screened, admitted, adm_docs]

    bcol = F.lit(batch_id).alias("__batch")
    overwrite_partitions(
        admitted.select("*", bcol), os.path.join(scratch, "out"), ["__batch"]
    )
    overwrite_partitions(
        adm_docs.select(text_ops.fingerprint("text").alias("__fp"))
        .distinct().select("*", bcol),
        os.path.join(scratch, "fps"),
        ["__batch"],
    )
    ex_inc = dedup_ops.hashed_shingles(adm_docs, "doc_id", "text", K).persist()
    caches.append(ex_inc)
    overwrite_partitions(
        ex_inc.select("*", bcol), os.path.join(scratch, "shingles"), ["__batch"]
    )
    overwrite_partitions(
        dedup_ops._band_frame(
            dedup_ops.minhash_signatures_from_hashes(ex_inc, NUM_PERM),
            BANDS, NUM_PERM // BANDS,
        ).select("*", bcol),
        os.path.join(scratch, "bands"),
        ["__batch"],
    )
    overwrite_partitions(
        admitted.groupBy("domain").agg(F.count(F.lit(1)).alias("n"))
        .select("*", bcol),
        os.path.join(scratch, "domains"),
        ["__batch"],
    )
    for c in caches:
        c.unpersist()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    work = sys.argv[3] if len(sys.argv) > 3 else "/tmp/ab_increment_v2_writes"
    shutil.rmtree(work, ignore_errors=True)
    spark = session.get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    state_dir = os.path.join(work, "state")
    seed_state(spark, corpus(spark, sf_dir, 4), state_dir)
    batch_dir = os.path.join(work, "batch")
    fixed_batch(spark, sf_dir).write.parquet(batch_dir)
    batch = spark.read.parquet(batch_dir)

    arms = {
        "current": lambda d: _admit_arm(spark, batch, state_dir, d, fused=False),
        "fused": lambda d: _admit_arm(spark, batch, state_dir, d, fused=True),
    }
    # parity gate: identical admitted ids and state row counts
    res = {}
    for name, fn in arms.items():
        d = os.path.join(work, f"parity_{name}")
        fn(d)
        res[name] = {
            "out": sorted(
                r.doc_id for r in spark.read.parquet(os.path.join(d, "out")).collect()
            ),
            **{
                t: spark.read.parquet(os.path.join(d, t)).count()
                for t in ("fps", "shingles", "bands", "domains")
            },
        }
    assert res["current"] == res["fused"], (
        {k: (v if not isinstance(v, list) else len(v)) for k, v in res["current"].items()},
        {k: (v if not isinstance(v, list) else len(v)) for k, v in res["fused"].items()},
    )

    times: dict[str, list[float]] = {k: [] for k in arms}
    for rep in range(reps):
        for name, fn in arms.items():
            d = os.path.join(work, f"run_{name}")
            shutil.rmtree(d, ignore_errors=True)
            t0 = time.time()
            fn(d)
            times[name].append(time.time() - t0)
            print(f"rep{rep} {name}: {times[name][-1]:.2f}s", file=sys.stderr, flush=True)
    out = {
        arm: {"min": round(min(ts), 3), "median": round(statistics.median(ts), 3)}
        for arm, ts in times.items()
    }
    out["ratio_min"] = round(out["fused"]["min"] / out["current"]["min"], 3)
    out["admitted"] = len(res["current"]["out"])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
