"""Scaled bench for the composed curation pipelines.

Mode `v2` (r9, `plans/training.py:curate` with `web_gates` and a
domain cap): the 100-TB claim
is that the pipeline is scan-dominated with exactly three slim-keyed
exchanges (domain-quota window, dedupe fingerprint window, final
stage), so wall time grows AT MOST linearly with corpus size — no stage
is quadratic or driver-bound. This script measures it the
`tools/bench_graph_scaled.py` way.

Method: the documents table is replicated 1x/4x/16x with disjoint
doc_id offsets; replicas r>0 inject a replica token between words
(the bench.py:246 salted-replica pattern) so replicas are mutually
NOVEL and the dedupe stage cannot collapse the scale-up. Planted
multilingual prefixes keep every langid branch live at every scale;
planted URLs spread over `20·scale` registered domains so the
per-domain quota output SCALES with the corpus instead of clamping at
a fixed domain set (a fixed set would make every post-quota stage
constant-size and the measurement vacuous); the blocklist blocks every
5th domain. Reps are INTERLEAVED across scales (rep 0: 1x,4x,16x;
rep 1: ...) with min-per-cell, so ambient drift on this box cannot
masquerade as a scaling trend.

If the linear story is true, t(16x)/t(1x) <= 16 with room to spare
(stage-scheduling overhead amortizes); a ratio near or above 16 means
a stage degrades superlinearly and the plan needs work.

Mode `increment` (r10, VERDICT r9 item 2 —
`plans/training.py:admit`): the operator's THESIS is that
admitting a FIXED batch costs ~the batch, not the corpus: the corpus
contributes only map-side-reduced fingerprints and (domain, count)
rows, never a full shuffle. Method: the same 1x/4x/16x salted corpus
replicas, one fixed-size batch derived from the base table (verbatim
corpus dups keep the anti-join live, multilingual prefixes keep every
gate live, half the urls land on corpus-exhausted domains and half on
fresh ones so both quota branches fire at every scale), interleaved
reps. Done-bar: near-flat wall time — t(16x)/t(1x) far below the 16x
a corpus-proportional stage would show (the corpus-side scan+reduce
does grow with the corpus, but it is the cheap map-side path; the
batch-side windows and joins dominate).

Mode `increment_v2` (r14, VERDICT r13 item 3): the near-dup-screened
admission (`admit` with `neardup_threshold`) under the same fixed-batch / scaled-
corpus method — its 5k-doc suite row is stage-overhead-bound, so the
round-over-round comparison belongs on this data-cost-dominated cell.

Usage: python tools/bench_curation_scaled.py [sf_dir] [reps] [mode]
       mode in {v2, increment, increment_v2, both} (default both)
Prints one JSON line per mode: {scale: min_sec}, rows, ratios.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from reddit_twitter_big_data_pipeline_spark import schemas, session  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.plans import training  # noqa: E402

SCALES = (1, 4, 16)
OFF = 1_000_000

PHRASES = {
    1: "der hund läuft über die straße und ist nicht müde ",
    2: "le chat est dans la maison et ne veut pas sortir ",
    3: "el perro está en la casa y no quiere salir más ",
    4: "il gatto è nel giardino e non vuole più uscire ",
}


def corpus(spark, sf_dir: str, scale: int) -> DataFrame:
    docs = schemas.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reps = [
        F.struct(
            (F.col("doc_id") + r * OFF).alias("doc_id"),
            (
                F.col("text")
                if r == 0
                else F.regexp_replace(F.col("text"), F.lit(" "), F.lit(f" r{r} "))
            ).alias("text"),
        )
        for r in range(scale)
    ]
    scaled = docs.select(F.explode(F.array(*reps)).alias("s")).select(
        "s.doc_id", "s.text"
    )
    lang_expr = None
    for k, ph in PHRASES.items():
        c = F.col("doc_id") % 5 == k
        v = F.concat(F.lit(ph * 3), F.col("text"))
        lang_expr = F.when(c, v) if lang_expr is None else lang_expr.when(c, v)
    n_domains = 20 * scale
    return scaled.select(
        "doc_id",
        lang_expr.otherwise(F.col("text")).alias("text"),
        F.concat(
            F.lit("https://sub.site"),
            (F.col("doc_id") % n_domains).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )


def fixed_batch(spark, sf_dir: str) -> DataFrame:
    """One FIXED admission batch (size = |base documents|), identical at
    every corpus scale: %4==0 rows duplicate replica-0 corpus text
    verbatim (the corpus anti-join stays live at every scale — replica 0
    is verbatim in every corpus), the rest are novel with multilingual
    prefixes (every langid branch live); urls alternate between the base
    corpus domains (quota-exhausted at every scale: 'have' >= cap) and
    fresh ones (admit up to cap)."""
    docs = schemas.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = F.col("doc_id")
    lang_expr = None
    for k, ph in PHRASES.items():
        c = src % 5 == k
        v = F.concat(F.lit(ph * 3), F.col("text"), F.lit(" b"), src.cast("string"))
        lang_expr = F.when(c, v) if lang_expr is None else lang_expr.when(c, v)
    btext = F.when(src % 4 == 0, F.col("text")).otherwise(
        lang_expr.otherwise(F.concat(F.col("text"), F.lit(" b"), src.cast("string")))
    )
    burl = F.when(
        src % 3 == 0,
        F.concat(
            F.lit("https://x.fresh"), (src % 50).cast("string"),
            F.lit(".org/b/"), src.cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://sub.site"), (src % 20).cast("string"),
            F.lit(".com/b/"), src.cast("string"),
        )
    )
    return docs.select(
        (src + 50_000_000).alias("doc_id"), btext.alias("text"), burl.alias("url")
    )


# The study's gate constants, shared with bench.py's scaled headline rows
# (train_curation*_16x) so the headline rows measure EXACTLY this
# study's workload — a drift here would silently change both together,
# never one without the other.
DOMAIN_CAP, Q_MICRO_MIN = 20, 150_000


def blocked_domains(spark, scale: int) -> DataFrame:
    """The study's blocklist: every 5th of the 20·scale planted domains."""
    return spark.range(0, 20 * scale, 5).select(
        F.concat(F.lit("site"), F.col("id").cast("string"), F.lit(".com")).alias(
            "domain"
        )
    )


def plan(mode: str, docs: DataFrame, blocked: DataFrame, batch) -> DataFrame:
    """One study plan with the study's gate constants: `v2` curates the
    corpus `docs` against the `blocked` list; `increment` admits `batch`
    against it, and `increment_v2` adds the near-dup screen (batch ids,
    +50M, sit above every corpus id, max 16·OFF + |docs|, per the
    screen's contract)."""
    if mode == "v2":
        return training.curate(
            docs, training.web_gates(blocked, q_micro_min=Q_MICRO_MIN),
            domain_cap=DOMAIN_CAP,
        )
    return training.admit(
        batch, docs, training.web_gates(q_micro_min=Q_MICRO_MIN),
        domain_cap=DOMAIN_CAP,
        neardup_threshold=0.9 if mode == "increment_v2" else None,
    )


def build_v2(spark, sf_dir: str, scale: int) -> DataFrame:
    """The `v2` plan over the `scale`× replicated corpus (bench.py's
    scaled rows share these builders with the scaling study)."""
    return plan("v2", corpus(spark, sf_dir, scale), blocked_domains(spark, scale), None)


def build_increment(spark, sf_dir: str, scale: int) -> DataFrame:
    """The FIXED batch admitted against the `scale`× replicated corpus."""
    return plan("increment", corpus(spark, sf_dir, scale), None, fixed_batch(spark, sf_dir))


def build_increment_v2(spark, sf_dir: str, scale: int) -> DataFrame:
    """`build_increment` with the near-dup screen."""
    return plan(
        "increment_v2", corpus(spark, sf_dir, scale), None, fixed_batch(spark, sf_dir)
    )


def bench_mode(spark, sf_dir: str, reps: int, mode: str) -> None:
    frames, blocked, meta = {}, {}, {}
    for s in SCALES:
        frames[s] = corpus(spark, sf_dir, s)
        blocked[s] = blocked_domains(spark, s)
        meta[s] = {"rows_in": frames[s].count()}
    batch = (
        fixed_batch(spark, sf_dir)
        if mode in ("increment", "increment_v2")
        else None
    )

    def build(s: int) -> DataFrame:
        return plan(mode, frames[s], blocked[s], batch)

    # warm every scale once (JIT, page cache), record output rows
    for s in SCALES:
        meta[s]["rows_out"] = build(s).count()
        print(f"[{mode}] warm {s}x: in={meta[s]['rows_in']} out={meta[s]['rows_out']}",
              file=sys.stderr, flush=True)

    times = {s: [] for s in SCALES}
    for rep in range(reps):
        for s in SCALES:
            t0 = time.time()
            build(s).write.format("noop").mode("overwrite").save()
            times[s].append(time.time() - t0)
            print(f"[{mode}] rep{rep} {s}x: {times[s][-1]:.2f}s",
                  file=sys.stderr, flush=True)

    out = {
        "mode": mode,
        "min_sec": {str(s): round(min(ts), 3) for s, ts in times.items()},
        "rows_in": {str(s): meta[s]["rows_in"] for s in SCALES},
        "rows_out": {str(s): meta[s]["rows_out"] for s in SCALES},
    }
    if batch is not None:
        out["batch_rows"] = batch.count()
    out["ratio_16x_over_1x"] = round(min(times[16]) / min(times[1]), 3)
    print(json.dumps(out), flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    mode = sys.argv[3] if len(sys.argv) > 3 else "both"
    spark = session.get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    for m in ("v2", "increment", "increment_v2") if mode == "both" else (mode,):
        bench_mode(spark, sf_dir, reps, m)


if __name__ == "__main__":
    main()
