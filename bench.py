"""Benchmark harness (driver contract): run the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
collect-to-driver cost in the measurement). Each query runs
$SPARK_GRAFT_BENCH_REPS times (default 3) and records the MINIMUM —
periodic external load on this box swings single timings 2-4×, so the min
is the clean number and the recorded artifact IS the claimed one (VERDICT
r2 item 5). `value` is the total of the minimums.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The headline set: flagship pipeline + one representative per operator
# family (scan/filter, join, window, rollup, enrichment UDFs, dedup family,
# similarity, text analysis, graph model).
HEADLINE = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_local_suppliers",
    "tpch_q13_order_distribution",
    "tpch_q18_large_orders",
    "tpch_q21_sole_returner",
    "a3_fk_join",
    "a4_comment_depth",
    "a7_top_n_per_group",
    "temporal_asof_join",
    "temporal_range_join",
    "w2_tumbling_window",
    "w6_sessionize",
    "x_window_rank",
    "social_twitter_edges",
    "social_enriched_tweets",
    "dedup_exact_keep",
    "dedup_keep_best",
    "dedup_minhash_pairs",
    "dedup_jaccard_pairs",
    "dedup_simhash_pairs",
    "dedup_editdist_pairs",
    "sim_bruteforce_topk",
    "sim_ann_topk",
    "emb_near_dup",
    "text_profile",
    "text_quality_gopher",
    "text_quality_gate",
    "text_decontaminate",
    "sem_dedup_pairs",
    "media_features",
    "media_frame_sample",
    # round-3 additions
    "text_segment_dedup",
    "sim_self_knn",
    "text_quality_classifier",
    "x_scd2_apply",
    "text_bm25_topk",
    "sim_quantized_topk",
    "x_resample_ffill",
    "x_cdc_apply",
    "x_rolling_zscore",
    "text_hybrid_rrf",
    "x_mad_outliers",
    # round-4 additions: the newly oracle-gated iterative peel, the BPE
    # merge-selection primitives, fixed-round k-means, and exact heavy
    # hitters
    "x_kcore",
    "text_word_counts",
    "text_bpe_merge_select",
    "x_kmeans",
    "x_heavy_hitters",
    # round-5 additions: the rotated-in iterative/incremental operators and
    # the Zipfian skew pair (salted vs unsalted join-feeds-agg — recorded
    # side by side so the salting win/cost is tracked round-over-round)
    "x_connected_components",
    # round-6 (VERDICT r5 item 3): the incremental screen's bench rows are
    # build vs probe — `dedup_incremental_build` times minhash_corpus_state
    # materialization, `dedup_incremental_probe` times the steady-state
    # per-batch screen against the prebuilt state (the operator's actual
    # marginal cost; the old combined row conflated the two). Both shapes
    # stay oracle-gated: dedup_incremental_pairs / dedup_incremental_probe.
    "dedup_incremental_build",
    "dedup_incremental_probe",
    "text_bpe_train_small",
    "x_skew_agg_unsalted",
    "x_skew_agg_salted",
    # late round-5 additions (first recorded baselines: 2.8 / 6.2 / 1.1 s)
    "dedup_containment_pairs",
    "sample_split_leakproof",
    "ts_profile_knn",
    # round-7 second-wave additions (first recorded baselines this round):
    # the two deterministic sketches, the graph-family completions, the
    # layout key, PII scrub, the distributed-rank histogram + PSI drift,
    # and the bigram LM
    "x_cms_freq",
    "x_kmv_users_daily",
    "x_clustering_coeff",
    "x_adamic_adar",
    "x_hits",
    "x_zorder_key",
    "text_pii_redact",
    "x_equidepth_hist",
    "x_psi_drift",
    "text_bigram_logprob",
    # round-7 third-wave additions (first recorded baselines this round):
    # the deterministic HLL and theta-intersection sketches, the Bloom
    # runtime join filter, the exact-integer monitoring family
    # (CUSUM / OLS trend / Pearson matrix), corpus boilerplate n-grams,
    # cross-source overlap, and batch sessionization
    "x_hll_parts_monthly",
    "x_kmv_overlap",
    "x_bloom_prune_join",
    "x_cusum_drift",
    "x_trend_ols",
    "x_corr_matrix",
    "text_boilerplate_ngrams",
    "text_source_overlap",
    "x_sessionize_batch",
    "x_key_skew_profile",
    # round-7 fourth-wave additions (first recorded baselines this round):
    # the oracle-gated IVF ANN path, the hourly->daily HLL rollup, and
    # the HDR quantile sketch
    "sim_ivf_topk",
    "x_hll_rollup",
    "x_hdr_quantiles",
    "x_join_size_est",
    "x_ppr",
    # round-8 additions (first recorded baselines this round): derived
    # language ID + the per-language gate keyed on it, URL normalization /
    # registered-domain extraction, and the per-domain quota cap
    "text_langid",
    "text_langid_gate",
    "text_url_domains",
    "sample_domain_cap",
    "text_langid_margin",
    "text_domain_stats",
    "text_domain_blocklist",
    "text_url_domains_psl",
    # round-9 additions (first recorded baselines this round): the
    # script-range langid pre-classifier, the production broadcast-anti
    # blocklist, and the composed RefinedWeb-shape curation pipeline
    "text_langid_script",
    "text_domain_blocklist_anti",
    "train_curation_v2",
    "sample_global_shuffle",
    "train_curation_increment",
    "dedup_url_exact",
    "text_domain_quality_gate",
    "text_token_count_cjk",
    "sim_pq_topk",
    # round-10 additions (first recorded baselines this round): the IVF-PQ
    # composition, the near-dup-screened incremental admission, the
    # repetition-quality signals, and sequence-packing placement
    "sim_ivfpq_topk",
    "train_curation_increment_v2",
    "text_repetition_signals",
    "train_pack_sequences",
    "train_curation_v3",
]


def _canary(spark, out: list[float]) -> None:
    """One fixed constant-work probe (lineitem scan + three aggregates,
    noop sink), appended to `out`. Interleaved every ~10 queries so the
    artifact SELF-DOCUMENTS its ambient-load window (VERDICT r11 item 2):
    identical work spread across the whole run — a canary max/min spread
    of 3-4x says the run straddled a load window and absolute totals are
    not comparable across artifacts; a tight spread says they are."""
    from reddit_twitter_big_data_pipeline_spark import schemas

    li = schemas.load_table(spark, SF_DIR, "lineitem")
    t0 = time.time()
    li.selectExpr(
        "sum(l_extendedprice) AS s", "avg(l_quantity) AS a", "count(*) AS n"
    ).write.format("noop").mode("overwrite").save()
    out.append(round(time.time() - t0, 3))


def _canary_stats(times: list[float]) -> dict:
    if not times:
        return {}
    import statistics

    med = statistics.median(times)
    return {
        "times": times,
        "min": min(times),
        "max": max(times),
        "median": med,
        # max/min catches any excursion; max/median separates a one-off
        # spike (large spread, small spread_vs_median) from a run that
        # straddled a genuinely slow window (both large) — the r12
        # closing run read spread 7.7 / vs-median 4.2 from one spike
        # while the suite's only >1.5x mover re-timed back into its band
        "spread": round(max(times) / max(min(times), 1e-9), 2),
        "spread_vs_median": round(max(times) / max(med, 1e-9), 2),
    }


def main() -> None:
    import __spark_entry__ as E
    from reddit_twitter_big_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label

    qs = E.queries()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # JVM/codegen warmup on SYNTHETIC data only: the first timed query then
    # measures itself rather than JIT compilation and executor spin-up,
    # while no headline input's page cache is pre-warmed asymmetrically
    # (rep 1 is everyone's cold run; the min-of-reps records the warm one).
    spark.range(10_000_000).selectExpr("sum(id)", "count(distinct id % 1000)").write.format(
        "noop"
    ).mode("overwrite").save()
    canary_times: list[float] = []
    _canary(spark, [])  # untimed cold run: footer/page-cache warmup so
    # every RECORDED probe measures identical warm work, not cold-start
    _canary(spark, canary_times)  # baseline probe right after warmup
    timings: dict[str, float] = {}
    for qi, name in enumerate(HEADLINE):
        if qi and qi % 10 == 0:
            _canary(spark, canary_times)
        if name == "dedup_incremental_build":
            b, p = _bench_incremental_split(spark, reps)
            timings["dedup_incremental_build"] = b
            timings["dedup_incremental_probe"] = p
            continue
        if name == "dedup_incremental_probe":
            continue  # timed alongside the build row above
        fn = qs.get(name)
        if fn is None:
            continue
        best = -1.0
        for _ in range(reps):
            t0 = time.time()
            try:
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 3)
                best = dt if best < 0 else min(best, dt)
            except Exception as ex:  # noqa: BLE001
                print(f"bench error {name}: {ex}", file=sys.stderr)
                break
        timings[name] = best
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Full-surface visibility (VERDICT r5 item 8): one reps=1 pass over
    # every registered non-headline query so regressions on the long tail
    # are visible round-over-round. Separate section, NOT the headline
    # metric (single timings on this box swing 2-4×; treat these as a
    # tripwire, not a claim). SPARK_GRAFT_BENCH_FULL=0 skips it.
    full_surface: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        headline_set = set(HEADLINE) | {"dedup_incremental_pairs"}
        fi = 0
        for name, fn in qs.items():
            if name in headline_set:
                continue
            if fi and fi % 10 == 0:
                _canary(spark, canary_times)
            fi += 1
            t0 = time.time()
            try:
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                full_surface[name] = round(time.time() - t0, 3)
            except Exception as ex:  # noqa: BLE001
                print(f"bench error {name}: {ex}", file=sys.stderr)
                full_surface[name] = -1.0
    # Scaled-curation headline (VERDICT r12 item 8): one 16x-corpus
    # curate_corpus_v2 run (80k docs at sf0.1, the bench_curation_scaled
    # replica builder) so round-over-round comparison of the curation
    # stack happens where DATA COST dominates — the 5k-doc suite rows
    # are AQE stage-overhead-dominated and re-adjudicate as ambient
    # every round. Single rep: at ~2 minutes of real work the ambient
    # band is a small fraction, and the canary probes bracket it.
    # SPARK_GRAFT_BENCH_SCALED=0 skips (fast iteration).
    scaled: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_SCALED", "1") != "0":
        import importlib.util as _ilu

        _spec = _ilu.spec_from_file_location(
            "bench_curation_scaled",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tools",
                "bench_curation_scaled.py",
            ),
        )
        _bcs = _ilu.module_from_spec(_spec)
        _spec.loader.exec_module(_bcs)
        # the tool owns the workload (corpus, blocklist, gate constants):
        # the headline row must measure EXACTLY the scaling study's cell.
        # r14 (VERDICT r13 item 3): the increment/increment_v2 16x cells
        # join the v2 one — their 5k-doc suite rows are stage-overhead-
        # bound, so the data-cost-dominated scaled cells are where the
        # curation family's round-over-round comparison happens.
        #
        # MEASUREMENT FIX (r14, explicit per the driver contract): the
        # timer now starts BEFORE the plan build, matching the headline
        # loop's methodology. The r13 row started it after, which was
        # wrong once the r13 checkpoint barrier landed: a lazy
        # localCheckpoint executes its upstream stages at BUILD time
        # (AQE's toRdd runs every non-final stage), so the r13-recorded
        # v2_16x ≈ 10 s timed only the post-barrier half — the gate
        # stages (~60 s at 16x) ran untimed. Old numbers kept:
        # BENCH_r13.json scaled.train_curation_v2_16x = 10.169 (driver,
        # post-barrier half only); r14 baseline under the same broken
        # timer = 7.8 s.
        _scaled_builders = {
            "train_curation_v2_16x": _bcs.build_v2,
            "train_curation_increment_16x": _bcs.build_increment,
            "train_curation_increment_v2_16x": _bcs.build_increment_v2,
        }
        for _sname, _builder in _scaled_builders.items():
            _canary(spark, canary_times)
            t0 = time.time()
            try:
                _plan16 = _builder(spark, SF_DIR, 16)
                _plan16.write.format("noop").mode("overwrite").save()
                scaled[_sname] = round(time.time() - t0, 3)
            except Exception as ex:  # noqa: BLE001
                print(f"bench error {_sname}: {ex}", file=sys.stderr)
                scaled[_sname] = -1.0
    _canary(spark, canary_times)  # closing probe
    canary = _canary_stats(canary_times)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "full_surface": full_surface,
                "scaled": scaled,
                "canary": canary,
            }
        )
    )
    # The driver's BENCH_r{N}.json artifact keeps only the LAST 2000 chars
    # of stdout (measured: BENCH_r12/r13 "tail" is exactly 2000), so the
    # first line's full per-query dict is always cut mid-JSON and the
    # driver's per-query comparison came up empty two rounds running
    # (VERDICT r13 item 2). The full headline dict alone serializes to
    # ~2.8 KB — it can NEVER fit the tail — so the final line carries the
    # largest slowest-first PREFIX of it that keeps the line under 1900
    # bytes (~40 queries ≈ >90% of the suite's seconds; `queries_omitted`
    # counts the fast tail left out). The first printed line still holds
    # every query for local artifacts; no entry is removed or renamed
    # there. `top5_slowest` is subsumed: `queries` is sorted slowest-
    # first, so its first five keys ARE the old top5 field.
    summary = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "headline_queries": len(timings),
        "full_surface_queries": len(full_surface),
        "full_surface_total": round(
            sum(t for t in full_surface.values() if t >= 0), 3
        ),
        # ambient self-documentation (VERDICT r11 item 2): the
        # interleaved constant-work probe's spread — read >~3x as
        # "this artifact straddled a load window"
        "canary_spread": canary.get("spread"),
        "canary_spread_vs_median": canary.get("spread_vs_median"),
        "canary_min": canary.get("min"),
        "canary_max": canary.get("max"),
        # the 16x-corpus curation rows (data-cost-dominated, the
        # round-over-round comparison point for the curation stack)
        "scaled": scaled,
    }
    ordered = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    fitted: dict[str, float] = {}
    for name, t in ordered:
        trial = dict(fitted)
        trial[name] = t
        line = json.dumps(
            {**summary, "queries": trial, "queries_omitted": len(ordered) - len(trial)}
        )
        if len(line) > 1900:
            break
        fitted = trial
    print(
        json.dumps(
            {
                **summary,
                "queries": fitted,
                "queries_omitted": len(ordered) - len(fitted),
            }
        )
    )
    spark.stop()


def _bench_incremental_split(spark, reps: int) -> tuple[float, float]:
    """Time the incremental dedup's two phases separately: index BUILD
    (minhash_corpus_state over the corpus, forced to full materialization)
    and the steady-state per-batch PROBE against that prebuilt state. The
    probe is the operator's marginal ingest cost — the number that matters
    at 100 TB, where the index is built once and screened daily."""
    from pyspark.sql import functions as F

    from reddit_twitter_big_data_pipeline_spark import schemas
    from reddit_twitter_big_data_pipeline_spark.operators import dedup

    docs = schemas.load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # Bench shape (VERDICT r6 item 4, recorded in BASELINE.md r7). Two
    # changes make the row demonstrate the marginal-cost thesis instead of
    # contradicting it:
    #
    # 1. CORPUS: 8 salted replicas of the documents table (replica 0
    #    verbatim; replicas 1-7 inject a replica token between words, so
    #    replicas are mutually novel). At sf0.1 the raw table is only
    #    5000 docs — BOTH phases were fixed-stage-overhead-bound (probe's
    #    deeper DAG runs 29 Spark jobs vs build's 2, ~0.1 s each), so the
    #    asymptotic story could not show. At 40k docs build is work-bound;
    #    probe stays batch-proportional (measured: probe 4.2 s flat from
    #    8x to 16x corpus while build grew 9 s -> 13 s).
    # 2. BATCH: ~95% genuinely NOVEL rows — a per-doc salt token between
    #    every word, so no k-shingle survives and they generate no
    #    candidates — plus ~5% planted exact dups of replica-0 docs. The
    #    pre-r7 batch reused corpus text verbatim, so 100% of rows hit
    #    candidate verification and the row measured verify cost.
    #
    # The full batch-equals-corpus form stays oracle-gated as
    # dedup_incremental_probe in queries().
    replicas = [
        F.struct(
            (F.col("doc_id") + r * 1000000).alias("doc_id"),
            (
                F.col("text")
                if r == 0
                else F.regexp_replace(F.col("text"), F.lit(" "), F.lit(f" r{r} "))
            ).alias("text"),
        )
        for r in range(8)
    ]
    corpus = docs.select(F.explode(F.array(*replicas)).alias("s")).select(
        "s.doc_id", "s.text"
    )
    salt = F.concat(F.lit(" n"), (F.col("doc_id") + 50000000).cast("string"), F.lit(" "))
    new = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 50000000).alias("doc_id"),
        F.when(F.col("doc_id") % 80 == 0, F.col("text"))
        .otherwise(F.regexp_replace(F.col("text"), F.lit(" "), salt))
        .alias("text"),
    )
    build_best = probe_best = -1.0
    for _ in range(reps):
        try:
            t0 = time.time()
            state = dedup.minhash_corpus_state(corpus)
            for f in state:
                f.write.format("noop").mode("overwrite").save()  # force persist
            dt = round(time.time() - t0, 3)
            build_best = dt if build_best < 0 else min(build_best, dt)
            t0 = time.time()
            dedup.minhash_incremental_pairs(
                new, corpus, threshold=0.9, corpus_state=state
            ).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            probe_best = dt if probe_best < 0 else min(probe_best, dt)
        except Exception as ex:  # noqa: BLE001
            print(f"bench error dedup_incremental_split: {ex}", file=sys.stderr)
            break
        finally:
            try:
                for f in state:
                    f.unpersist()
            except Exception:  # noqa: BLE001
                pass
    return build_best, probe_best


if __name__ == "__main__":
    main()
