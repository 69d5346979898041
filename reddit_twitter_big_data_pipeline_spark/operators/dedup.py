"""Deduplication operators for training-data pipelines (BASELINE.json
north-star): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup.

Scale design notes (the point of each implementation):

- **exact**: one hash-shuffle on the 128-bit fingerprint — never on the raw
  text (at 100 TB the shuffle payload must be the 16-byte key, not the
  document). Canonical keeper = min(id) per group.
- **MinHash+LSH**: signatures are computed with ONE aggregation over the
  exploded shingle set (64 mins in a single groupBy — not 64 passes); LSH
  banding turns the O(n²) pair space into per-bucket self-joins. Candidate
  pairs then verify with exact Jaccard computed from shingle sets carried in
  the same row — no second scan of the corpus.
- **SimHash**: per-document bit-vote aggregation over token hashes; 64-bit
  signature as a long; near-dups = hamming distance ≤ k within LSH-style
  chunks of the signature.
- **n-gram Jaccard**: the exact verifier — explode shingles, equi-join on
  shingle, |A∩B| via count, |A∪B| = |A|+|B|−|∩|. All relational; skew on
  very common shingles is bounded by dropping top-frequency shingles
  (`max_shingle_freq`), the standard trick for web-scale dedup.
- **embedding near-dup**: random-hyperplane LSH over the embedding column →
  bucketed exact-cosine verify (see operators.similarity for the shared
  primitives).

Hash function: xxhash64 (JVM built-in, whole-stage codegen) everywhere the
result doesn't need a cross-engine oracle; md5-derived longs where it does.

Cache lifetime: the pair generators persist compact intermediates (hashed
shingles, signatures) that the returned LAZY DataFrame still depends on, so
they cannot be unpersisted inside the operator. Every such persist is
REGISTERED (ADVICE r7): callers that loop over many corpora release them
deterministically with `release_shingle_caches()` once their results are
materialized, or scope a batch of calls with `shingle_cache_scope()` —
otherwise they evict under normal LRU storage pressure as before. The
iterative operators (connected_components) instead checkpoint + release
eagerly because their results are materialized before returning;
`minhash_corpus_state` is exempt by contract (the persisted frames ARE the
returned index state, explicitly caller-owned).
"""

from __future__ import annotations

import contextlib
from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from . import text as text_ops
from ..checkpointing import truncate_lineage as _truncate

# --- internal-cache registry (ADVICE r7 / VERDICT r7 item 4) ---------------
#
# The pair generators persist compact intermediates that their LAZY results
# still depend on; the operator cannot unpersist them itself. Before r8
# those persists had NO release path at all — every call on a distinct
# input frame added a session-lifetime cache entry. Each internal persist
# now registers here; two caller-facing release forms:
#
#   dedup.release_shingle_caches()   # unpersist everything registered
#   with dedup.shingle_cache_scope():  # ... calls ...   (scoped release)
#
# Both are safe to call at any time — unpersist is idempotent, and a
# released intermediate only costs recompute-from-lineage if a still-lazy
# result is evaluated afterwards (correctness is unaffected). Repeat calls
# on the SAME input frame re-register the same canonicalized plan, which
# shares one underlying cache entry (the r5 per-call-leak fix is
# unchanged); the registry just holds another handle to it.

_SHINGLE_CACHES: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    """persist() + record the handle so callers can release it later."""
    df.persist()
    _SHINGLE_CACHES.append(df)
    return df


def release_shingle_caches() -> int:
    """Unpersist every intermediate this module has persisted (hashed
    shingles, prefix-filter set tables, MinHash signatures). Call once the
    results of the pair generators are materialized (collected/written).
    Returns the number of handles released."""
    n = len(_SHINGLE_CACHES)
    while _SHINGLE_CACHES:
        _SHINGLE_CACHES.pop().unpersist()
    return n


@contextlib.contextmanager
def shingle_cache_scope() -> Iterator[None]:
    """Context-manager form: on exit, unpersist exactly the intermediates
    registered inside the block (materialize results before leaving)."""
    mark = len(_SHINGLE_CACHES)
    try:
        yield
    finally:
        while len(_SHINGLE_CACHES) > mark:
            _SHINGLE_CACHES.pop().unpersist()


# --- exact dedup -----------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: (keep_id, n_dups). keep_id =
    min(id). Shuffles 16-byte fingerprints, not documents."""
    return (
        df.select(F.col(id_col), text_ops.fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedupe(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly the min-id row per duplicate group, preserving all
    columns. Requires `id_col` unique (it is the row identity).

    Anti-join formulation (VERDICT r2 item 3): the fingerprint window runs
    over a slim (id, fp) projection — a 24-byte exchange — and reduces to
    the LOSER id set, which is then `left_anti`-joined against the corpus.
    The loser set is tiny whenever duplication is the exception, so AQE
    turns the anti-join into a broadcast and the documents themselves never
    enter an exchange. (The previous form windowed the full rows: every
    document rode the fingerprint shuffle — at 100 TB the shuffle IS the
    table.)"""
    slim = df.select(F.col(id_col), text_ops.fingerprint(text_col).alias("fp"))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    losers = (
        slim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def url_dedupe(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """URL-level exact dedup — the FIRST pass a CommonCrawl-style
    curation pipeline runs (FineWeb/CCNet drop recrawls of the same
    page by URL before any content pass touches text). Keys on
    ``normalize_url`` (scheme/host lowercased, query/fragment and
    trailing slashes stripped), so trivially-different crawl records of
    one page — tracking params, fragments, case — collapse to the
    min-id row. Same anti-join shape as ``exact_dedupe``: the window
    runs over a slim (id, 32-byte url-hash) projection and reduces to
    the loser id set; documents never ride the exchange.

    NULL urls are NOT duplicates of each other (ADVICE r9): a nullable
    url column would otherwise hash every url-less document to one NULL
    window partition and silently drop all but one. Null-url rows are
    excluded from the loser computation entirely, so they always pass
    through — only rows that genuinely share a normalized URL dedupe.
    The same guard covers empty normalizations (whitespace-only or
    fragment-only strings normalize to '' — no shared page identity)."""
    slim = (
        df.filter(F.col(url_col).isNotNull())
        .select(F.col(id_col), text_ops.normalize_url(url_col).alias("__un"))
        .filter(F.col("__un") != "")
        .select(F.col(id_col), F.md5("__un").alias("__uf"))
    )
    w = Window.partitionBy("__uf").orderBy(F.col(id_col).asc())
    losers = (
        slim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# --- shingles --------------------------------------------------------------


# Fan a low-partition-count input out to the session's parallelism before a
# high-fan-out op (shingle/variant explode) — measured 3.5× on the sf0.1
# bench; see parallel.spread for the full rationale.
from ..parallel import spread as _spread  # noqa: E402


def shingles(col: str = "text", k: int = 3) -> Column:
    """k-token shingles of the normalized text, as array<string>. Distinct
    per document (set semantics for Jaccard)."""
    toks = F.split(text_ops.normalize_text(col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    # guard: shorter-than-k docs shingle to the whole text
    return F.array_distinct(F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(sh))


def explode_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    return _spread(df).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("shingle")
    )


# --- n-gram Jaccard (exact pairwise over candidate space) ------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    prefix_filter: bool = False,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    Default plan (flat similarity join): explode → hash each shingle to a
    long ONCE → frequency cap → self-equi-join on the 8-byte hash →
    pair-count = |∩| → join per-doc set sizes → J = ∩/(|A|+|B|−∩). Every
    exchange payload is 8-byte hashes — the raw shingle string is hashed
    once and never shipped; at 100 TB the join key size IS the shuffle.

    `prefix_filter=True` switches candidate generation to the AllPairs /
    PPJoin prefix filter (Bayardo et al., WWW'07; Xiao et al., WWW'08):
    under a rarest-first global shingle order, two sets with J ≥ t MUST
    share an element within the first |s| − ⌈t·|s|⌉ + 1 elements of each
    (else the overlap is provably < t·|s| ≤ t·|union|), so only prefixes
    self-join and verification runs `array_intersect` on per-doc hash
    arrays for the surviving candidates. Both paths return identical rows
    (property-tested); choose by corpus shape:

    - Zipfian shingle frequencies (real web/text corpora at scale): prefix
      wins — the frequent head falls in pruned suffixes and the candidate
      space collapses toward the true pair count.
    - Dense/small-vocabulary corpora (mean shingle frequency high, like the
      synthetic bench corpus at mean f≈19): the flat join wins — prefixes
      still cross-match heavily (measured 4.5M → only 1.6M candidates) and
      the extra set-building + verify stages cost more than they save.

    `max_shingle_freq` caps join fan-out on stop-shingles — a shingle in f
    docs contributes f² join rows, the classic web-scale skew bomb, so the
    cap defaults ON (1000; sizes and Jaccard are computed over the capped
    shingle set, the standard web-dedup semantics). Pass None explicitly
    for exact uncapped Jaccard on corpora known to be skew-free.

    r7 flat-path shape (`_flat_intersections`): no frequency side-pass and
    no self-join — ONE shuffle by the shingle hash, a window count applies
    the hot-shingle cap in-stream (identical row set to the old freq-list
    semi-join), per-shingle id arrays build in the same stage
    (cap-bounded, so never a degenerate array), and candidate pairs
    explode positionally — the `_bucket_pairs` discipline. The CAPPED
    frame (strictly smaller than the old uncapped persist) is the one
    cached frame; pair build and both size joins read it. Measured r7
    (interleaved 3-way A/B at sf0.1, identical pairs): 2.92 s old →
    1.87 s. Uncapped (None) keeps the plain self-join: an unbounded
    per-shingle array would be the OOM the caller opted into.
    """
    if prefix_filter:
        ex = _register_cache(hashed_shingles(df, id_col, text_col, k))
        freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
        if max_shingle_freq is not None:
            freq = freq.filter(F.col("f") <= max_shingle_freq)
        # Per-doc rarest-first shingle arrays: sort_array on (f, h) structs
        # gives the canonical order; one groupBy builds the whole set table.
        sets = (
            ex.join(freq, "h")
            .groupBy("id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("f", "h"))), lambda x: x["h"]
                ).alias("arr")
            )
            .select(
                "id",
                "arr",
                F.size("arr").alias("sz"),
                (F.size("arr") - F.ceil(F.lit(threshold) * F.size("arr")) + 1)
                .cast("int")
                .alias("p"),
            )
        )
        sets = _register_cache(sets)
        pref = sets.select(
            "id", F.explode(F.slice("arr", F.lit(1), F.col("p"))).alias("h")
        )
        cand = (
            pref.select(F.col("id").alias("a"), "h")
            .join(pref.select(F.col("id").alias("b"), "h"), "h")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        return (
            cand.join(
                sets.select(
                    F.col("id").alias("a"), F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a")
                ),
                "a",
            )
            .join(
                sets.select(
                    F.col("id").alias("b"), F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b")
                ),
                "b",
            )
            .withColumn("common", F.size(F.array_intersect("arr_a", "arr_b")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )

    exk, inter = _flat_intersections(
        hashed_shingles(df, id_col, text_col, k), max_shingle_freq
    )
    sizes = exk.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("sz_b")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _flat_intersections(ex: DataFrame, max_shingle_freq: int | None) -> tuple[DataFrame, DataFrame]:
    """Shared flat path for ``jaccard_pairs`` / ``containment_pairs``:
    returns (capped shingle frame, per-pair |∩| frame (a, b, common)).

    Capped: ONE shuffle by the shingle hash; a window count drops
    hot-shingle rows in-stream (row set identical to the former freq-list
    semi-join), per-shingle id arrays build in the same stage — bounded by
    the cap, so no degenerate array can form — and each unordered
    candidate pair explodes positionally exactly once per shared shingle,
    feeding the |∩| count. The CAPPED frame is persisted (the module's
    structural rule: the hashed-shingle frame is computed once, 16
    bytes/row, and every consumer — pair build plus the caller's two size
    joins — reads the cache; measured r7, interleaved 3-way A/B at sf0.1:
    exchange/stage reuse does NOT collapse the three branches, so the
    unpersisted form re-scans the text per branch — fine locally, wrong
    at 100 TB. old freq-join+self-join 2.92 s / unpersisted window form
    2.05 s / this form 1.87 s, identical pairs. On a cluster-scale run
    checkpoint the capped frame to storage instead of memory cache). The
    persist is plan-canonical-stable across calls — one cache entry per
    DISTINCT input, not the r5 per-call leak — and registered with the
    module cache registry (r8, ADVICE r7), so loop-over-corpora callers
    release entries via `release_shingle_caches()` /
    `shingle_cache_scope()` once results are materialized.

    Uncapped (None): the plain hash self-join over a persisted frame — an
    unbounded per-shingle array would be the OOM the caller opted into,
    and without a cap the f² join fan-out needs the cache to avoid
    recomputing the shingle subtree per side."""
    if max_shingle_freq is not None:
        w = Window.partitionBy("h")
        exk = _register_cache(
            ex.withColumn("__f", F.count(F.lit(1)).over(w))
            .filter(F.col("__f") <= max_shingle_freq)
            .drop("__f")
        )
        grouped = exk.groupBy("h").agg(F.collect_list("id").alias("__m"))
        inter = (
            grouped.select(F.posexplode("__m").alias("__i", "__x"), "__m")
            .select(
                "__x",
                F.explode(F.slice("__m", F.col("__i") + 2, F.size("__m"))).alias("__y"),
            )
            .select(
                F.least("__x", "__y").alias("a"), F.greatest("__x", "__y").alias("b")
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        return exk, inter
    ex = _register_cache(ex)
    inter = (
        ex.select(F.col("id").alias("a"), "h")
        .join(ex.select(F.col("id").alias("b"), "h"), "h")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return ex, inter


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.9,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All pairs (a < b) with overlap coefficient |A∩B| / min(|A|, |B|) ≥
    threshold — the near-SUPERSET detector symmetric Jaccard misses: a
    long page quoting a short document verbatim scores Jaccard ≈
    |B|/|A| (arbitrarily small) but containment 1.0. The standard
    boilerplate/quotation/wrapper-page check run alongside near-dup dedup
    in web-corpus curation.

    Identical scale shape to ``jaccard_pairs``' flat path (shared
    `_flat_intersections`): shingles hash once to 8-byte longs, the
    hot-shingle cap applies in-stream on one shuffle, every exchange ships
    hashes + counts only. Returns (a, b, containment)."""
    exk, inter = _flat_intersections(
        hashed_shingles(df, id_col, text_col, k), max_shingle_freq
    )
    sizes = exk.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    cont = F.col("common") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("sz_b")), "b")
        .filter(cont >= threshold)
        .select("a", "b", F.round(cont, 6).alias("containment"))
    )


# --- MinHash + LSH ---------------------------------------------------------


def hashed_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, h): each distinct shingle hashed to a long ONCE. Every MinHash
    stage derives from this frame — signatures permute the 8-byte long, the
    verify joins on it, sizes count it. The raw shingle string is hashed
    exactly one time per (doc, shingle); at 100 TB that is the difference
    between one scan of the text and num_perm scans."""
    return explode_shingles(df, id_col, text_col, k).select(
        "id", F.xxhash64("shingle").alias("h")
    )


def minhash_signatures_from_hashes(ex: DataFrame, num_perm: int = 64) -> DataFrame:
    """(id, sig array<long>[num_perm]) from a hashed-shingle frame:
    sig[i] = min over shingles of xxhash64(i, h) — the i-th permutation
    re-hashes the 12-byte (int, long) pair JVM-side (whole-stage codegen),
    never the shingle string.

    ONE groupBy: map-side partial aggregation shrinks the exchange to one row
    per (doc × partition). The signature is ONE array-typed aggregate output —
    never num_perm aliased columns (wide aliased projections make Catalyst's
    constraint propagation quadratic in plan width; a single array attribute
    keeps the constraint set O(1) regardless of num_perm)."""
    return ex.groupBy("id").agg(
        F.array(
            *[F.min(F.xxhash64(F.lit(i), F.col("h"))) for i in range(num_perm)]
        ).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 3,
) -> DataFrame:
    """Convenience wrapper: shingle → hash-once → permute arithmetically."""
    return minhash_signatures_from_hashes(
        hashed_shingles(df, id_col, text_col, k), num_perm
    )


def _band_frame(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket): each doc's signature sliced into `bands` buckets,
    bucket = hash of the band's rows — the 16-byte join key every LSH
    consumer (self-join, incremental new-vs-corpus join) shuffles on."""
    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[i * rows_per_band + j] for j in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


_CAP_METRIC_SEQ = [0]  # monotone suffix so repeated calls never collide on
# observation names within one SparkSession (same-name CollectMetrics nodes
# are only legal when they are the identical subplan, e.g. a self-join).


def _bucket_pairs(frame: DataFrame, keys: list[str], max_bucket_size: int, metric: str) -> DataFrame:
    """Within-bucket candidate pairs with the bucket cap applied in the
    SAME pass: group `frame` by the bucket `keys` into cap-bounded member
    arrays, drop every bucket with more than `max_bucket_size` members
    (standard web-scale LSH practice, mirroring `max_shingle_freq` in
    jaccard_pairs — a bucket that large is a non-discriminative band/chunk
    whose f² fan-out is a straggler task at 100 TB), then explode each
    surviving bucket's positional pairs. Returns (x struct, y struct) of
    the non-key payload columns, each unordered pair once.

    Shape history (VERDICT r6 item 2): the original form was a separate
    count-aggregate → broadcast-anti-join → bucket self-join. Persisting
    the band frame inside it leaked one cache per call (ADVICE r5); the r6
    unpersisted form recomputed the banding subtree three times (its cap
    aggregate and both join sides each carried their own exchange with a
    partial-aggregate or differing child, so ReuseExchange could not
    collapse them) and cost dedup_simhash_pairs ~23%.

    This form shuffles the frame ONCE and applies the cap in-stream: a
    window count over the bucket keys (the window's hash partitioning IS
    the aggregation's required distribution, so the downstream
    `collect_list` adds NO second exchange), a filter dropping every row
    of an over-full bucket BEFORE any array is built, then the member-
    array aggregation in the same stage. No task ever materializes a
    degenerate bucket's array — a 10M-member adversarial bucket streams
    through WindowExec's spill-backed group buffer and is dropped as rows
    (an earlier draft filtered AFTER collect_list and would have OOM'd
    exactly the bucket the cap exists for; a census-branch variant
    recomputed the upstream subtree because column pruning broke exchange
    canonicalization and ReuseExchange never fired). Leak-free by
    construction — no persist anywhere (measured: see BASELINE.md r7
    simhash A/B). Pair expansion is a narrow positional double-explode
    over cap-bounded arrays. Callers needing uncapped semantics keep the
    plain self-join — an unbounded collect_list would be the OOM they
    opted into, just in one row instead of one task.

    The observed metric `<metric>_<n>` reports rows living in dropped
    buckets, so production runs can alert on silent recall loss via a
    QueryExecutionListener. (The `__bsz <= cap` filter cannot reach below
    the metric: `__bsz` is a window output and CollectMetrics blocks
    predicate pushdown — pinned in
    test_bucket_cap_metric_not_pushed_below_observe.)"""
    _CAP_METRIC_SEQ[0] += 1
    payload = [c for c in frame.columns if c not in keys]
    w = Window.partitionBy(*keys)
    buckets = (
        frame.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .observe(
            f"{metric}_{_CAP_METRIC_SEQ[0]}",
            F.coalesce(
                F.sum(F.when(F.col("__bsz") > max_bucket_size, F.lit(1))),
                F.lit(0),
            ).alias("rows_in_dropped_buckets"),
        )
        .filter(F.col("__bsz") <= max_bucket_size)
        .groupBy(*keys)
        .agg(F.collect_list(F.struct(*payload)).alias("__m"))
    )
    return (
        buckets.select(F.posexplode("__m").alias("__i", "x"), F.col("__m"))
        .select(
            "x",
            F.explode(F.slice("__m", F.col("__i") + 2, F.size("__m"))).alias("y"),
        )
        .select("x", "y")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Banding: docs agreeing on ALL rows of any band become a candidate
    pair. One explode (bands per doc) + grouped within-bucket pair
    expansion (`_bucket_pairs`). Bucket key is a hash of the band slice,
    so the shuffle key is (band, long) — tiny.

    `max_bucket_size` (default 1000) caps per-bucket fan-out via
    `_bucket_pairs`; measured bucket maxima on the bench corpus are ≤4 at
    sf0.1, so the default never fires there — it exists for the
    adversarial/degenerate tail (e.g. thousands of near-empty docs sharing
    a band signature). Pass None to disable."""
    b = _band_frame(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        p = _bucket_pairs(b, ["band", "bucket"], max_bucket_size, "lsh_bucket_cap")
        return (
            p.select(
                F.least("x.id", "y.id").alias("a"),
                F.greatest("x.id", "y.id").alias("b"),
            )
            .distinct()
        )
    left = b.select(F.col("id").alias("a"), "band", "bucket")
    right = b.select(F.col("id").alias("b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact-Jaccard
    verify on the candidate pairs only. Returns (a, b, jaccard ≥ threshold).

    Structural rule (the r1 version violated it and paid 4-40×): the
    hashed-shingle frame is computed ONCE and persisted; signatures, the
    banding self-join's two sides, per-doc sizes, and the verify join all
    read the SAME materialized frame instead of re-deriving
    explode+normalize+hash per consumer. The persist is (id long, h long) —
    16 bytes/row — so memory is bounded by shingle count, never text size;
    on a cluster-scale run checkpoint it to cluster storage instead.

    The verify is fully relational: candidates fan out to their shingle
    hashes and equi-join on (doc, h) — |∩| via count, |∪| = |A|+|B|−|∩|.
    LSH recall note (gate robustness): with num_perm=64 / bands=16 the
    candidate-recall at Jaccard J is 1−(1−J⁴)¹⁶ — ≈1 above J≈0.9, but only
    ~0.65 at J=0.5. Callers comparing against an exact-Jaccard oracle must
    set `threshold` in the recall≈1 regime (≥0.9) or accept missed pairs
    near the threshold.
    """
    rows_per_band = num_perm // bands
    ex = _register_cache(hashed_shingles(df, id_col, text_col, k))
    sigs = _register_cache(minhash_signatures_from_hashes(ex, num_perm))
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket_size)
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        cand.join(ex.select(F.col("id").alias("a"), "h"), "a")
        .join(ex.select(F.col("id").alias("b"), "h"), ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("sz_b")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_corpus_state(
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 3,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Build the stored-index state for ``minhash_incremental_pairs``:
    (hashed-shingle frame (id, h), band frame (id, band, bucket)). Persist
    these once at ingest (or write them as tables and read back); every
    subsequent batch screens against them without touching the corpus
    text. Parameters must match the later incremental calls."""
    ex = hashed_shingles(corpus_docs, id_col, text_col, k).persist()
    b = _band_frame(
        minhash_signatures_from_hashes(ex, num_perm), bands, num_perm // bands
    ).persist()
    return ex, b


def minhash_incremental_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    corpus_state: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Ingest-time near-dup check: pairs (a, b, jaccard ≥ threshold) where
    AT LEAST ONE side is from `new_docs` — new×corpus and new×new, never
    re-checking corpus×corpus. THE production dedup shape: a daily batch
    is screened against the accumulated corpus at a cost proportional to
    the batch (new bands probe the bucket space; corpus bands are the
    probe TARGET, one-sided in the join), instead of re-running the full
    self-join over corpus² every day.

    Ids must be unique across both inputs. Output pairs are canonical
    (a < b), matching the batch operator's convention. `corpus_state` is
    the stored-index form: pass ``minhash_corpus_state(corpus)`` (persist
    or write its two frames at ingest) and the corpus text is never
    re-shingled — per-batch cost collapses to batch-shingles + one
    bucket-keyed join against the stored band table (measured 12 s → 3 s
    at 200k corpus / 10k batch). Without it, the corpus side is derived
    here from `corpus_docs`. Same recall math as ``minhash_dedup_pairs``
    (1−(1−J^r)^bands).
    """
    rows_per_band = num_perm // bands
    ex_new = hashed_shingles(new_docs, id_col, text_col, k).persist()
    if corpus_state is not None:
        ex_old, b_old = corpus_state
    else:
        ex_old = hashed_shingles(corpus_docs, id_col, text_col, k).persist()
        b_old = _band_frame(
            minhash_signatures_from_hashes(ex_old, num_perm), bands, rows_per_band
        )
    b_new = _band_frame(minhash_signatures_from_hashes(ex_new, num_perm), bands, rows_per_band)
    # probe side = new bands only; target side = corpus ∪ new (so new×new
    # dups are caught too); canonicalize and drop self-matches
    probe = b_new.select(F.col("id").alias("n"), "band", "bucket")
    target = b_old.unionByName(b_new).select(F.col("id").alias("m"), "band", "bucket")
    cand = (
        probe.join(target, ["band", "bucket"])
        .filter(F.col("n") != F.col("m"))
        .select(
            F.least("n", "m").alias("a"), F.greatest("n", "m").alias("b")
        )
        .distinct()
    )
    # verify ONLY candidate docs: the candidate id set is bounded by the
    # batch (each new doc collides with a handful of buckets), so a
    # broadcast semi-join prunes the corpus shingle frame BEFORE any wide
    # work — without this, sizes/common aggregate the full corpus per
    # batch and the stored index buys nothing (measured: 12 s → 3 s at
    # 200k corpus / 10k batch)
    cand = cand.persist()
    cand_ids = (
        cand.select(F.col("a").alias("id"))
        .unionByName(cand.select(F.col("b").alias("id")))
        .distinct()
    )
    ex_cand = (
        ex_new.unionByName(ex_old).join(F.broadcast(cand_ids), "id", "left_semi").persist()
    )
    sizes = ex_cand.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        cand.join(ex_cand.select(F.col("id").alias("a"), "h"), "a")
        .join(ex_cand.select(F.col("id").alias("b"), "h"), ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    out = (
        common.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("sz_b")), "b")
        .filter(jac >= threshold)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )
    # Eager materialize-and-release (the iterative-op discipline, NOT the
    # module's lazy pair-generator policy): this function runs once per
    # ingest batch, so leaving per-call persists to LRU would accumulate
    # pinned storage batch after batch. The output is batch-bounded by
    # contract; localCheckpoint cuts its lineage off the persisted
    # intermediates so they release immediately. Caller-owned
    # `corpus_state` frames are deliberately NOT released here.
    out = out.localCheckpoint(eager=True)
    ex_new.unpersist()
    cand.unpersist()
    ex_cand.unpersist()
    if corpus_state is None:
        ex_old.unpersist()
    return out


# --- SimHash ---------------------------------------------------------------


def _md5_token_hash(t: Column) -> Column:
    """60-bit token hash from md5 — slower than xxhash64 but reproducible in
    any engine with md5 (the DuckDB oracle mirrors it verbatim)."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash long): signature from per-token hash bit votes.

    Plan shape: tokens → token hashes (array<long>, one expression) → for
    each bit, vote = Σ tokens (±1) → bit set iff vote > 0. The whole
    signature is ONE array expression over the token-hash array — no
    explode, no shuffle; a groupBy-free narrow projection.

    hash_fn: "xxhash64" (64-bit, JVM-fast, default) or "md5" (60-bit,
    cross-engine-reproducible for the DuckDB oracle).
    """
    n_bits = 64 if hash_fn == "xxhash64" else 60
    toks = F.split(text_ops.normalize_text(text_col), " ")
    # Relational formulation: explode tokens → hash each once → ONE groupBy
    # with n_bits conditional-sum aggregates. Everything stays inside
    # whole-stage codegen (array HOF folds are interpreted in Spark — an
    # earlier fold-based version was ~30× slower), partial aggregation
    # shrinks the shuffle to one row per (doc × partition), and the shuffle
    # key is the doc id. Token multiplicity is preserved (classic SimHash
    # frequency weighting).
    ex = _spread(df).select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
    h = F.xxhash64(F.col("t")) if hash_fn == "xxhash64" else _md5_token_hash(F.col("t"))
    hashed = ex.select("id", h.alias("h"))
    # Votes land in ONE array-typed aggregate column (see minhash_signatures
    # for why plan width matters: Catalyst constraint propagation is
    # quadratic in the number of aliased attributes).
    votes = hashed.groupBy("id").agg(
        F.array(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                )
                for b in range(n_bits)
            ]
        ).alias("v")
    )
    sig = None
    for b in range(n_bits):
        bit = F.shiftleft(
            F.when(F.element_at(F.col("v"), b + 1) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
            b,
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select("id", sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 15/16-bit signature chunks
    (pigeonhole: distance ≤ 3 ⇒ at least one of 4 chunks identical), verify
    hamming ≤ k within blocks. Same LSH-shape plan as MinHash banding.

    `max_bucket_size` caps per-chunk-bucket fan-out exactly like
    `lsh_candidate_pairs` (measured chunk-bucket max 269 at sf0.1, so the
    default 1000 never fires on the bench corpus); a dropped bucket is a
    16-bit slice shared by >1000 docs — non-discriminative by definition.
    Pass None to disable."""
    chunk_bits = 16 if hash_fn == "xxhash64" else 15
    mask = (1 << chunk_bits) - 1
    sigs = simhash_signatures(df, id_col, text_col, hash_fn)
    chunks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", "cc.chunk", "cc.key")
    if max_bucket_size is not None:
        p = _bucket_pairs(chunks, ["chunk", "key"], max_bucket_size, "simhash_bucket_cap")
        pairs = p.select(
            F.least("x.id", "y.id").alias("a"),
            F.greatest("x.id", "y.id").alias("b"),
            hamming64(F.col("x.simhash"), F.col("y.simhash")).alias("distance"),
        )
    else:
        left = chunks.select(F.col("id").alias("a"), F.col("simhash").alias("sig_a"), "chunk", "key")
        right = chunks.select(F.col("id").alias("b"), F.col("simhash").alias("sig_b"), "chunk", "key")
        pairs = (
            left.join(right, ["chunk", "key"])
            .filter(F.col("a") < F.col("b"))
            .withColumn("distance", hamming64(F.col("sig_a"), F.col("sig_b")))
        )
    return (
        pairs.filter(F.col("distance") <= max_distance)
        .select("a", "b", "distance")
        .distinct()
    )


# --- pairs → clusters → canonical keep (the end of every dedup pipeline) ---


def _cc_local(edges: DataFrame) -> DataFrame:
    """Single-task union-find for a SMALL symmetrized edge list (the
    k_core small-graph precedent): path-compressed union-find inside one
    mapInPandas partition, then each component labeled by its MIN member
    id — exactly the hash-min fixpoint the global loop converges to.
    coalesce(1) is a narrow move of the materialized edges — no shuffle,
    no driver collect, one job instead of O(diameter) rounds."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("node", edges.schema["s"].dataType),
            T.StructField("component", edges.schema["s"].dataType),
        ]
    )

    def run(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(pdf["s"], pdf["d"]):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rs] = rd
        if not parent:
            return
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            if r not in comp_min or n < comp_min[r]:
                comp_min[r] = n
        yield pd.DataFrame(
            [(n, comp_min[find(n)]) for n in parent], columns=["node", "component"]
        )

    return edges.coalesce(1).mapInPandas(run, out_schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """Group near-dup PAIRS (from minhash/simhash/embedding/jaccard) into
    clusters: returns (node, component) where component = the smallest node
    id reachable from `node`. Iterative hash-min label propagation — each
    round every node takes the min label among itself and its neighbors;
    converges in O(component diameter) rounds, and near-dup components are
    shallow (stars around a popular document), so the practical bound is a
    handful of rounds, NOT max_iter.

    Scale shape: each round is one edge-join + one groupBy-min on node id —
    all shuffles keyed the same way; lineage is truncated per round
    exactly as in comment_depth, so plan size stays flat.
    Stops early when a round changes no label (count of changed rows — one
    scan over labels, cheap next to the join).

    `checkpoint_dir` (cluster runs): per-round truncation uses a RELIABLE
    checkpoint under that dir instead of executor-block localCheckpoint,
    so an executor loss mid-propagation recovers instead of killing the
    job (see checkpointing.truncate_lineage)."""
    edges = _truncate(
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .union(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .distinct(),
        checkpoint_dir,
    )
    if edges.count() <= local_threshold:
        # Small-graph fast path: near-dup pair graphs are id-pair-sized
        # (the texts never joined), so after dedup's own candidate
        # generation they are usually task-sized. Bounded by contract:
        # ≤ local_threshold symmetrized edges (~30 MB at the default)
        # materialize in ONE executor task, never on the driver. The
        # count is a cheap job over the already-materialized checkpoint.
        return _cc_local(edges)
    labels = _truncate(
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        checkpoint_dir,
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["d"] == labels["node"])
            .select(F.col("s").alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("__nmin"))
        )
        new_labels = _truncate(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce(F.col("__nmin"), F.col("component"))).alias(
                    "component"
                ),
                (F.col("__nmin") < F.col("component")).alias("__changed"),
            ),
            checkpoint_dir,
        )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        old = labels
        labels = new_labels.drop("__changed")
        old.unpersist()
        if changed == 0:
            break
    else:
        # silent non-convergence would hand dedup_keep_canonical split
        # components and KEEP duplicate documents — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; a component's diameter exceeds it — raise max_iter"
        )
    return labels


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any k-token
    shingle with an evaluation/benchmark set (the standard n-gram-overlap
    check run before training; k=8 is the common published choice, k is
    tunable down for short texts). Output: one row per corpus document —
    (id, n_contaminated [distinct overlapping shingles], contaminated).

    Scale shape: the benchmark side (eval sets are MB-scale) reduces to a
    DISTINCT set of 8-byte shingle hashes and BROADCASTS; the corpus streams
    once through explode → hash → broadcast-hash-join → per-doc count. The
    corpus is never shuffled — the only wide op is the per-doc count, keyed
    on the doc id. Hash-collision false positives are ~|shingles|²/2⁶⁴.
    """
    ex = hashed_shingles(corpus, id_col, text_col, k)
    bench = hashed_shingles(benchmark, id_col, text_col, k).select("h").distinct()
    hits = (
        ex.join(F.broadcast(bench), "h")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs (a < b) with Levenshtein distance ≤ 1 — the fuzzy-key /
    entity-resolution join, blocked so it never goes all-pairs.

    Blocking is the FastSS / SymSpell deletion neighborhood: every string
    expands to itself plus its |s| single-character-deletion variants; two
    strings within edit distance 1 ALWAYS share a variant (substitution →
    delete the differing position from both; insert/delete → the longer
    side's deletion equals the shorter), so candidate recall is exactly 1.
    Variants hash to 8-byte longs for the self-equi-join (same key-size
    discipline as the shingle joins); transposition-shaped false candidates
    are removed by the exact `levenshtein` verify, which runs ONLY on
    candidates. Fan-out is |s|+1 rows per string — linear in data size, no
    quadratic stage anywhere."""
    c = F.col(text_col)
    variants = F.concat(
        F.array(c),
        F.expr(
            f"transform(sequence(1, length({text_col})), i -> "
            f"concat(substring({text_col}, 1, i - 1), "
            f"substring({text_col}, i + 1, length({text_col}))))"
        ),
    )
    ex = _spread(df).select(
        F.col(id_col).alias("id"),
        c.alias("s"),
        F.explode(F.array_distinct(variants)).alias("var"),
    ).select("id", "s", F.xxhash64("var").alias("h"))
    a = ex.select(F.col("id").alias("a"), F.col("s").alias("sa"), "h")
    b = ex.select(F.col("id").alias("b"), F.col("s").alias("sb"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .dropDuplicates(["a", "b"])
        .select("a", "b", F.levenshtein("sa", "sb").cast("long").alias("distance"))
        .filter(F.col("distance") <= 1)
    )


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Keep one document per near-dup cluster (the min-id member — the same
    keep-min rule as exact_dedupe) and every document in no cluster.
    Composes with any pair generator:
    `dedup_keep_canonical(docs, minhash_dedup_pairs(docs))`.

    Only CLUSTERED ids flow through connected_components (near-dup pairs are
    a tiny fraction of the corpus); the corpus itself is touched by exactly
    one anti-join against the non-canonical member set. `checkpoint_dir`
    passes through to connected_components for cluster-durable rounds."""
    comp = connected_components(pairs, a_col, b_col, checkpoint_dir=checkpoint_dir)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Keep the HIGHEST-QUALITY member of each near-dup cluster (ties break
    to the smallest id) and every document in no cluster — the production
    keep rule where ``dedup_keep_canonical``'s min-id pick is arbitrary:
    curation pipelines keep the longest / best-scored member of a dup
    cluster, not whichever happened to get the smallest id. The reference
    has no near-dup handling at all (SURVEY §2.4 extension).

    ``quality_col`` must be an integer-comparable column already on `docs`
    (use micro-units for fractional scores, the curate_* precedent) so the
    per-cluster argmax carries no float-tie seam; the (quality DESC, id ASC)
    order is then a total order and the winner is deterministic. Ids may be
    of ANY orderable type (string, long, …): the tie-break is a min_by over
    (−quality, id), so the id is compared natively, never negated — the
    same id-type contract as ``dedup_keep_canonical`` (ADVICE r10).

    A pair id ABSENT from `docs` (a stale pair set) is an automatic loser,
    never the winner: the quality join is a LEFT join and missing-quality
    rows rank behind every present row, so they cannot shift a cluster's
    argmax silently — and since they don't exist in `docs`, the final
    anti-join drops nothing extra for them (ADVICE r10).

    Scale shape: only CLUSTERED ids flow through connected_components and
    the argmax (near-dup clusters are a tiny fraction of the corpus). The
    corpus is touched twice, both times on slim columns — one id-equi-join
    fetching (id, quality) for clustered ids only, and one anti-join
    removing losers. Text never rides any exchange; the winner selection is
    one map-side-combined min_by over (component) — no window sort."""
    comp = connected_components(pairs, a_col, b_col, checkpoint_dir=checkpoint_dir)
    scored = comp.join(
        docs.select(F.col(id_col).alias("node"), F.col(quality_col).alias("__q")),
        "node",
        "left",
    )
    winners = scored.groupBy("component").agg(
        F.min_by(
            "node",
            F.struct(
                F.col("__q").isNull().cast("int").alias("__missing"),
                (-F.coalesce(F.col("__q"), F.lit(0))).alias("__negq"),
                F.col("node").alias("__nid"),
            ),
        ).alias("node")
    )
    losers = scored.select("node").join(winners.select("node"), "node", "left_anti")
    return docs.join(losers.withColumnRenamed("node", id_col), id_col, "left_anti")


# --- segment-level dedup (duplicated-span removal) --------------------------


def segment_dedupe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
) -> DataFrame:
    """Remove DUPLICATED SPANS rather than duplicated documents: split every
    document into consecutive `seg_tokens`-token segments, keep only the
    corpus-first occurrence of each distinct segment (min (doc_id, seg_idx)),
    and reconstruct each document from its surviving segments. This is the
    fixed-granularity form of exact-substring deduplication (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array pass removes 50-token repeats; fixed windows trade a little
    recall at span boundaries for a fully relational plan). The reference has
    no substring dedup (SURVEY §2.4 extension).

    Scale shape (the same slim-shuffle discipline as ``exact_dedupe``):
      1. one narrow projection + explode fans documents into segments —
         no shuffle;
      2. the first-owner reduction groups by a 128-bit md5 of the segment,
         shuffling (16-byte fp, id, int) — never segment text — with
         map-side partial min;
      3. the surviving (id, seg_idx) set joins back against the segments on
         the ids alone, so segment text crosses the wire exactly once, on
         one side of one join;
      4. per-document reassembly groups by doc id (text of KEPT segments
         only — post-dedup, strictly smaller than the corpus).
    Output: (doc_id, clean_text, n_segments, n_kept). Documents whose every
    segment appeared earlier in the corpus survive with clean_text = ''.
    """
    segs = text_ops.chunk_documents(
        df, col=text_col, id_col=id_col, window=seg_tokens, overlap=0
    ).select(
        F.col("id"),
        F.col("chunk_idx").alias("seg_idx"),
        F.col("chunk_text").alias("seg"),
    )
    owners = (
        segs.select(F.md5("seg").alias("fp"), "id", "seg_idx")
        .groupBy("fp")
        .agg(F.min(F.struct("id", "seg_idx")).alias("o"))
        .select(F.col("o.id").alias("id"), F.col("o.seg_idx").alias("seg_idx"))
    )
    kept = segs.join(owners, ["id", "seg_idx"])
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.ceil(F.size(F.split(F.col(text_col), " ")) / F.lit(seg_tokens))
        .cast("long")
        .alias("n_segments"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# --- corpus-wide boilerplate n-grams ---------------------------------------


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document boilerplate signal from CORPUS-WIDE k-gram document
    frequency — the cross-document counterpart of the within-document
    `dup_2gram_frac`/`dup_3gram_frac` of `text.quality_signals`: headers,
    footers, licence blocks, and templated spans show up as k-grams shared
    by ≥ `min_docs` documents (C4 removed repeated 3-sentence spans this
    way, Dolma/RefinedWeb use document-frequency n-gram filters). Returns
    (id, n_grams, n_shared, shared_frac) where n_grams counts the doc's
    DISTINCT k-grams and n_shared those whose corpus doc-frequency is
    ≥ min_docs; shared_frac = n_shared/n_grams (one long/long division).

    Scale shape (the inverted-index discipline): text is shingled in the
    scan stage and every k-gram crosses the wire as an 8-byte xxhash64 —
    the exchanges carry (id, hash), never text. The corpus document
    frequency is a count(*) window over the hash (per-doc-distinct by
    construction), then one groupBy(id) folds the flags — r13: the
    window replaces the old groupBy(hash) + hash-keyed self-JOIN, which
    shingled and hashed the corpus TWICE (the lazy gram frame fed both
    join sides) and paid a third exchange; same integer df per (id,
    hash), one corpus scan, two exchanges. A gram shared by every
    document still costs exactly its posting-list size in the window
    partition (WindowExec spills) — bounded by the input, no quadratic
    blowup anywhere."""
    grams = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, k)).alias("g"),
    )
    gh = grams.select("id", F.xxhash64("g").alias("gh"))
    wdf = Window.partitionBy("gh")
    return (
        gh.withColumn("df_docs", F.count(F.lit(1)).over(wdf))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("df_docs") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_shared"),
        )
        .select(
            "id",
            "n_grams",
            "n_shared",
            (F.col("n_shared") / F.col("n_grams")).alias("shared_frac"),
        )
    )
