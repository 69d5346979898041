"""The composed training-data curation pipeline — the end-to-end plan a
corpus runs before tokenization, built by ONE staged builder:

1. an ordered list of row GATES (`scrub`, `min_words`, `web_gates`,
   `repetition`), each a row-local stage that filters rows or adds a
   label column;
2. a tail: `curate` (whole corpus) — per-domain quota, exact dedupe,
   split label — or `admit` (a new batch against a standing corpus) —
   within-batch dedupe, corpus-fingerprint anti-join, optional near-dup
   screen, remaining-quota ranking.

The registered `train_curation*` queries and `streaming/curation.py`'s
pipelines are configurations of these pieces, so the langid → blocklist
→ quality chain, the output tails and the barrier placement each have
one definition. Everything stays ONE lazy DataFrame so Catalyst plans
the whole pipeline together; the only cuts are the staging barriers.

This is the composition story the reference's per-job Glue scripts lack
(each stage there is a separate job landing to S3 — reference:
glue/reddit_glue.py end-to-end writes between every stage); at 100 TB the
difference is N full materializations versus one pipelined pass plus the
one fingerprint-keyed dedup exchange.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .. import checkpointing
from ..operators import dedup as dedup_ops, sampling, text as text_ops
from ..parallel import spread as _spread


class _Cols(NamedTuple):
    """The column names every curation stage reads."""

    id: str
    text: str
    url: str


# A gate maps the rows (every input column passes through) to the rows it
# keeps, optionally adding label columns; `_Cols` names the columns it reads.
Gate = Callable[[DataFrame, _Cols], DataFrame]

# label columns `web_gates` adds; the tails carry them into their output
_LABELS = ("lang", "domain")


# Barrier placement: the curation stack stages (`checkpointing.stage`,
# which states the rule and its fault-tolerance trade-off) right after each
# gate that evaluates the staged token machinery — the scrub projection,
# the scored langid projection, the quality filter and the repetition
# fold — and once more over admission's novel rows, which feed several
# consumers. Catalyst pushes a filter through a projection by SUBSTITUTING
# the projected expressions into the condition, and every extra reference
# of a subtree (an anti-join side, a window, a quota join) repeats it, so
# without the cut the text scoring re-runs per reference (BASELINE.md r10:
# the v3 barrier measured 0.56x of the barrier-less plan, rows identical;
# CHANGES.md: the repetition barrier took train_curation_v3's optimized
# plan from 15 regexp_replace copies to 1, and its sf0.1 time from 7.6 to
# 5.1 s). `tests/test_plans.py` pins each curation query's barrier count
# and plan shape.


def _gated(df: DataFrame, gates: list[Gate], c: _Cols) -> DataFrame:
    for gate in gates:
        df = gate(df, c)
    return df


def _keep_but(df: DataFrame, c: _Cols) -> tuple[str, ...]:
    """Every column but the id — what a scoring operator's `keep` passes
    through so a gate can filter on its score without re-joining by id."""
    return tuple(x for x in df.columns if x != c.id)


def scrub() -> Gate:
    """Markup/control/PII scrub of the text, in place
    (``clean_for_training``, one projection). Put it first: later gates
    and the dedupe then see cleaned text, so two docs differing only in
    boilerplate are duplicates."""

    def gate(df: DataFrame, c: _Cols) -> DataFrame:
        return checkpointing.stage(text_ops.clean_for_training(df, col=c.text))

    return gate


def min_words(n: int) -> Gate:
    """Length guard: at least `n` whitespace tokens (after `scrub`, since
    scrubbing can empty a doc)."""

    def gate(df: DataFrame, c: _Cols) -> DataFrame:
        return df.filter(text_ops.token_count(c.text) >= n)

    return gate


def web_gates(
    blocked: DataFrame | None = None,
    min_margin: int = 2,
    q_micro_min: int = 150_000,
    blocked_col: str = "domain",
) -> list[Gate]:
    """The web-document gate chain (RefinedWeb/Dolma order), the one
    definition shared by whole-corpus curation, batch admission and both
    streaming pipelines:

    1. confidence-gated language ID (``langid_margin``; the label rides
       the scan, no re-join): rows whose lang_conf is 'und' drop, the
       rest gain `lang`;
    2. `domain` = registered domain of the url, then an optional
       registered-domain BLOCKLIST as a broadcast left-anti join (the
       list is DATA: `blocked`'s `blocked_col`; the corpus never
       shuffles);
    3. QUALITY on exact integer micro-units:
       floor(quality_score·1e6) >= q_micro_min — floor is binary-exact
       in both engines, so the gate has NO float tie boundary.

    Cheap row-local gates run before any quota, so a low-quality page can
    never consume a domain's cap."""

    def langid(df: DataFrame, c: _Cols) -> DataFrame:
        scored = checkpointing.stage(
            text_ops.langid_margin(
                df, col=c.text, id_col=c.id, min_margin=min_margin,
                keep=_keep_but(df, c),
            )
        )
        return scored.filter(F.col("lang_conf") != "und").select(
            *df.columns, F.col("lang_conf").alias("lang")
        )

    def domain(df: DataFrame, c: _Cols) -> DataFrame:
        dom = df.withColumn("domain", text_ops.registered_domain(c.url))
        if blocked is None:
            return dom
        return dom.join(
            F.broadcast(blocked.select(F.col(blocked_col).alias("domain"))),
            "domain",
            "left_anti",
        )

    def quality(df: DataFrame, c: _Cols) -> DataFrame:
        return checkpointing.stage(
            df.filter(
                F.floor(text_ops.quality_score(c.text) * F.lit(1_000_000.0)).cast("long")
                >= F.lit(q_micro_min)
            )
        )

    return [langid, domain, quality]


def repetition(
    dup_line_micro_max: int = 300_000, top_bigram_micro_max: int = 200_000
) -> Gate:
    """Gopher/MassiveText REPETITION gate: shape-based quality passes SEO
    spam that repeats itself; `repetition_signals` catches it. Cuts the
    dup-line fraction and the top-bigram char coverage on floor(frac·1e6)
    integer micro-units (binary-exact in both engines). The fold-form
    signals are a row-local projection, so the gate filters on
    passthrough columns — no signal-frame id-join."""

    def gate(df: DataFrame, c: _Cols) -> DataFrame:
        def micro(col: str):
            return F.floor(F.col(col) * F.lit(1_000_000.0)).cast("long")

        return (
            checkpointing.stage(
                text_ops.repetition_signals(df, col=c.text, id_col=c.id, keep=_keep_but(df, c))
            )
            .filter(
                (micro("dup_line_frac") <= F.lit(dup_line_micro_max))
                & (micro("top_bigram_char_frac") <= F.lit(top_bigram_micro_max))
            )
            .select(*df.columns)
        )

    return gate


def curate(
    docs: DataFrame,
    gates: list[Gate],
    domain_cap: int | None = None,
    split_weights: tuple[float, float, float] = (0.98, 0.01, 0.01),
    hash_fn: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
) -> DataFrame:
    """Whole-corpus curation: `gates` in order, then

    1. per-domain QUOTA when `domain_cap` is set (``cap_per_group`` —
       deterministic hash order, one domain-keyed window; needs the
       `domain` column of `web_gates`);
    2. exact DEDUPE on the (cleaned) text (min-id keeps, the documents
       never ride the fingerprint exchange);
    3. deterministic SPLIT label (hash membership — reproducible on any
       partitioning, any engine via hash_fn='md5').

    Returns (id, [lang, domain,] split, n_tokens) for surviving docs;
    `lang`/`domain` appear when the gates add them. Every `docs` column
    rides through the gates (and into their barriers), so select what
    the gates need first.

    Stage order is the curation-standard one: the per-domain rule before
    dedupe (a domain's quota should not be refilled by its own
    near-identical pages), split LAST so losers don't consume split
    capacity. Scale shape: the gates are scan-level projections plus a
    broadcast blocklist; the quota window is the one domain-keyed corpus
    exchange (text rides as payload, never a key — pair with AQE skew
    split for celebrity domains); the dedupe windows a slim (id, fp)
    projection. The input is `spread()` first: a few-MB corpus arrives as
    1-2 scan splits, and the gate chain is row-local CPU work; at scale
    spread is a no-op costing only the partition-count check."""
    kept = _gated(_spread(docs), gates, _Cols(id_col, text_col, url_col))
    if domain_cap is not None:
        kept = sampling.cap_per_group(
            kept, "domain", domain_cap, id_col=id_col, hash_fn=hash_fn
        )
    deduped = dedup_ops.exact_dedupe(kept, id_col=id_col, text_col=text_col)
    return deduped.select(
        F.col(id_col),
        *[x for x in _LABELS if x in deduped.columns],
        sampling.split_label(id_col, split_weights, hash_fn=hash_fn).alias("split"),
        text_ops.token_count(text_col).cast("long").alias("n_tokens"),
    )


def admit(
    batch: DataFrame,
    corpus: DataFrame,
    gates: list[Gate],
    domain_cap: int = 20,
    hash_fn: str = "xxhash64",
    neardup_threshold: float | None = None,
    num_perm: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    corpus_state: tuple[DataFrame, DataFrame] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
) -> DataFrame:
    """Incremental ADMISSION of a new crawl batch against an existing
    curated corpus — the steady-state production shape (curate the web
    once, then admit daily crawls forever):

    1. `gates` on the BATCH only (`web_gates`: admission needs its
       `lang` and `domain`);
    2. exact dedupe WITHIN the batch (min-id keeps), then against the
       CORPUS — the corpus contributes only its fingerprint set, reduced
       map-side, never its documents;
    3. with `neardup_threshold` set, the NEAR-dup screen: an incremental
       MinHash probe drops every batch row that near-dups a corpus doc or
       a smaller-id batch row at J ≥ the threshold — a recrawl differing
       only by boilerplate survives the exact anti-join but should not
       be admitted;
    4. per-domain quota ACCOUNTING: the corpus contributes only
       (domain, count); a batch row is admitted while
       existing + hash-order-rank ≤ domain_cap.

    Returns (id, lang, domain, n_tokens) of ADMITTED batch rows. Dedupe
    runs BEFORE quota here (unlike `curate`) so near-identical recrawls
    cannot consume a domain's remaining quota. Marginal cost is
    proportional to the batch, not the corpus: the corpus is scanned
    once per reduction and never re-shuffled in full.

    The near-dup screen requires batch ids above corpus ids (pair
    b-sides are then always batch rows, so the corpus is never evicted
    by its own recrawls). Pass `corpus_state` =
    ``minhash_corpus_state(corpus)`` (stored at ingest) so the corpus
    text is never re-shingled; without it the state derives here — only
    slim (id, hash) rows ride any exchange either way. At threshold ≥
    0.9 the 64-perm/16-band LSH candidate recall is ≈ 1, so an
    exact-Jaccard oracle gates the whole composition."""
    c = _Cols(id_col, text_col, url_col)
    novel = checkpointing.stage(
        _novel(
            _gated(batch, gates, c),
            corpus.select(text_ops.fingerprint(text_col).alias("__fp")).distinct(),
            c,
        )
    )
    if neardup_threshold is not None:
        novel = _drop_near_dups(
            novel, corpus.select(id_col, text_col), c, neardup_threshold,
            num_perm, shingle_k, bands, corpus_state,
        )
    have = (
        corpus.select(text_ops.registered_domain(url_col).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("__have"))
    )
    return _admit_by_quota(novel, have, domain_cap, hash_fn, c)


def _novel(gated: DataFrame, corpus_fp: DataFrame, c: _Cols) -> DataFrame:
    """Admission stage 2: within-batch exact dedupe, then the left-anti
    join against the corpus fingerprint set `corpus_fp` (one `__fp`
    column — derived from the corpus by `admit`, read from stored state
    by `curate_stream_v2`)."""
    within = dedup_ops.exact_dedupe(gated, id_col=c.id, text_col=c.text)
    return (
        within.withColumn("__fp", text_ops.fingerprint(c.text))
        .join(corpus_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def _drop_near_dups(
    novel: DataFrame,
    corpus: DataFrame | None,
    c: _Cols,
    threshold: float,
    num_perm: int,
    shingle_k: int,
    bands: int,
    corpus_state: tuple[DataFrame, DataFrame] | None,
) -> DataFrame:
    """Admission stage 3: drop the distinct b-sides of the incremental
    MinHash pairs. Pairs are canonical (a < b) with at least one batch
    side and batch ids sit above corpus ids, so b is ALWAYS a batch row:
    this evicts corpus near-dups and keeps the min-id batch row of every
    within-batch near-dup group (the exact-dedupe convention)."""
    pairs = dedup_ops.minhash_incremental_pairs(
        novel.select(c.id, c.text),
        corpus,
        id_col=c.id,
        text_col=c.text,
        num_perm=num_perm,
        k=shingle_k,
        bands=bands,
        threshold=threshold,
        corpus_state=corpus_state,
    )
    losers = pairs.select(F.col("b").alias(c.id)).distinct()
    return novel.join(losers, c.id, "left_anti")


def _admit_by_quota(
    novel: DataFrame,
    have: DataFrame,
    domain_cap: int,
    hash_fn: str,
    c: _Cols,
    quota_keys: tuple[str, ...] = ("domain",),
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Admission stage 4: per-domain remaining-quota ranking. `have` holds
    the admitted counts per quota key (*quota_keys, __have) — reduced from
    the corpus by `admit`, maintained at admission by `curate_stream_v2`.

    `quota_keys` ("domain" plus, for `curate_stream_v2`'s daily mode,
    "__day") must be columns of `novel`; keys beyond "domain" survive into
    the output so the caller can maintain keyed counts. `keep_cols` names
    extra `novel` columns passed through. Keeping the text is FREE: every
    `novel` column already rides the quota window's shuffle, so
    `curate_stream_v2`'s admitted frame doubles as its doc set (r12 A/B:
    tools/ab_increment_v2_writes.py)."""
    w = Window.partitionBy(*quota_keys).orderBy(
        sampling._bucket(c.id, "cap", hash_fn).asc(), F.col(c.id).asc()
    )
    return (
        novel.withColumn("__rn", F.row_number().over(w))
        .join(have, list(quota_keys), "left")
        .filter(
            F.col("__rn") <= F.lit(domain_cap) - F.coalesce(F.col("__have"), F.lit(0))
        )
        .select(
            F.col(c.id),
            *_LABELS,
            text_ops.token_count(c.text).cast("long").alias("n_tokens"),
            *[k for k in quota_keys if k != "domain"],
            *keep_cols,
        )
    )


def pack_sequences(
    df: DataFrame,
    ctx_len: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
    salt: str = "pack",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """GPT-style sequence PACKING assignment (r10) — the step between a
    curated corpus and a training loader: documents concatenate into one
    token stream per shard and the stream splits into fixed `ctx_len`
    sequences; a document may span a sequence boundary (the standard
    pretraining layout — no padding waste). This operator computes each
    document's PLACEMENT deterministically:

      (id, shard, n_tokens, start_tok, seq_first, seq_last, seq_offset)

    where `start_tok` is the document's running token offset within its
    shard's stream, `seq_first/seq_last` the ctx-sequences it touches,
    and `seq_offset` its position inside seq_first. Placement is a pure
    function of the data: shard = hash(salt, id) % n_shards, stream
    order within a shard = (hash bucket, id) — the `split_label`/
    `cap_per_group` determinism discipline, reproducible on any
    partitioning and replayable in ANSI SQL (all-integer arithmetic).

    Scale shape: ONE shard-keyed exchange, then a per-shard running-sum
    window. A shard's window is sequential by nature (it defines the
    stream), so `n_shards` is the parallelism knob — size it so one
    shard's (id, n_tokens) rows fit a task comfortably (they are 16
    bytes/doc; even a billion-doc corpus at 1024 shards is ~16 MB per
    task). Text never enters the plan: only the token counts ride."""
    if ctx_len < 1 or n_shards < 1:
        raise ValueError("pack_sequences: ctx_len >= 1 and n_shards >= 1 required")
    n_tok = (
        F.col(token_count_col)
        if token_count_col is not None
        else text_ops.token_count(text_col)
    ).cast("long")
    slim = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        # shard and stream order from two decorrelated _bucket salts —
        # the hash_fn='md5' path replays verbatim in any engine
        (sampling._bucket(id_col, salt + "-shard", hash_fn) % F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        sampling._bucket(id_col, salt, hash_fn).alias("__b"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__b").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return slim.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        start.alias("start_tok"),
        F.floor(start / F.lit(ctx_len)).cast("long").alias("seq_first"),
        F.floor(
            (start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / F.lit(ctx_len)
        )
        .cast("long")
        .alias("seq_last"),
        F.pmod(start, F.lit(ctx_len)).cast("int").alias("seq_offset"),
    )


def write_training_shards(
    df,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    salt: str = "shard",
):
    """Export a curated corpus as `n_shards` deterministic shards plus a
    manifest — the final step of a training-data pipeline (the artifact a
    training job actually consumes). Shard assignment is hash(salt, id) %
    n_shards: reproducible across runs and partitionings (re-exporting an
    unchanged corpus yields byte-stable shard MEMBERSHIP), statistically
    even-sized, and append-friendly (new docs land in stable shards).

    Layout: ``<path>/data/shard=<k>/*.parquet`` (one file per shard via a
    shard-keyed repartition — the writer task per shard streams, so shard
    size is bounded by disk, not memory) and ``<path>/manifest.parquet``
    with (shard, n_rows[, n_tokens]) — the sanity check a training job
    runs before touching the data, and the unit of work for a shard-level
    resume. Returns the manifest DataFrame.

    At 100 TB: the export is ONE hash-keyed exchange; n_shards should be
    chosen so a shard is a few GB (training-loader friendly). The manifest
    aggregation reuses the same exchange's output.
    """
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(n_shards)).cast("int")
    )
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path + "/data")
    )
    # manifest from the WRITTEN data (not the pre-write frame), so it can
    # never disagree with what landed on disk
    spark = df.sparkSession
    written = spark.read.parquet(path + "/data")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_count_col is not None:
        aggs.append(F.sum(token_count_col).cast("long").alias("n_tokens"))
    manifest = written.groupBy("shard").agg(*aggs).orderBy("shard")
    manifest.write.mode("overwrite").parquet(path + "/manifest.parquet")
    return spark.read.parquet(path + "/manifest.parquet")
