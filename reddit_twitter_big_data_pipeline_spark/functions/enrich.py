"""Enrichment layer — SURVEY §2.4 (U1-U3): pluggable backends, run as JVM
Column expressions by default and as Arrow-vectorized pandas UDFs for real
services.

The reference runs translation, sentiment, and claim scoring as sequential
driver-side loops over collected pandas frames (reference:
glue/reddit_glue.py:233-236, 155-180, 187-196) — the 10-worker cluster idles
while one Python process makes HTTP calls.

Backends are injected (BACKENDS registry) so tests are deterministic. The
default backends are pure functions of the text, and each also has a Spark
SQL form (`sentiment_hash_sql`, `claim_keyword_sql`; the identity
translation is no step at all): while a backend is still the default,
`enrich` runs its form as a JVM expression, so the default path needs no
Python worker and no Arrow round trip. `tests/test_properties.py` pins each
form equal to its pandas backend. A backend swapped in with `set_backend`
(the HTTP services of `functions/http_backends.py`) runs as a scalar
`pandas_udf`: Arrow batches cross the JVM boundary once, the backend runs
on every executor in parallel, and rate limiting is expressed as
partitioning (`repartition(n_api_slots)` before the UDF bounds concurrent
API clients). Deterministic backends reproduce identical enrichment when a
micro-batch re-runs (idempotency, W5).

Alignment note: the reference aligns sentiment results to rows POSITIONALLY
with `index = i*len(batch)+Index`, which is wrong for the final short batch
(reference: glue/reddit_glue.py:169-180 — `i*len(batch)` uses the SHORT
batch's length). The engine never aligns by position: the UDF contract is
elementwise, so results ride with their rows by construction.
"""

from __future__ import annotations

import hashlib
import uuid
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

SENTIMENT_BATCH = 25  # Comprehend API limit the reference works around

SENTIMENT_SCHEMA = T.StructType(
    [
        T.StructField("Positive", T.DoubleType()),
        T.StructField("Negative", T.DoubleType()),
        T.StructField("Neutral", T.DoubleType()),
        T.StructField("Mixed", T.DoubleType()),
    ]
)


# --- deterministic local backends (test/default) ---------------------------


def translate_identity(texts: pd.Series) -> pd.Series:
    """U1 default: pass-through (English in, English out)."""
    return texts


_DICT = {
    "guerra": "war",
    "paz": "peace",
    "krieg": "war",
    "mir": "peace",
    # driver-testdata vocabulary so synthetic docs exercise real mappings
    "fast": "quick",
    "slow": "sluggish",
}


def translate_dictionary(texts: pd.Series) -> pd.Series:
    """U1 test backend: word-level dictionary map, deterministic."""

    def tr(t):
        if t is None:
            return None
        return " ".join(_DICT.get(w.lower(), w) for w in t.split())

    return texts.map(tr)


def sentiment_hash(texts: pd.Series) -> pd.DataFrame:
    """U2 default: hash(text) → fixed point on the 4-simplex. Deterministic,
    distribution-shaped like the real scores (sum == 1.0)."""

    def score(t):
        if not t:
            return (0.0, 0.0, 1.0, 0.0)
        h = hashlib.md5(t.encode("utf-8", "ignore")).digest()
        raw = [h[0] + 1, h[1] + 1, h[2] + 1, h[3] + 1]
        s = float(sum(raw))
        return tuple(x / s for x in raw)

    pts = texts.map(score)
    return pd.DataFrame(
        pts.tolist(), columns=["Positive", "Negative", "Neutral", "Mixed"], index=texts.index
    )


_CLAIM_WORDS = (
    "percent",
    "%",
    "million",
    "billion",
    "kill",
    "dead",
    "report",
    "confirm",
    "official",
    "data",  # generic evidence-marker; also present in driver-testdata vocab
)


def claim_keyword(texts: pd.Series) -> pd.Series:
    """U3 default: keyword-density heuristic ∈ [0,1]; empty/None → 0.0
    (matching the reference's error default, glue/reddit_glue.py:195-196)."""

    def score(t):
        if not t:
            return 0.0
        low = t.lower()
        hits = sum(1 for w in _CLAIM_WORDS if w in low)
        return min(1.0, hits / 3.0)

    return texts.map(score)


BACKENDS: dict[str, Callable] = {
    "translate": translate_identity,
    "sentiment": sentiment_hash,
    "claim": claim_keyword,
}
_DEFAULTS = dict(BACKENDS)


# --- Column forms of the default backends ----------------------------------
# Each form is one SQL string, so building it costs one parse instead of a
# Py4J call per sub-expression. Divisions are by DOUBLE literals (`3.0D`):
# a bare `3.0` is a DECIMAL in Spark SQL, and its quotients drift from the
# IEEE doubles the pandas backends return.


def sentiment_hash_sql(text_col: str) -> list[str]:
    """`sentiment_hash` as four select items, Positive, Negative, Neutral
    and Mixed: the first four md5 bytes of the UTF-8 text, each +1, over
    their sum. NULL and "" score (0, 0, 1, 0)."""
    t = f"`{text_col}`"
    b = [f"CAST(conv(substr(md5({t}), {2 * i + 1}, 2), 16, 10) AS INT) + 1" for i in range(4)]
    total = " + ".join(b)
    return [
        f"CASE WHEN {t} IS NULL OR {t} = '' THEN {empty} "
        f"ELSE CAST({b[i]} AS DOUBLE) / CAST({total} AS DOUBLE) END AS {name}"
        for i, (name, empty) in enumerate(
            zip(SENTIMENT_SCHEMA.names, ("0.0D", "0.0D", "1.0D", "0.0D"))
        )
    ]


def claim_keyword_sql(text_col: str) -> str:
    """`claim_keyword` as one SQL expression: the marker words present in
    lower(text), over 3, capped at 1. NULL and "" score 0.0."""
    t = f"`{text_col}`"
    hits = " + ".join(f"CAST(instr(lower({t}), '{w}') > 0 AS INT)" for w in _CLAIM_WORDS)
    return f"CASE WHEN {t} IS NULL THEN 0.0D ELSE least(1.0D, ({hits}) / 3.0D) END"


def set_backend(kind: str, fn: Callable) -> None:
    """Swap in an HTTP/real backend (e.g. a GoogleTranslator-wrapping
    callable with internal batching + retry). Executors pick the registry up
    via closure capture at UDF definition time — call before building plans."""
    BACKENDS[kind] = fn


# --- failure-mode wrapper (the reference's real operating mode) ------------


class TransientEnrichError(Exception):
    """Raise from a backend for retryable failures (HTTP 429/5xx, timeout).
    Anything else propagates and fails the task (Spark retries the whole
    partition — safe because enrichment is a pure function of the text)."""


class MalformedResponseError(ValueError):
    """Raise from a backend when the SERVICE's response is unusable (wrong
    count, missing field): not batch-retryable, but per-item salvage may
    still succeed for well-formed rows, so retrying_backend degrades on it.
    A bare ValueError from backend CODE (a genuine bug) propagates and
    fails the task loudly instead of silently nulling the output."""


def retrying_backend(
    fn: Callable,
    max_retries: int = 3,
    backoff_s: float = 0.05,
    sleep: Callable[[float], None] | None = None,
    null_columns: list[str] | None = None,
):
    """Wrap a flaky batch backend with the reference's operating semantics
    (reference: glue/reddit_glue.py:187-196 — per-item try/except with a
    default on failure):

    1. the whole batch is retried on TransientEnrichError with exponential
       backoff, up to `max_retries`;
    2. if the batch still fails, it degrades to per-item calls (each with
       its own retry budget) so one poison item cannot sink the batch;
    3. an item that exhausts retries yields a NULL result (None for Series
       backends, an all-NaN row for DataFrame backends) — the reference's
       error default — and the rest of the batch keeps its real values.

    The wrapper is transport-agnostic: `fn` is any pandas-batch callable, so
    it composes with set_backend for translate/sentiment/claim alike.

    DataFrame backends (e.g. sentiment) should pass `null_columns` so the
    null shape is right even when the FIRST batch fails wholesale; without
    it, the wrapper learns the column shape from the first successful call
    (full-batch or per-item) and reuses it for every later outage.
    """
    from .._retry import call_with_retry

    # learned output shape: None until any call succeeds, then the column
    # list for DataFrame backends / () for Series backends
    state: dict = {"cols": list(null_columns) if null_columns else None}

    def _call_retry(batch: pd.Series):
        r = call_with_retry(
            lambda: fn(batch),
            transient=TransientEnrichError,
            max_retries=max_retries,
            backoff_s=backoff_s,
            sleep=sleep,
        )
        if state["cols"] is None and isinstance(r, pd.DataFrame):
            state["cols"] = list(r.columns)
        return r

    def _null_like(index) -> pd.Series | pd.DataFrame:
        n = len(index)
        if state["cols"] is not None:
            return pd.DataFrame({c: [None] * n for c in state["cols"]}, index=index)
        return pd.Series([None] * n, index=index, dtype="object")

    def wrapped(texts: pd.Series):
        # MalformedResponseError = the SERVICE returned something unusable
        # (e.g. N-1 scores for N texts): not retryable as a batch, but
        # per-item calls may still succeed for the well-formed rows — so it
        # degrades to salvage exactly like an exhausted transient, and an
        # item whose own response is malformed yields NULL. A bare
        # ValueError (a genuine backend bug) propagates and fails the task.
        try:
            return _call_retry(texts)
        except (TransientEnrichError, MalformedResponseError):
            pass  # degrade to per-item salvage below
        parts = []
        for idx in texts.index:
            single = texts.loc[[idx]]
            try:
                parts.append(_call_retry(single))
            except (TransientEnrichError, MalformedResponseError):
                parts.append(idx)  # placeholder; shaped after the loop
        out = [
            p if isinstance(p, (pd.Series, pd.DataFrame)) else _null_like(pd.Index([p]))
            for p in parts
        ]
        return pd.concat(out) if out else _null_like(texts.index)

    return wrapped


def rate_limited_backend(
    fn: Callable,
    rate: int,
    per_s: float = 1.0,
    clock: Callable[[], float] | None = None,
    sleeper: Callable[[float], None] | None = None,
):
    """Throttle a batch backend to the API's quota: at most `rate` calls in
    any `per_s`-second window, per worker process (bound total concurrency
    with `enrich(api_slots=...)`, so cluster-wide rate = api_slots × rate).

    The limiter's call-timestamp window must survive TASK boundaries —
    Spark re-deserializes UDF closures per task, and a fresh (empty) window
    per task would let back-to-back short tasks double the rate inside one
    wall-clock window. So the closure ships only a key minted at wrap time;
    the limiter itself lives in a process-global registry on the worker
    (keyed lookup, created on first use), shared by every task that runs
    this wrapped backend in that worker.

    Composes inside retrying_backend so retries are throttled too — the full
    reference operating mode is
    `retrying_backend(rate_limited_backend(http_fn, rate=..), null_columns=..)`
    with batch-25 chunking already applied by sentiment_udf.
    """
    from ..sources.ingest import RateLimiter

    limiter_cls = RateLimiter  # captured as a class, ships by value
    limiter_key = f"rl-{uuid.uuid4().hex}"  # minted once on the driver

    def throttled(batch: pd.Series):
        import builtins

        registry = getattr(builtins, "__engine_rate_limiters__", None)
        if registry is None:
            registry = {}
            builtins.__engine_rate_limiters__ = registry
        limiter = registry.get(limiter_key)
        if limiter is None:
            limiter = limiter_cls(rate, per_s, clock=clock, sleeper=sleeper)
            registry[limiter_key] = limiter
        limiter.acquire()
        return fn(batch)

    return throttled


# --- UDF constructors -------------------------------------------------------


def translate_udf() -> Column:
    backend = BACKENDS["translate"]

    @F.pandas_udf(T.StringType())
    def _translate(texts: pd.Series) -> pd.Series:
        return backend(texts)

    return _translate


def sentiment_udf() -> Column:
    """Returns struct<Positive,Negative,Neutral,Mixed>. The backend receives
    ≤SENTIMENT_BATCH texts per call, mirroring the API's batch contract, but
    results stay row-aligned because chunking happens inside the UDF."""
    backend = BACKENDS["sentiment"]

    @F.pandas_udf(SENTIMENT_SCHEMA)
    def _sentiment(texts: pd.Series) -> pd.DataFrame:
        chunks = [
            backend(texts.iloc[i : i + SENTIMENT_BATCH])
            for i in range(0, len(texts), SENTIMENT_BATCH)
        ]
        if not chunks:
            return pd.DataFrame(columns=["Positive", "Negative", "Neutral", "Mixed"])
        return pd.concat(chunks)

    return _sentiment


def claim_udf() -> Column:
    backend = BACKENDS["claim"]

    @F.pandas_udf(T.DoubleType())
    def _claim(texts: pd.Series) -> pd.Series:
        return backend(texts)

    return _claim


# --- DataFrame-level stages -------------------------------------------------


def enrich(
    df: DataFrame,
    text_col: str = "content",
    translate: bool = True,
    sentiment: bool = True,
    claim: bool = True,
    api_slots: int | None = None,
) -> DataFrame:
    """U1→U2→U3 in one plan stage. A step whose backend is still the
    default is its Column form (the identity translation adds nothing); a
    step whose backend was swapped by `set_backend` is its pandas UDF.
    Only when a UDF remains does the frame repartition first: `api_slots`
    bounds the concurrent backend clients (rate-limit backpressure, SURVEY
    §4 custom piece (a)), and with no explicit slot count small scans
    spread to the session's parallelism so the Arrow UDF stage never runs
    on the 1-2 partitions a few-MB parquet file arrives as."""
    from ..parallel import spread

    wanted = {"translate": translate, "sentiment": sentiment, "claim": claim}
    udfs = {k for k, on in wanted.items() if on and BACKENDS[k] is not _DEFAULTS[k]}
    out = df
    if udfs:
        out = df.repartition(api_slots) if api_slots else spread(df)
    if "translate" in udfs:
        out = out.withColumn(text_col, translate_udf()(F.col(text_col)))
    if "sentiment" in udfs:
        out = out.withColumn("__s", sentiment_udf()(F.col(text_col))).select(
            "*", "__s.Positive", "__s.Negative", "__s.Neutral", "__s.Mixed"
        ).drop("__s")
    elif sentiment:
        out = out.selectExpr("*", *sentiment_hash_sql(text_col))
    if "claim" in udfs:
        out = out.withColumn("claimScore", claim_udf()(F.col(text_col)))
    elif claim:
        out = out.withColumn("claimScore", F.expr(claim_keyword_sql(text_col)))
    return out


from .._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
