"""Cleanse library — SURVEY §2.3: filters F1-F6 and scalar transforms T1-T6
as composable Column functions.

The reference runs all of these row-at-a-time in driver pandas after a full
collect (reference: glue/reddit_glue.py:227-252). Here each is a Column
expression: whole-stage-codegen'd JVM-side, pushed into the parquet scan
where possible, and distributed by construction. Filter functions take and
return DataFrames so pipelines compose with `df.transform(...)`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# F1 — event-time range filter (reference: reddit/lambda_function.py:30-32;
# the scraper's early-`break` on a sorted stream is replaced by predicate +
# partition pruning).


def filter_time_range(df: DataFrame, ts_col: str, start, end) -> DataFrame:
    """Keep rows with start <= ts < end (half-open, matching the reference's
    window cutoffs)."""
    c = F.col(ts_col)
    return df.filter((c >= F.lit(start)) & (c < F.lit(end)))


# F2 — empty-string scrub: "" anywhere ⇒ drop row (reference:
# glue/reddit_glue.py:227-230 — pandas replace("", NaN).dropna(), i.e.
# how="any" across ALL columns; that over-aggressive semantics is preserved
# deliberately and tested).


def scrub_empty(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One filter: a row survives only with every `cols` value non-null and
    non-empty (the reference's NaN replacement only marks rows for its
    dropna, so nothing else changes)."""
    cols = cols or [f.name for f in df.schema.fields if f.dataType.typeName() == "string"]
    if not cols:
        return df
    return df.filter(" AND ".join(f"`{c}` IS NOT NULL AND `{c}` != ''" for c in cols))


# F3 — sentinel scrub (reference: glue/reddit_glue.py:239-252): "[deleted]"
# content and "None"/"" usernames are nulls, then rows missing either drop.

CONTENT_SENTINELS = ("", "[deleted]", "[removed]")
USERNAME_SENTINELS = ("", "None")


def scrub_sentinels(
    df: DataFrame, content_col: str = "content", user_col: str = "username"
) -> DataFrame:
    """One filter: rows whose content or username is null or a sentinel
    drop; the surviving rows are unchanged."""

    def kept(c: str, sentinels: tuple[str, ...]) -> str:
        listed = ", ".join(f"'{v}'" for v in sentinels)
        return f"`{c}` IS NOT NULL AND `{c}` NOT IN ({listed})"

    return df.filter(
        f"{kept(content_col, CONTENT_SENTINELS)} AND {kept(user_col, USERNAME_SENTINELS)}"
    )


# F4 — bot-author filter (reference: reddit/lambda_function.py:60-61).

BOT_AUTHORS = ("AutoModerator",)


def filter_bots(df: DataFrame, user_col: str = "username") -> DataFrame:
    c = F.col(user_col)
    return df.filter(c.isNotNull() & ~c.isin(*BOT_AUTHORS))


# F5 — length guard (reference: reddit/lambda_function_initial.py:49-50).


def filter_length(df: DataFrame, cols: list[str], max_len: int = 1000) -> DataFrame:
    """NULL rows are DROPPED (length(NULL) <= n is NULL ⇒ filtered out) —
    the reference calls len(text) on fetched content, which presumes it
    exists; a missing-content row fails the guard. Mirrors SQL
    `WHERE length(c) <= n` semantics so oracles need no NULL special-case."""
    out = df
    for c in cols:
        out = out.filter(F.length(F.col(c)) <= max_len)
    return out


# F6 — profanity blocklist (reference: reddit/lambda_function_initial.py:29-31
# wraps a ~700-term substring blacklist). Engine: one compiled regex
# alternation evaluated JVM-side; the term list is a plan literal so it ships
# with the task binary — no per-row Python. For multi-thousand-term lists at
# 100 TB, swap to an Aho-Corasick pandas_udf (same call site).

import re as _re


def blocklist_pattern(terms: list[str]) -> str:
    return "(?i)" + "|".join(_re.escape(t.lower()) for t in sorted(terms) if t)


def filter_blocklist(df: DataFrame, cols: list[str], terms: list[str]) -> DataFrame:
    """Drop rows where ANY of `cols` contains ANY blocked term (substring
    semantics, matching the reference's `in text` check)."""
    if not terms:
        return df
    pat = blocklist_pattern(terms)
    cond = F.lit(False)
    for c in cols:
        cond = cond | F.coalesce(F.col(c).rlike(pat), F.lit(False))
    return df.filter(~cond)


# ---------------------------------------------------------------------------
# T1 — array⇄CSV (reference: twitter/lambda_function.py:36 joins with ",";
# glue/twitter_glue.py:92 re-splits in Cypher). The T2 mention fan-out is a
# `transform` inside the graph model's emitter (plans/graph.py).


def parse_mentions(df: DataFrame, col: str = "mentionedUsers") -> DataFrame:
    """CSV-in-a-string → real array<string> (null/empty → empty array)."""
    return df.withColumn(
        col,
        F.when(
            F.col(col).isNull() | (F.col(col) == ""), F.array().cast("array<string>")
        ).otherwise(F.split(F.col(col), ",")),
    )


def mentions_to_csv(col: str = "mentionedUsers") -> Column:
    """Legacy-format boundary: array → comma-joined string."""
    return F.when(F.size(F.col(col)) == 0, F.lit(None)).otherwise(F.concat_ws(",", F.col(col)))


# T3 — partition label (reference: glue/reddit_glue.py:60).

DATALOAD_FMT = "dd-MM-yyyy"


def dataload_label(ts: Column) -> Column:
    """dd-MM-yyyy partition label (reference: glue/reddit_glue.py:60)."""
    return F.date_format(ts, DATALOAD_FMT)


# T4 — numeric casts at sink boundaries (reference: glue/twitter_glue.py:81-91).


def cast_cols(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    out = df
    for c, t in casts.items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out


# T5 — date arithmetic (reference: glue/twitter_glue.py:52).


def trunc_minute(col: str) -> Column:
    return F.date_trunc("minute", F.col(col))


def winsorize(
    df: DataFrame,
    col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Clip a numeric column to its [lower, upper] exact percentiles —
    outlier winsorization before aggregation or feature scaling. The
    quantile pair is a 1-row aggregate broadcast back over the frame
    (one pass to measure, one projection to clip — never a sort of the
    full column); `percentile` is the exact interpolated percentile, so
    an external SQL engine's quantile_cont reproduces it. NULLs pass
    through unchanged — greatest/least skip nulls, which would silently
    impute missing measurements to the lower bound without the guard."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    q = df.agg(
        F.percentile(F.col(col), F.lit(lower)).alias("__lo"),
        F.percentile(F.col(col), F.lit(upper)).alias("__hi"),
    )
    return (
        df.crossJoin(F.broadcast(q))
        .withColumn(
            out_col or col,
            F.when(
                F.col(col).isNotNull(),
                F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
            ),
        )
        .drop("__lo", "__hi")
    )


# --------------------------------------------------------------- PII scrub

# (kind, pattern, replacement), applied IN ORDER — most-specific first so
# an SSN is not half-eaten by the looser phone pattern. Patterns restrict
# to the regex subset shared by Java (Spark) and RE2-family engines: no
# backreferences, no lookaround — so an oracle replays them verbatim.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("cc", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CC>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
]


def redact_pii(
    df: DataFrame, text_col: str, out_col: str = "redacted", count: bool = True
) -> DataFrame:
    """Scrub PII (emails, phones, IPv4s, SSNs, card numbers) from a text
    column — the redaction pass every training-data pipeline runs before
    text leaves the trust boundary (the reference ships raw scraped text
    straight to its warehouse: glue/reddit_glue.py:216-236). Appends
    `out_col` (the redacted text) and, with `count=True`, one
    `n_<kind>` long column per pattern counted on the ORIGINAL text —
    the per-document audit trail a compliance report aggregates.

    Pure Column machinery: a fixed chain of regexp_replace/regexp_count
    projections, whole-stage codegen, no UDF, no shuffle — at 100 TB
    this runs at scan speed and composes with any downstream operator.
    Patterns are leftmost non-overlapping in every regex engine family,
    so counts and replacements are engine-reproducible (oracle-gated as
    `text_pii_redact`)."""
    out = df
    if count:
        for kind, pat, _rep in PII_PATTERNS:
            out = out.withColumn(
                f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
            )
    red = F.col(text_col)
    for _kind, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return out.withColumn(out_col, red)
