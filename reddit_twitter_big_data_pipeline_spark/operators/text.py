"""Text analysis for training-data pipelines — language ID, quality scoring,
token counting, fingerprinting (BASELINE.json north-star extensions).

Everything here is built-in Column expressions (whole-stage codegen, zero
Python in the hot path). The formulas are deliberately simple and exactly
SQL-expressible so every operator carries a DuckDB oracle in
``__spark_entry__.py`` — determinism is a feature: the same document always
scores the same, so re-running a 100 TB cleanse pass is idempotent.

The reference has no text analytics beyond enrichment API calls (SURVEY
§2.4); these extend that surface for LLM-data work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# --- tokenization ----------------------------------------------------------

# BPE-ish word/number/symbol split, shared with the DuckDB oracle verbatim.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def tokens(col: str = "text") -> Column:
    """Whitespace tokens (documents are single-space normalized)."""
    return F.split(F.col(col), " ")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: str = "text") -> Column:
    """Regex-tokenizer count: letter runs, digit runs, single symbols."""
    return F.size(F.regexp_extract_all(F.lower(F.col(col)), F.lit(BPE_PATTERN), 0))


# --- language ID -----------------------------------------------------------

# Marker stopwords per language. Deterministic n-gram-free heuristic: count
# marker-token occurrences, argmax with fixed precedence en > de > es on
# ties. (A production lang-ID swaps in a char-n-gram model behind the same
# column contract.)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
}


def _marker_hits(col: str, markers: tuple[str, ...]) -> Column:
    toks = tokens(col)
    hits = F.filter(toks, lambda t: t.isin(*markers))
    return F.size(hits)


def lang_id(col: str = "text") -> Column:
    s_en = _marker_hits(col, LANG_MARKERS["en"])
    s_de = _marker_hits(col, LANG_MARKERS["de"])
    s_es = _marker_hits(col, LANG_MARKERS["es"])
    return (
        F.when((s_de > s_en) & (s_de >= s_es), F.lit("de"))
        .when((s_es > s_en) & (s_es > s_de), F.lit("es"))
        .otherwise(F.lit("en"))
    )


# --- n-gram language identification (r8, VERDICT r7 item 5) ----------------
#
# A derivable language label for web-corpus curation (the reference trusts
# an upstream `lang` column; RefinedWeb/CCNet derive it). Word-profile
# langid in the Cavnar–Trenkle / Grefenstette tradition: per language, an
# INTEGER score = (occurrences of that language's high-frequency function
# words) + 2 × (occurrences of its distinctive accented letters); predicted
# language = argmax with a fixed priority tie-break, 'und' when every score
# is 0. The `quality_classifier_score` discipline: the model's weights are
# LITERALS in the plan — pure column expressions, no UDF, scan-speed, and a
# DuckDB oracle replays the arithmetic exactly. All-integer scoring means
# there is NO float tie boundary at all (the sketch-family rule: exact
# reproducibility even for a heuristic). A production swap-in (fastText
# lid.176 behind mapInPandas) keeps the same column contract.
#
# Marker words may legitimately appear in several lists ('de' is French,
# Spanish, Portuguese AND the Dutch article; 'is' is English and Dutch) —
# discrimination comes from the aggregate, ties from the priority order.

LANGID_LANGS = ("en", "de", "fr", "es", "it", "pt", "nl")  # = tie priority

LANGID_MARKERS = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
           "with", "as", "his", "on", "this", "have", "from", "not", "are",
           "but"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
           "für", "auf", "den", "dem", "des", "im", "sich", "auch", "als",
           "aus", "bei", "über", "nach", "wird", "einer"),
    "fr": ("le", "la", "les", "des", "est", "et", "en", "une", "du", "dans",
           "qui", "que", "pas", "pour", "sur", "au", "plus", "par", "avec",
           "ne", "se", "ce", "mais", "de", "où"),
    "es": ("el", "la", "los", "las", "es", "y", "en", "una", "del", "que",
           "no", "por", "con", "para", "su", "se", "como", "más", "pero",
           "al", "lo", "esta", "fue", "de", "sin"),
    "it": ("il", "lo", "la", "gli", "le", "è", "e", "di", "che", "un",
           "una", "per", "non", "con", "nel", "della", "si", "sono", "da",
           "più", "anche", "come", "ma", "dei"),
    "pt": ("o", "os", "as", "é", "e", "de", "que", "um", "uma", "do", "da",
           "em", "não", "para", "com", "por", "se", "dos", "das", "mais",
           "como", "foi", "na", "no", "ao"),
    "nl": ("de", "het", "een", "van", "dat", "niet", "op", "zijn", "met",
           "voor", "aan", "er", "ook", "als", "maar", "bij", "uit", "naar",
           "wordt", "om", "dan", "nog", "wel", "is"),
}

# distinctive accented letters per language (weight 2; counted on the
# lowered raw text, so punctuation-attached occurrences still count)
LANGID_CHARS = {
    "en": "",
    "de": "äöüß",
    "fr": "àâçèéêëîïôùûœ",
    "es": "áéíóúñ",
    "it": "àèéìòù",
    "pt": "ãõçáâéêíóôú",
    "nl": "",
}

# langid tokenization: lower, collapse every non-letter run (any script's
# letters the marker lists use) to a space — punctuation-proof, unlike the
# corpus `tokens()` which assumes pre-normalized single-space text
_LANGID_LETTERS = "a-zäöüßàâçèéêëîïôùûœáíóúñãõìò"
LANGID_NORM_RE = f"[^{_LANGID_LETTERS}]+"


def langid_word_hits(col: str, lang: str) -> Column:
    """Integer occurrence count of `lang`'s marker words in `col`."""
    toks = F.split(
        F.regexp_replace(F.lower(F.col(col)), LANGID_NORM_RE, " "), " "
    )
    return F.size(F.filter(toks, lambda t: t.isin(*LANGID_MARKERS[lang])))


def langid_char_hits(col: str, lang: str) -> Column:
    """Integer occurrence count of `lang`'s distinctive accented letters."""
    chars = LANGID_CHARS[lang]
    if not chars:
        return F.lit(0)
    return F.size(F.regexp_extract_all(F.lower(F.col(col)), F.lit(f"[{chars}]"), 0))


def langid_score(col: str, lang: str) -> Column:
    return (langid_word_hits(col, lang) + F.lit(2) * langid_char_hits(col, lang)).cast(
        "int"
    )


def _langid_scored(
    df: DataFrame, col: str, id_col: str, keep: tuple = ()
) -> DataFrame:
    """Two-level staging shared by ``langid_profile`` / ``langid_margin``
    (the r3 ``quality_signals`` lesson, re-learned on this family in r8:
    higher-order-function folds sit OUTSIDE codegen subexpression
    elimination, so the naive fused projection re-derived the
    split(regexp_replace(lower(text))) token array once per score
    REFERENCE — the argmax CASE chain alone references scores ~28×).

    Stage 1 projects ``lower(text)`` and the langid token array ONCE;
    stage 2 computes the 7 integer language scores over those columns.
    CollapseProject deliberately keeps multi-referenced non-trivial
    aliases staged, so both levels survive optimization, and consumers
    (argmax chain, greatest, sort_array margin) compare plain integer
    attributes. Arithmetic is identical to the fused form — same integer
    scores, same oracle."""
    low = F.lower(F.col(col))
    staged = df.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        low.alias("__low"),
        F.split(F.regexp_replace(low, LANGID_NORM_RE, " "), " ").alias("__toks"),
    )

    def _score(lang: str) -> Column:
        markers = LANGID_MARKERS[lang]  # bound per call — a default-arg
        # lambda param would read as pyspark's (element, index) HOF form
        w = F.size(F.filter(F.col("__toks"), lambda t: t.isin(*markers)))
        chars = LANGID_CHARS[lang]
        c = (
            F.size(F.regexp_extract_all(F.col("__low"), F.lit(f"[{chars}]"), 0))
            if chars
            else F.lit(0)
        )
        return (w + F.lit(2) * c).cast("int")

    return staged.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        *[_score(lang).alias(f"s_{lang}") for lang in LANGID_LANGS],
    )


def langid_profile(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", keep: tuple = ()
) -> DataFrame:
    """Per-document language identification: (id, [keep…,] s_<lang>… ,
    lang_pred, score). Argmax by CASE chain in priority order — branch ℓ
    needs only `s_ℓ >= s_m` against LOWER-priority languages m
    (higher-priority ones already claimed the row), plus `s_ℓ > 0`; rows
    where every score is 0 predict 'und'. First-match CASE semantics are
    identical in Spark and ANSI SQL, and every comparison is
    integer-vs-integer — no tie margin exists for
    tools/check_tie_margins.py to even check. ``keep`` columns pass
    through the staging untouched so a caller can gate on the prediction
    without re-joining by id (the r8 ``text_langid_gate`` shuffled the
    whole corpus to attach a label derivable in the scan)."""
    scored = _langid_scored(df, col, id_col, keep)
    scores = {lang: F.col(f"s_{lang}") for lang in LANGID_LANGS}
    return scored.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        *[F.col(f"s_{lang}") for lang in LANGID_LANGS],
        _langid_pred(scores).alias("lang_pred"),
        F.greatest(*scores.values()).cast("int").alias("score"),
    )


def _langid_pred(scores: dict) -> Column:
    """The argmax CASE chain over per-language integer scores (shared by
    `langid_profile` and `langid_margin` so the two can never disagree)."""
    expr = None
    for i, lang in enumerate(LANGID_LANGS):
        cond = scores[lang] > 0
        for m in LANGID_LANGS[i + 1 :]:
            cond = cond & (scores[lang] >= scores[m])
        expr = (
            F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
        )
    return expr.otherwise(F.lit("und"))


def langid_margin(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_margin: int = 1,
    keep: tuple = (),
) -> DataFrame:
    """Language-ID with a CONFIDENCE gate: (id, lang_pred, score, margin,
    lang_conf). `margin` = top score − second score after sorting the
    per-language integer scores descending (a 2-way tie at the top ⇒ 0 —
    the ambiguous case a curation pipeline should treat as unknown);
    `lang_conf` keeps `lang_pred` only when the prediction is non-'und'
    AND margin ≥ min_margin, else downgrades to 'und'. All-integer
    arithmetic end to end (sort_array of ints, integer subtraction), so
    the DuckDB oracle replays it exactly — no tie margin exists.
    ``keep`` columns pass through the staging untouched (the
    langid_profile contract — a curation pipeline gates on lang_conf
    without re-joining by id)."""
    scored = _langid_scored(df, col, id_col, keep)
    scores = {lang: F.col(f"s_{lang}") for lang in LANGID_LANGS}
    arr = F.sort_array(F.array(*scores.values()), asc=False)
    margin = (arr[0] - arr[1]).cast("int")
    pred = _langid_pred(scores)
    return scored.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        pred.alias("lang_pred"),
        F.greatest(*scores.values()).cast("int").alias("score"),
        margin.alias("margin"),
        F.when((pred != F.lit("und")) & (margin >= F.lit(min_margin)), pred)
        .otherwise(F.lit("und"))
        .alias("lang_conf"),
    )


# --- script-range pre-classification (r9, VERDICT r8 item 8) ---------------
#
# The word-profile langid above is Latin-script-only by construction; a
# real web corpus is full of CJK/Cyrillic/Arabic/Greek text that would
# otherwise score 'und'/noise. A Unicode-range pre-classifier fixes that
# with the same plan-literal discipline: per script, an INTEGER count of
# characters in the script's ranges (one regexp_extract_all per script —
# the \x{hhhh} class syntax is in the Java∩RE2 subset both engines run),
# argmax with a fixed priority, 'und' when every count is 0. Non-Latin
# rows take their script as the language tag and the Latin word profiles
# never fire for them (CASE branches evaluate lazily per row).

SCRIPT_RANGES = {
    # Latin-1/Extended letters only — U+00D7 (×) and U+00F7 (÷) are
    # arithmetic symbols inside the Latin-1 letter block and must not
    # count (ADVICE r9: '× ÷' would otherwise classify symbol-only text
    # as 'latin' and inflate Latin counts in mixed-script argmax)
    "latin": "A-Za-z\\x{00c0}-\\x{00d6}\\x{00d8}-\\x{00f6}\\x{00f8}-\\x{024f}",
    "cjk": "\\x{3040}-\\x{30ff}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}",
    "cyrillic": "\\x{0400}-\\x{04ff}",
    "arabic": "\\x{0600}-\\x{06ff}",
    "greek": "\\x{0370}-\\x{03ff}",
}
SCRIPT_PRIORITY = ("latin", "cjk", "cyrillic", "arabic", "greek")  # tie order

# r10 (VERDICT r9 item 4): the 'cjk' union splits into its three disjoint
# sub-ranges for LANGUAGE disambiguation — kana is used only by Japanese,
# hangul only by Korean, so presence (not argmax: Japanese text is often
# majority-han) decides: kana→ja, else hangul→ko, else han-only→zh. The
# union range stays the SCRIPT argmax key (and token_count_cjk's literal);
# the sub-counts ride the same staged projection as plan literals.
CJK_SUBRANGES = {
    "kana": "\\x{3040}-\\x{30ff}",
    "hangul": "\\x{ac00}-\\x{d7a3}",
    "han": "\\x{4e00}-\\x{9fff}",
}
CJK_LANG = {"kana": "ja", "hangul": "ko", "han": "zh"}  # presence order


def script_count(col: str, script: str) -> Column:
    """Integer count of `script`'s characters in `col` (plan literal)."""
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(f"[{SCRIPT_RANGES[script]}]"), 0)
    ).cast("int")


def _script_pred(counts: dict) -> Column:
    """Priority-ordered argmax CASE chain over per-script integer counts
    (the `_langid_pred` shape — branch s beats only lower-priority
    scripts; all-zero rows predict 'und')."""
    expr = None
    for i, s in enumerate(SCRIPT_PRIORITY):
        cond = counts[s] > 0
        for m in SCRIPT_PRIORITY[i + 1 :]:
            cond = cond & (counts[s] >= counts[m])
        expr = F.when(cond, F.lit(s)) if expr is None else expr.when(cond, F.lit(s))
    return expr.otherwise(F.lit("und"))


def script_profile(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_<script>…, script): the standalone pre-classifier."""
    staged = df.select(
        F.col(id_col),
        *[script_count(col, s).alias(f"n_{s}") for s in SCRIPT_PRIORITY],
    )
    counts = {s: F.col(f"n_{s}") for s in SCRIPT_PRIORITY}
    return staged.select(
        F.col(id_col),
        *[F.col(f"n_{s}") for s in SCRIPT_PRIORITY],
        _script_pred(counts).alias("script"),
    )


def cjk_subrange_count(col: str, part: str) -> Column:
    """Integer count of one CJK sub-range's characters (plan literal)."""
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(f"[{CJK_SUBRANGES[part]}]"), 0)
    ).cast("int")


def _cjk_lang(counts: dict) -> Column:
    """ja/ko/zh by sub-range PRESENCE in CJK_LANG order — kana fires only
    in Japanese and hangul only in Korean, so presence beats argmax (a
    Japanese sentence is often majority-han); han-only falls to zh."""
    expr = None
    for part, lang in CJK_LANG.items():
        cond = counts[part] > 0
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("zh"))  # unreachable when n_cjk > 0 holds


def langid_with_script(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Script pre-classifier composed with the Latin word-profile langid:
    (id, n_<script>…, n_kana, n_hangul, n_han, script, lang_pred).
    lang_pred = the word-profile argmax for Latin-script rows; for CJK
    rows the union splits by sub-range presence into ja/ko/zh (r10 —
    kana only occurs in Japanese, hangul only in Korean, han-only is
    Chinese); other non-Latin rows take the script tag itself
    ('cyrillic'/'arabic'/'greek'); 'und' when no script fires.
    All-integer decisions, staged like `_langid_scored` (script counts
    ride the first projection; the CASE reads staged attributes), so
    the DuckDB oracle replays every branch exactly."""
    subparts = tuple(CJK_LANG)  # ("kana", "hangul", "han")
    pre = df.select(
        F.col(id_col),
        F.col(col),
        *[script_count(col, s).alias(f"n_{s}") for s in SCRIPT_PRIORITY],
        *[cjk_subrange_count(col, p).alias(f"n_{p}") for p in subparts],
    )
    scored = _langid_scored(
        pre,
        col,
        id_col,
        keep=tuple(f"n_{s}" for s in SCRIPT_PRIORITY)
        + tuple(f"n_{p}" for p in subparts),
    )
    counts = {s: F.col(f"n_{s}") for s in SCRIPT_PRIORITY}
    sub = {p: F.col(f"n_{p}") for p in subparts}
    script = _script_pred(counts)
    word_pred = _langid_pred({lang: F.col(f"s_{lang}") for lang in LANGID_LANGS})
    return scored.select(
        F.col(id_col),
        *[F.col(f"n_{s}") for s in SCRIPT_PRIORITY],
        *[F.col(f"n_{p}") for p in subparts],
        script.alias("script"),
        F.when(script == F.lit("latin"), word_pred)
        .when(script == F.lit("und"), F.lit("und"))
        .when(script == F.lit("cjk"), _cjk_lang(sub))
        .otherwise(script)
        .alias("lang_pred"),
    )


# --- quality scoring -------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def punct_ratio(col: str = "text") -> Column:
    """Fraction of characters that are not [a-z0-9 ] after lowering."""
    low = F.lower(F.col(col))
    stripped = F.regexp_replace(low, "[a-z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(low), F.lit(1))


def stopword_ratio(col: str = "text") -> Column:
    toks = tokens(col)
    stops = F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    return F.size(stops) / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: str = "text") -> Column:
    """∈ [0,1]: rewards length (saturating at 100 tokens) and low punctuation
    noise. Mirrored exactly in SQL: LEAST(1, n_tokens/100) * (1 - punct)."""
    return F.least(F.lit(1.0), token_count(col) / F.lit(100.0)) * (
        F.lit(1.0) - punct_ratio(col)
    )


def repetition_signals(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", keep: tuple = ()
) -> DataFrame:
    """Gopher/MassiveText REPETITION filters (r10) — the quality family's
    missing axis: `quality_score`/`gopher_signals` measure shape (length,
    punctuation, stopwords), but SEO spam and template farms pass those
    while repeating themselves. Per doc:

    - ``n_lines``, ``dup_line_frac`` — fraction of '\\n'-lines whose exact
      text occurs more than once (boilerplate/template repetition);
    - ``dup_line_char_frac`` — the same weighted by characters (one long
      duplicated paragraph matters more than two short ones);
    - ``top_bigram_char_frac`` — characters covered by the most frequent
      word 2-gram (cnt × len(gram)) over the normalized text length
      (keyword-stuffing: 'click here click here …').

    All decisions are INTEGER (occurrence counts; the top-bigram argmax
    breaks count ties by gram string) and every ratio is one int/int
    division — bit-identical in both engines, no float tie surface.

    Scale shape: ZERO shuffles — both signals are per-row array folds in
    the `max_word_frac` style: sort the line/gram array, fold once over it
    counting runs of equal adjacent elements (a run of length c IS that
    element's occurrence count, so run-flushing reproduces the explode →
    groupBy(id, elem) counts exactly, and a strictly-greater best-run
    update over the ASC-sorted gram array IS the (count desc, gram asc)
    argmax). The explode + two-shuffle + window form this replaces was
    measured row-identical on the full 5k-doc sf0.1 corpus and 0.94× warm
    locally (tools/ab_repetition.py, interleaved min-of-4 — the per-row
    gram construction dominates at toy scale); at scale the fold runs at
    scan speed while the explode form shuffles the whole gram table.
    ``keep`` columns pass through the staging untouched (the
    langid_margin pattern), so a gate can filter on the signals without
    joining them back — since the signals are row-local, the passthrough
    costs nothing.

    r13: the input is `spread()` first — the per-row sort+fold chain is
    the most CPU-expensive row-local projection in the engine, and a
    few-MB corpus arrives as 1-2 scan splits, pinning the whole fold to
    1-2 cores (measured 7.1 s -> 2.1 s at sf0.1 on local[32]); at scale
    the scan has enough splits and spread is a no-op costing only the
    partition-count check."""
    from ..parallel import spread as _spread

    df = _spread(df)
    # line-run fold: flush a finished run's duplicate contribution on
    # element change; a trailing flush in finish() closes the last run.
    # The "" init for prev is safe: a leading run of real "" lines differs
    # only in taking the same-branch (run 0+1 = 1 = the change-branch).
    lz = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("dupch"),
    )

    def _lstep(acc: Column, t: Column) -> Column:
        same = t == acc["prev"]
        flush = ~same & (acc["run"] > 1)
        return F.struct(
            t.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            (acc["dup"] + F.when(flush, acc["run"]).otherwise(F.lit(0).cast("long"))).alias("dup"),
            (
                acc["dupch"]
                + F.when(flush, acc["run"] * F.length(acc["prev"])).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dupch"),
        )

    def _lfin(acc: Column) -> Column:
        last = acc["run"] > 1
        return F.struct(
            (acc["dup"] + F.when(last, acc["run"]).otherwise(F.lit(0).cast("long"))).alias("dup"),
            (
                acc["dupch"]
                + F.when(last, acc["run"] * F.length(acc["prev"])).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dupch"),
        )

    lines = F.split(F.col(col), "\n")
    line_stats = F.aggregate(F.array_sort(lines), lz, _lstep, _lfin)

    toks = F.split(normalize_text(col), " ")
    n = F.size(toks)
    grams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        _gram_array(toks, n, 2)
    )
    # best-run fold over the ASC-sorted grams: update only on run > best,
    # so among equal counts the FIRST (smallest) gram wins — the same
    # (count desc, gram asc) decision as the explode+window form
    gz = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit("").alias("bestg"),
    )

    def _gstep(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        better = run > acc["best"]
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, t).otherwise(acc["bestg"]).alias("bestg"),
        )

    top_gram = F.aggregate(
        F.array_sort(grams),
        gz,
        _gstep,
        lambda acc: F.struct(
            acc["best"].alias("cnt"), F.length(acc["bestg"]).cast("long").alias("len")
        ),
    )

    staged = df.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        F.size(lines).cast("long").alias("n_lines"),
        F.aggregate(
            lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
        ).alias("__line_chars"),
        F.length(normalize_text(col)).alias("__nchars"),
        line_stats.alias("__ls"),
        top_gram.alias("__gs"),
    )
    return staged.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        F.col("n_lines"),
        (F.col("__ls.dup").cast("double") / F.col("n_lines")).alias("dup_line_frac"),
        (
            F.col("__ls.dupch").cast("double")
            / F.greatest(F.col("__line_chars"), F.lit(1))
        ).alias("dup_line_char_frac"),
        F.coalesce(
            F.col("__gs.cnt") * F.col("__gs.len")
            / F.greatest(F.col("__nchars"), F.lit(1)).cast("double"),
            F.lit(0.0),
        ).alias("top_bigram_char_frac"),
    )


# --- fingerprinting --------------------------------------------------------


def normalize_text(col: str = "text") -> Column:
    """lower + trim + collapse internal whitespace — the canonical form every
    dedup operator keys on."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), "\\s+", " ")


def fingerprint(col: str = "text") -> Column:
    """128-bit content fingerprint (hex md5 of normalized text)."""
    return F.md5(normalize_text(col))


def fingerprint64(col: str = "text") -> Column:
    """64-bit-ish fingerprint as a long: first 15 hex digits of the md5
    (60 bits — stays positive in a signed long on both engines)."""
    return F.conv(F.substring(fingerprint(col), 1, 15), 16, 10).cast("long")


# --- DataFrame-level stage -------------------------------------------------


def text_profile(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One pass over the corpus computing the full profile. Single scan →
    project; no shuffle at any scale."""
    return df.select(
        F.col(id_col),
        token_count(col).alias("n_tokens"),
        bpe_token_count(col).alias("n_bpe_tokens"),
        lang_id(col).alias("lang_pred"),
        F.round(punct_ratio(col), 6).alias("punct_ratio"),
        F.round(stopword_ratio(col), 6).alias("stopword_ratio"),
        F.round(quality_score(col), 6).alias("quality"),
        fingerprint(col).alias("fp"),
    )


# --- chunking (training-data windows) --------------------------------------


def chunk_documents(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    window: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split each document into token windows of `window` tokens with
    `overlap` tokens of context carried between consecutive chunks — the
    pre-tokenization step of every LLM training-data pipeline.

    Pure Column plan: tokens → sequence of window starts (stride =
    window−overlap) → transform+slice builds each chunk → explode fans out.
    One narrow projection + one explode, no shuffle, no Python; 100 TB of
    documents chunks at scan speed. Output: (id, chunk_idx, chunk_text,
    n_chunk_tokens).
    """
    if overlap >= window:
        raise ValueError("overlap must be smaller than window")
    stride = window - overlap
    toks = tokens(col)
    n = F.size(toks)
    # starts: 0, stride, 2·stride, … covering every token at least once
    last_start = F.greatest(
        F.ceil((n - F.lit(window)) / F.lit(stride)).cast("int"), F.lit(0)
    )
    starts = F.transform(
        F.sequence(F.lit(0), last_start), lambda i: i * stride
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, s + 1, window)).alias("chunk_text"),
            F.least(F.lit(window), n - s).alias("n_chunk_tokens"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(chunks).alias("c")
    ).select("id", "c.chunk_idx", "c.chunk_text", "c.n_chunk_tokens")


# --- TF-IDF / salient terms -------------------------------------------------


def tf_idf(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """(id, term, tf, n_docs_with_term, tfidf) over normalized whitespace
    tokens — the relational formulation: explode → per-(doc, term) count
    (tf) → per-term distinct-doc count (df) → smoothed
    idf = ln((N+1)/(df+1)) + 1.

    All shuffles are keyed on the term or (doc, term) — never the document —
    and both aggregations combine map-side before their exchange. `min_df`
    prunes hapax noise before the join (at web scale the term dictionary's
    long tail dominates the join unless cut here). The corpus size N is a
    scalar broadcast literal via a 1-row cross join, not a driver constant
    baked at plan-build time, so the plan stays valid under re-execution.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(col), " ")).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.groupBy("term")
        .agg(F.countDistinct("id").alias("n_docs_with_term"))
        .filter(F.col("n_docs_with_term") >= min_df)
    )
    n_docs = df.agg(F.countDistinct(id_col).alias("__n"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + 1) / (F.col("n_docs_with_term") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
        .select("id", "term", "tf", "n_docs_with_term", "tfidf")
    )


def top_terms_per_doc(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", n: int = 5, min_df: int = 1
) -> DataFrame:
    """The n most salient terms per document by TF-IDF (ties break
    alphabetically for determinism). One extra shuffle on the doc id for the
    ranking window; AQE splits skewed docs."""
    from pyspark.sql.window import Window

    scored = tf_idf(df, col, id_col, min_df)
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select("id", "term", "tfidf", F.col("__rn").alias("rank"))
    )


# --- training-data scrubbing (PII / markup) --------------------------------
#
# The cleaning passes a pretraining corpus runs before anything else. All
# pure Column regexp expressions — JVM-side, codegen'd, one scan, no UDFs;
# at 100 TB these fuse into whatever projection already reads the text.

PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, regex, replacement) — applied in order: specific shapes first,
    # because the catch-all phone pattern would otherwise swallow dotted
    # quads and SSN-shaped ids
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"(?<![\w.])(?:\d{1,3}\.){3}\d{1,3}(?![\w.])", "<IP>"),
    ("ssn", r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)", "<SSN>"),
    # phone numbers in recognizable shapes only: +CC international, US
    # parenthesized, or 3-3-4 separated. A digits-and-separators catch-all
    # would also swallow dates ("2023-03-25 12") and number lists
    # ("10 20 30 40"), corrupting ordinary text at corpus scale.
    (
        "phone",
        r"(?<![\w.])(?:\+\d[\d ()\-.]{6,}\d"
        r"|\(\d{3}\)[ \-.]?\d{3}[ \-.]?\d{4}"
        r"|\d{3}[ \-.]\d{3}[ \-.]\d{4})(?![\w.])",
        "<PHONE>",
    ),
]


def scrub_pii(col: str = "text", patterns: list[tuple[str, str, str]] | None = None) -> Column:
    """Mask PII spans with typed placeholders (emails, phone numbers, IPv4,
    SSN-shaped ids). Pattern list is override-able; order matters (emails
    before phones so the digits in a mailbox name don't half-match)."""
    out = F.col(col)
    for _name, rx, repl in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, rx, repl)
    return out


def strip_markup(col: str = "text") -> Column:
    """Drop HTML/XML tags and bare URLs — the boilerplate-removal pass.
    Tags go first so an href URL inside a tag doesn't leave an orphan
    attribute; whitespace is re-collapsed at the end."""
    # first char must be tag-like, so comparison prose ("a < b and c > d")
    # is not eaten as markup
    no_tags = F.regexp_replace(F.col(col), r"</?[A-Za-z!][^>]{0,255}>", " ")
    no_urls = F.regexp_replace(no_tags, r"https?://[^\s<>\"]+|www\.[^\s<>\"]+", " ")
    return F.trim(F.regexp_replace(no_urls, r"\s+", " "))


# --- URL / domain curation (r8, VERDICT r7 item 6) -------------------------
#
# RefinedWeb/Dolma-style URL curation: canonicalize URLs so per-domain
# filters and quotas key on a stable form, and extract the REGISTERED
# domain (the public-suffix-plus-one label) as the quota/blocklist key.
# Pure `regexp_*` column expressions in the Java∩RE2 regex subset (the
# `scrub_pii` discipline) so a DuckDB oracle replays them verbatim — no
# lookbehind, no backreferences. The multi-part-suffix list is a small
# embedded subset of the public-suffix list (publicsuffix.org) covering
# the common ccTLD second-level registries; a full PSL lookup is a
# broadcast-join swap-in behind the same column contract.

# second-level public suffixes: "<label>.<cc>" where registration happens
# at the third level (ac/co/com/edu/gov/net/org under a 2-letter ccTLD)
_URL_SLD_RE = "(ac|co|com|edu|gov|net|org)\\.[a-z]{2}"
# scheme://[userinfo@]host[:port] — the authority prefix of an absolute URL
_URL_HEAD_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"


def normalize_url(col: str = "url") -> Column:
    """Canonical URL form: trim → drop the #fragment → drop the ?query
    (tracking params carry no content identity) → lowercase the
    scheme://authority prefix (host case is insignificant per RFC 3986;
    path case is NOT touched — it is significant) → strip trailing
    slashes. 'HTTP://Ex.COM/A/?q=1#f' → 'http://ex.com/A'."""
    u = F.trim(F.col(col))
    u = F.regexp_replace(u, "#.*$", "")  # fragment
    u = F.regexp_replace(u, "\\?.*$", "")  # query string
    head = F.lower(F.regexp_extract(u, _URL_HEAD_RE, 0))
    tail = F.regexp_replace(u, _URL_HEAD_RE, "")
    return F.regexp_replace(F.concat(head, tail), "/+$", "")


def url_host(col: str = "url") -> Column:
    """Hostname of an absolute URL: the authority minus userinfo and port,
    lowercased. Empty string when `col` is not an absolute URL."""
    return F.lower(
        F.regexp_extract(
            F.trim(F.col(col)),
            "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)",
            1,
        )
    )


def registered_domain(col: str = "url") -> Column:
    """Registered (public-suffix-plus-one) domain of an absolute URL —
    the per-domain quota/blocklist key. 'https://a.news.Example.co.uk/x'
    → 'example.co.uk'; bare IPv4 hosts pass through unchanged; non-URL
    rows → ''."""
    host = url_host(col)
    return (
        F.when(host.rlike("^[0-9.]+$"), host)  # IPv4 literal: no labels
        .when(
            host.rlike(f"\\.{_URL_SLD_RE}$"),
            F.regexp_extract(host, f"([^.]+\\.{_URL_SLD_RE})$", 1),
        )
        .otherwise(F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
    )


def registered_domain_psl(
    df: DataFrame,
    psl: DataFrame,
    url_col: str = "url",
    suffix_col: str = "suffix",
    id_col: str = "doc_id",
    passthrough: bool = False,
) -> DataFrame:
    """Registered-domain extraction against a public-suffix TABLE — the
    production form of `registered_domain`: the real publicsuffix.org
    list is ~10k rules with suffixes up to 4 labels deep ('k12.ma.us'),
    which no fixed regex can encode; here the rules are DATA. `psl` is
    a one-column frame of rules in publicsuffix.org syntax: plain
    suffixes ('co.uk'), wildcard rules ('*.ck' — any single label under
    the base is a public suffix), and exception rules ('!www.ck' — the
    named host is registrable despite a covering wildcard). Prevailing-
    rule semantics per the spec: an exception match wins outright (its
    public suffix is the rule minus its leftmost label); otherwise the
    longest plain/wildcard match; otherwise the implicit '*' default
    (last label), realized as the last-two-labels fallback below.

    Scale shape (r9 contract fix, VERDICT r8 item 4): the match pipeline
    runs on a SLIM (id, url) projection regardless of input width — each
    host expands to its ≤ n-label dot-suffix candidates (real hosts:
    3-6) plus their '*.'-prefixed wildcard forms, the candidates
    BROADCAST-join the rule table (10k rules ≪ any broadcast threshold;
    the corpus side never shuffles for the match), and the longest
    matching suffix wins in an aggregate keyed ONLY on
    (id, host-derived) columns, whose partial (map-side) stage collapses
    the explode back to one row per doc before the exchange. A caller's
    document text can therefore never enter a grouping key (the repo's
    slim-shuffle discipline, pinned in tests/test_plans.py). IPv4 hosts
    pass through; registered domain is '' when the host IS a public
    suffix or has a single label.

    Returns (id_col, domain). With ``passthrough=True`` the remaining
    input columns are re-attached by an id-keyed join — text crosses the
    wire once as payload, never as a key."""
    host = url_host(url_col)
    labels = F.split(host, "\\.")
    slim = df.select(
        F.col(id_col),
        host.alias("__host"),
        labels.alias("__labels"),
        F.size(labels).alias("__n"),
    )
    with_c = slim.withColumn(
        "__cand",
        # per k = 1..n: the k-label suffix as an EXACT candidate (k == n
        # ⇒ the whole host; a plain-rule match there means "host IS a
        # public suffix" ⇒ domain ''), plus for k >= 2 the wildcard form
        # '*.' + (k-1)-label suffix, which is exactly the text of a
        # covering '*.' rule — so both rule kinds join on one string key
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.col("__n")),
                lambda k: F.array(
                    F.struct(
                        k.alias("k"),
                        F.array_join(
                            F.slice(F.col("__labels"), F.col("__n") - k + 1, k), "."
                        ).alias("sfx"),
                        F.lit(0).alias("wild"),
                    ),
                    F.struct(
                        k.alias("k"),
                        F.concat(
                            F.lit("*."),
                            F.array_join(
                                F.slice(
                                    F.col("__labels"), F.col("__n") - k + 2, k - 1
                                ),
                                ".",
                            ),
                        ).alias("sfx"),
                        F.lit(1).alias("wild"),
                    ),
                ),
            )
        ),
    )
    exploded = with_c.select(
        id_col, "__host", "__labels", "__n", F.explode("__cand").alias("c")
    ).select(
        F.col(id_col),
        "__host",
        "__labels",
        "__n",
        F.col("c.k").alias("__k"),
        F.col("c.sfx").alias("__sfx"),
        F.col("c.wild").alias("__wild"),
    ).filter((F.col("__wild") == 0) | (F.col("__k") >= 2))
    # rule kinds: 0 plain, 1 wildcard (key kept in its '*.' form so wild
    # candidates match it textually), 2 exception (key = rule minus '!')
    rules = psl.select(
        F.when(
            F.col(suffix_col).startswith("!"),
            F.expr(f"substring({suffix_col}, 2)"),
        )
        .otherwise(F.col(suffix_col))
        .alias("__sfx"),
        F.when(F.col(suffix_col).startswith("!"), F.lit(2))
        .when(F.col(suffix_col).startswith("*."), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__kind"),
    )
    # LEFT join with the kind flag: non-matching candidates must survive
    # (a doc with zero rule hits still needs its fallback row). Exact
    # candidates may only claim plain/exception rules, wildcard-form
    # candidates only wildcard rules — the post-join filter keeps the
    # join itself a plain broadcast equi-join.
    matched = exploded.join(F.broadcast(rules), "__sfx", "left").filter(
        F.col("__kind").isNull()
        | ((F.col("__wild") == 0) & F.col("__kind").isin(0, 2))
        | ((F.col("__wild") == 1) & (F.col("__kind") == 1))
    )
    best = matched.groupBy(id_col, "__host", "__labels", "__n").agg(
        F.max(F.when(F.col("__kind").isin(0, 1), F.col("__k"))).alias("__knorm"),
        F.max(F.when(F.col("__kind") == 2, F.col("__k"))).alias("__kexc"),
    )
    # prevailing rule: exception ⇒ public suffix is the rule minus its
    # leftmost label (k-1); else the longest plain/wildcard match
    kbest = F.when(F.col("__kexc").isNotNull(), F.col("__kexc") - 1).otherwise(
        F.col("__knorm")
    )
    reg_join = F.when(
        kbest == F.col("__n"), F.lit("")  # host IS a suffix
    ).otherwise(
        F.array_join(
            F.slice(F.col("__labels"), F.col("__n") - kbest, kbest + 1), "."
        )
    )
    fallback = F.regexp_extract(F.col("__host"), "([^.]+\\.[^.]+)$", 1)
    dom = best.select(
        F.col(id_col),
        F.when(F.col("__host").rlike("^[0-9.]+$"), F.col("__host"))
        .when(kbest.isNotNull(), reg_join)
        .otherwise(fallback)
        .alias("domain"),
    )
    if passthrough:
        return df.join(dom, id_col)
    return dom


def domain_blocklist_filter(
    df: DataFrame, blocked: tuple[str, ...], url_col: str = "url"
) -> DataFrame:
    """Drop rows whose REGISTERED domain is on the blocklist (the
    RefinedWeb/UT1-style adult/spam domain screen). Keying on
    `registered_domain` means every subdomain of a blocked domain is
    blocked with it — the semantics a blocklist wants — while rows with
    no extractable domain ('' — non-URLs, single-label hosts) always
    pass: a blocklist can only assert about domains it names. A
    production-size list (UT1 ships ~4M entries) swaps the literal IN
    for a broadcast left-anti join on the same key
    (``domain_blocklist_filter_table``); the filter shape and column
    contract are unchanged."""
    return df.filter(~registered_domain(url_col).isin(*blocked))


def domain_blocklist_filter_table(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    blocked_col: str = "domain",
    broadcast: bool = True,
) -> DataFrame:
    """The production-cardinality form of ``domain_blocklist_filter``:
    the blocklist is a TABLE (UT1's adult/spam list ships ~4M registered
    domains — far past the point where a literal ``isin`` chain is
    plannable, let alone fast), screened with a LEFT-ANTI join on the
    registered domain. Same semantics as the literal form: keying on
    `registered_domain` blocks every subdomain of a blocked domain, and
    rows with no extractable domain ('') pass unless the list names ''.

    Scale shape: the corpus NEVER shuffles — with ``broadcast=True``
    (default) the list ships to executors once (~4M short strings is
    tens of MB serialized, comfortably inside executor memory) and the
    anti-join runs map-side as a BroadcastHashJoin LeftAnti. For a
    list too large to broadcast, pass ``broadcast=False``: the
    anti-join shuffles on the slim (domain) key — the corpus crosses
    the wire once as payload, the discipline every dedup operator here
    follows. Duplicate list entries are harmless in an anti-join (no
    fan-out), so no dedup pass is spent on the list."""
    right = blocked.select(F.col(blocked_col).alias("__dom"))
    if broadcast:
        right = F.broadcast(right)
    return (
        df.withColumn("__dom", registered_domain(url_col))
        .join(right, "__dom", "left_anti")
        .drop("__dom")
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-registered-domain curation rollup — the table RefinedWeb/Dolma
    -style pipelines rank and cap sources from: (domain, n_docs,
    n_tokens, mean_quality, share). One shuffle (the domain groupBy; at
    100 TB domains are the natural partial-agg key — map-side combine
    collapses each task to its distinct domains); the corpus total rides
    a broadcast 1-row crossJoin, never a second pass over rows.

    Float discipline: `quality_score` is order-dependent under a double
    SUM, so each row's quality is fixed to exact integer MICRO-UNITS
    (floor(q·1e6) as long — per-row, both engines compute the identical
    double, and floor is binary-value-exact in both, unlike round(),
    whose HALF-UP tie handling is decimal-string-based in Spark but
    binary in DuckDB) and aggregated as a long; the mean is one
    deterministic division at the end. n_tokens is a long sum of ints.
    Everything the hash gate sees is exact."""
    d = df.select(
        registered_domain(url_col).alias("domain"),
        token_count(text_col).alias("__tok"),
        F.floor(quality_score(text_col) * F.lit(1_000_000.0))
        .cast("long")
        .alias("__q_micro"),
    )
    agg = d.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum("__q_micro").alias("__q_sum"),
    )
    total = d.agg(F.count(F.lit(1)).alias("__total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "n_tokens",
        F.round(F.col("__q_sum") / F.col("n_docs") / F.lit(1_000_000.0), 6).alias(
            "mean_quality"
        ),
        F.round(F.col("n_docs") / F.col("__total"), 6).alias("share"),
    )


def domain_quality_gate(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_mean_micro: int = 150_000,
) -> DataFrame:
    """Domain-REPUTATION gate: keep documents whose registered domain's
    MEAN quality clears the threshold — the RefinedWeb-style source-
    level screen (a spam farm's individual pages can each sneak past a
    per-doc gate; its domain mean cannot). The comparison is EXACT
    integer arithmetic: sum(floor(q·1e6)) >= threshold · n_docs — the
    mean inequality cross-multiplied so no division and no float
    boundary exists (the `domain_stats` micro-unit discipline applied
    to a gate).

    Scale shape: one domain-keyed aggregate over a slim
    (domain, q_micro) projection (map-side combine collapses each task
    to its distinct domains), then the GOOD-domain set — far smaller
    than the corpus — semi-joins back; with AQE the semi-join
    broadcasts. Documents never ride a grouping key."""
    d = df.withColumn("__dom", registered_domain(url_col)).withColumn(
        "__qm",
        F.floor(quality_score(text_col) * F.lit(1_000_000.0)).cast("long"),
    )
    stats = d.groupBy("__dom").agg(
        F.sum("__qm").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    good = stats.filter(
        F.col("__s") >= F.lit(min_mean_micro) * F.col("__n")
    ).select("__dom")
    return d.join(good, "__dom", "left_semi").drop("__dom", "__qm")


def token_count_cjk(col: str = "text") -> Column:
    """Script-aware token count: whitespace words over the non-CJK text
    PLUS one token per CJK character — the convention CJK tokenizers
    approximate (no whitespace to split on; per-character is the
    standard budget proxy). CJK characters are replaced by spaces
    before the word split, so mixed text like '中文 words 中文' counts
    its words and its characters separately; empty fragments from the
    replacement are filtered (unlike the corpus `token_count`, which
    assumes single-space-normalized input). Pure column expression —
    token budgeting stays at scan speed."""
    cjk = SCRIPT_RANGES["cjk"]
    words = F.size(
        F.filter(
            F.split(F.regexp_replace(F.col(col), f"[{cjk}]", " "), " "),
            lambda t: t != F.lit(""),
        )
    )
    chars = F.size(F.regexp_extract_all(F.col(col), F.lit(f"[{cjk}]"), 0))
    return (words + chars).cast("long")


def strip_control_chars(col: str = "text") -> Column:
    """Remove control and zero-width characters (keeps \\t \\n): the invisible
    junk that breaks tokenizers and dedup keys."""
    return F.regexp_replace(
        F.col(col),
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f​‌‍﻿]",
        "",
    )


def clean_for_training(df: DataFrame, col: str = "text") -> DataFrame:
    """The composed scrub pass: markup → control chars → PII, in place.
    One projection, one scan; composes with quality_score/filters downstream."""
    return (
        df.withColumn("__c0", strip_markup(col))
        .withColumn("__c1", strip_control_chars("__c0"))
        .withColumn(col, scrub_pii("__c1"))
        .drop("__c0", "__c1")
    )


# --- Gopher/C4-style quality heuristics -------------------------------------

# Gopher's required-stopword list (Rae et al. 2021, "Scaling Language Models",
# table A1): a document must contain ≥2 of these to pass. Public heuristic,
# not from the reference (which has no quality filtering).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def mean_word_length(col: str = "text") -> Column:
    """Mean token length over single-space-normalized text — computed as
    (chars − separators) / words, a pure O(1)-per-row expression that never
    materializes the token array lengths."""
    n = token_count(col)
    return (F.length(F.col(col)) - (n - F.lit(1))) / F.greatest(n, F.lit(1))


def alpha_word_frac(col: str = "text") -> Column:
    """Fraction of tokens containing at least one [a-z] letter (after
    lowering) — Gopher's 80%-alphabetic rule."""
    toks = tokens(col)
    alpha = F.filter(toks, lambda t: F.lower(t).rlike("[a-z]"))
    return F.size(alpha) / F.greatest(F.size(toks), F.lit(1))


def stopword_hits(col: str = "text", markers: tuple[str, ...] = GOPHER_STOPWORDS) -> Column:
    """How many DISTINCT required stopwords appear in the document (presence,
    not frequency — a doc saying 'the' fifty times still scores 1)."""
    toks = tokens(col)
    present = F.filter(
        F.array(*[F.lit(m) for m in markers]), lambda s: F.array_contains(toks, s)
    )
    return F.size(present)


def type_token_ratio(col: str = "text") -> Column:
    """Distinct-token / token ratio — low values flag boilerplate or
    degenerate repetition."""
    toks = tokens(col)
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def _best_run(sorted_toks: Column) -> Column:
    """Longest run of equal adjacent elements in an already-sorted token
    array — ONE fold, shared by ``max_word_frac`` and the staged
    ``quality_signals`` so the repetition logic has a single definition."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_toks, zero, step, lambda acc: acc["best"])


def max_word_frac(col: str = "text") -> Column:
    """Fraction of the document taken by its single most frequent token —
    Gopher's repetition signal. Computed WITHOUT a shuffle: sort the token
    array and fold once over it counting the longest run of equal adjacent
    tokens (`aggregate` evaluates its lambda iteratively at runtime — the
    plan stays O(1) in size, the work O(n log n) per row). The equivalent
    explode → groupBy(doc, word) formulation shuffles the entire token table;
    at 100 TB this version is a projection."""
    toks = tokens(col)
    return _best_run(F.array_sort(toks)) / F.greatest(F.size(toks), F.lit(1))


# Gopher keep/drop thresholds (Rae et al. 2021) — the ONE definition both
# `gopher_keep` and the staged `quality_signals` predicate read, so a tuning
# change cannot silently diverge between them.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_TOP_WORD_FRAC = 0.2


def gopher_keep(
    col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
    min_mean_word_len: float = GOPHER_MIN_MEAN_WORD_LEN,
    max_mean_word_len: float = GOPHER_MAX_MEAN_WORD_LEN,
    min_alpha_frac: float = GOPHER_MIN_ALPHA_FRAC,
    min_stop_hits: int = 2,
    max_top_word_frac: float = GOPHER_MAX_TOP_WORD_FRAC,
) -> Column:
    """The composed Gopher keep/drop predicate. Thresholds are the published
    defaults; every signal is also exposed individually via
    ``quality_signals`` so a pipeline can tune per-corpus."""
    n = token_count(col)
    return (
        (n >= min_words)
        & (n <= max_words)
        & mean_word_length(col).between(min_mean_word_len, max_mean_word_len)
        & (alpha_word_frac(col) >= min_alpha_frac)
        & (stopword_hits(col) >= min_stop_hits)
        & (max_word_frac(col) < max_top_word_frac)
    )


def _gram_array(toks: Column, n_tokens: Column, n: int) -> Column:
    """Array of the doc's n-grams (one definition of the gram construction,
    shared by the repetition fold and the staged ``quality_signals``)."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_tokens - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def quality_signals(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_stop_hits: int = 2,
) -> DataFrame:
    """One scan → staged projections computing every Gopher-style signal plus
    the keep verdict. No shuffle at any scale (see ``max_word_frac`` for why
    even the repetition signal stays shuffle-free).

    The token array and every signal are STAGED through intermediate
    projections and referenced as columns, not recomputed per consumer: the
    naive single-projection form re-tokenized the text ~12× and ran the
    sort+fold repetition signal twice (once for the output column, once
    inside the keep predicate) because higher-order-function expressions
    sit outside codegen's subexpression elimination — measured 3.8 s → 0.5 s
    warm on the 5k-doc bench corpus, identical output. CollapseProject
    deliberately keeps multi-referenced non-trivial aliases staged, so the
    structure survives optimization. `keep` derives from the UNROUNDED
    signals (the same values the fused form used); rounding happens only in
    the final projection."""
    T = F.col("__toks")
    n = F.col("__n")
    best_run = _best_run(F.array_sort(T))

    staged = (
        df.select(F.col(id_col), F.col(col).alias("__text"), tokens(col).alias("__toks"))
        .withColumn("__n", F.size(T))
        .select(
            id_col,
            "__toks",
            "__n",
            ((F.length("__text") - (n - F.lit(1))) / F.greatest(n, F.lit(1))).alias("__mean"),
            (
                F.size(F.filter(T, lambda t: F.lower(t).rlike("[a-z]")))
                / F.greatest(n, F.lit(1))
            ).alias("__alpha"),
            F.size(
                F.filter(
                    F.array(*[F.lit(m) for m in GOPHER_STOPWORDS]),
                    lambda s: F.array_contains(T, s),
                )
            ).alias("__stops"),
            (F.size(F.array_distinct(T)) / F.greatest(n, F.lit(1))).alias("__ttr"),
            (best_run / F.greatest(n, F.lit(1))).alias("__top"),
            _gram_array(T, n, 2).alias("__g2"),
            _gram_array(T, n, 3).alias("__g3"),
        )
    )
    return staged.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.round(F.col("__mean"), 6).alias("mean_word_len"),
        F.round(F.col("__alpha"), 6).alias("alpha_word_frac"),
        F.col("__stops").cast("long").alias("stop_hits"),
        F.round(F.col("__ttr"), 6).alias("type_token_ratio"),
        F.round(F.col("__top"), 6).alias("top_word_frac"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("__g2")) / F.size("__g2"), 6
        ).alias("dup_2gram_frac"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("__g3")) / F.size("__g3"), 6
        ).alias("dup_3gram_frac"),
        (
            (n >= GOPHER_MIN_WORDS)
            & (n <= GOPHER_MAX_WORDS)
            & F.col("__mean").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
            & (F.col("__alpha") >= GOPHER_MIN_ALPHA_FRAC)
            & (F.col("__stops") >= min_stop_hits)
            & (F.col("__top") < GOPHER_MAX_TOP_WORD_FRAC)
        ).alias("keep"),
    )


# --- shared word tokenization (one normalization contract) ------------------


def word_tokens(df: DataFrame, col: str = "text", id_col: str | None = None) -> DataFrame:
    """Exploded (id?, word) rows over normalized whitespace tokens, empties
    dropped — THE word-level tokenize every corpus reduction shares
    (unigram_logprob, importance_weights, bpe.word_counts). One definition
    so the normalization contract (``normalize_text``: lower, trim,
    collapse ASCII whitespace) cannot drift between operators that claim
    to reduce 'the SAME table'."""
    cols = ([F.col(id_col).alias("id")] if id_col else []) + [
        F.explode(F.split(normalize_text(col), " ")).alias("word")
    ]
    return df.select(*cols).filter(F.col("word") != "")


def corpus_word_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """(word, cnt) — the corpus-sized reduction behind the unigram LM,
    importance weighting, and BPE training."""
    return word_tokens(df, col).groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# --- unigram LM scoring (perplexity-proxy quality signal) -------------------


def unigram_logprob(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Score every document by its mean token log-probability under the
    corpus's own unigram language model — the relational core of
    CCNet-style perplexity filtering (Wenzek et al. 2020 §4.2: documents
    far from the corpus distribution are boilerplate or noise; CCNet uses
    a KenLM 5-gram, this is the 1-gram special case that needs no external
    model). Output: (id, n_tokens, avg_logprob, ppl) with
    ppl = exp(−avg_logprob); higher ppl = less typical.

    Scale shape: one corpus-sized word-count reduction (word-keyed, map-
    side combined — the SAME table ``bpe_train`` reduces to), one join of
    the exploded tokens against the (word, logprob) model keyed on the
    word (AQE broadcasts it when the vocabulary is small; at web scale it
    shuffles 8-byte-ish rows, never documents), one per-doc aggregation.
    The corpus total rides as a 1-row broadcast cross join, not a plan
    literal (same stance as ``tf_idf``)."""
    toks = word_tokens(df, col, id_col)
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "word", F.log(F.col("cnt") / F.col("__total")).alias("lp")
    )
    return (
        toks.join(model, "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg("lp").alias("avg_logprob"),
        )
        .withColumn("ppl", F.exp(-F.col("avg_logprob")))
    )


# --- DSIR-style importance weighting (target-distribution selection) --------


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Score every RAW document by how target-like it is: the mean per-token
    log ratio of a target-corpus unigram model over the raw-corpus model,
    with Laplace smoothing `alpha` over the union vocabulary — the unigram
    instance of DSIR importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling": weights feed importance
    resampling to select raw data that matches a high-quality target like
    Wikipedia). Output: (id, n_tokens, avg_logratio, weight=e^avg_logratio);
    weight > 1 ⇒ more target-like than raw-typical.

    Scale shape: BOTH corpora reduce once to word counts (the same reduction
    as ``unigram_logprob``/``bpe_train``); the smoothed log-ratio model is a
    full-outer join of the two count tables keyed on the word; raw tokens
    join the model on the word (vocabulary-sized, AQE broadcasts when
    small) and aggregate per doc. Documents never shuffle; the corpus-total
    scalars ride as a broadcast 1-row cross join."""

    rt = word_tokens(raw, col, id_col)
    rc = rt.groupBy("word").agg(F.count(F.lit(1)).alias("cr"))
    tc = word_tokens(target, col).groupBy("word").agg(
        F.count(F.lit(1)).alias("ct")
    )
    m = (
        rc.join(tc, ["word"], "full")
        .select(
            "word",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    tot = m.agg(
        F.sum("cr").alias("__r"),
        F.sum("ct").alias("__t"),
        F.count(F.lit(1)).alias("__v"),
    )
    a = float(alpha)
    model = m.crossJoin(F.broadcast(tot)).select(
        "word",
        (
            F.log((F.col("ct") + a) / (F.col("__t") + a * F.col("__v")))
            - F.log((F.col("cr") + a) / (F.col("__r") + a * F.col("__v")))
        ).alias("lr"),
    )
    return (
        rt.join(model, "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg("lr").alias("avg_logratio"),
        )
        .withColumn("weight", F.exp(F.col("avg_logratio")))
    )


# --- linear quality classifier (fasttext-style scoring hook) ----------------

# Named feature expressions the classifier scores over. Each is a pure
# Column in [0, 1]-ish range, already used (and oracle-verified) by the
# quality-signal operators above.
QUALITY_FEATURES = {
    "len_sat": lambda col: F.least(F.lit(1.0), token_count(col) / F.lit(100.0)),
    "alpha_word_frac": alpha_word_frac,
    "stopword_ratio": stopword_ratio,
    "type_token_ratio": type_token_ratio,
    "punct_ratio": punct_ratio,
}

# Heuristic default weights (hand-set to prefer long, alphabetic, stopword-
# bearing, low-punctuation prose). A production pipeline swaps in weights
# trained offline (fasttext quality classifier, DSIR importance weights, a
# sklearn logistic fit) — the scoring plan is identical either way.
DEFAULT_QUALITY_WEIGHTS = {
    "bias": -2.0,
    "len_sat": 2.5,
    "alpha_word_frac": 2.0,
    "stopword_ratio": 3.0,
    "type_token_ratio": 1.0,
    "punct_ratio": -4.0,
}


def quality_classifier_score(
    col: str = "text", weights: dict[str, float] | None = None
) -> Column:
    """σ(w₀ + Σ wᵢ·featureᵢ(text)) — a linear (logistic) text-quality
    classifier whose weights are plan literals. This is how a trained
    fasttext/logistic quality model runs at 100 TB: the model IS the
    (tiny) weight vector, baked into a whole-stage-codegen'd projection —
    no UDF, no model server, no shuffle; scoring rides whatever scan
    already reads the text. (CCNet/GPT-3-style quality filtering, Wenzek
    et al. 2020 §4.3, re-expressed relationally; the reference has no
    quality model at all.)"""
    w = weights or DEFAULT_QUALITY_WEIGHTS
    unknown = set(w) - set(QUALITY_FEATURES) - {"bias"}
    if unknown:
        raise ValueError(
            f"quality_classifier_score: unknown weight keys {sorted(unknown)} "
            f"(known features: {sorted(QUALITY_FEATURES)}) — a typo here "
            "would silently change the model"
        )
    z: Column = F.lit(float(w.get("bias", 0.0)))
    for name, feat in QUALITY_FEATURES.items():
        if name in w:
            z = z + F.lit(float(w[name])) * feat(col)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def classifier_scores(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """(id, score, keep) for the whole corpus in one projection. The score
    stays an unrounded double (ulp-level exp() differences between engines
    are absorbed by significant-digit canonicalization, where a fixed
    decimal rounding would flip on .…5 boundaries)."""
    s = quality_classifier_score(col, weights)
    return df.select(
        F.col(id_col),
        s.alias("score"),
        (s >= F.lit(threshold)).alias("keep"),
    )


# --- sequence packing (training-example assembly) ---------------------------


def pack_sequences(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    partitions: int | None = None,
) -> DataFrame:
    """Pack documents into training sequences of at most `max_tokens`
    whitespace tokens per pack (greedy next-fit in doc-id order) — the
    assembly step after chunking: short documents share a sequence instead
    of wasting padded context.

    Scale shape: range-partition on the id (the only shuffle), then each
    partition packs ITS documents independently with a running token-count
    cursor inside one mapInPandas pass — packs never span partitions, so
    no global coordination exists and the result is deterministic for a
    given (partitioning, id order). A document longer than `max_tokens`
    gets a pack of its own (chunk first if that matters). Output:
    (pack_id string "<partition>-<seq>", doc_id, n_tokens) — n_tokens is
    the DOCUMENT's count (sum per pack_id for the pack total); join back
    to the corpus on doc_id to materialize pack text.

    Ids may be any orderable type (string ids sort lexicographically —
    the order only has to be stable, not semantic); rows with a null id
    are dropped (they cannot be joined back anyway).
    """
    import pandas as pd

    sc = df.sparkSession
    parts = partitions or sc.sparkContext.defaultParallelism
    id_type = df.schema[id_col].dataType.simpleString()
    ranged = (
        df.select(F.col(id_col).alias("doc_id"), token_count(col).alias("n_tokens"))
        .filter(F.col("doc_id").isNotNull())
        .repartitionByRange(parts, F.col("doc_id"))
        # range partitioning does NOT order rows inside a partition; the
        # packing cursor needs a stable order, and sorted batches also make
        # the first batch's first row the partition minimum
        .sortWithinPartitions("doc_id")
    )

    def pack(batches):
        part_key = None
        seq = 0
        used = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if part_key is None:
                # stable per-partition prefix without a second shuffle: the
                # smallest doc id this partition sees (range partitioning
                # makes it unique across partitions; batches arrive sorted)
                part_key = str(pdf["doc_id"].iloc[0])
            out_pack, out_n = [], []
            for n in pdf["n_tokens"]:
                n = int(n)
                if used > 0 and used + n > max_tokens:
                    seq += 1
                    used = 0
                used += n
                out_pack.append(f"{part_key}-{seq}")
                out_n.append(n)
            yield pd.DataFrame(
                {"pack_id": out_pack, "doc_id": pdf["doc_id"], "n_tokens": out_n}
            )

    return ranged.mapInPandas(pack, f"pack_id string, doc_id {id_type}, n_tokens int")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    col: str = "text",
    id_col: str = "doc_id",
    q_id_col: str = "query_id",
    q_col: str = "query_text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval: score every document against every query
    and keep each query's `k` best. The lexical-retrieval workhorse (the
    reference's corpus could only grep; BM25 is what a training-data
    pipeline uses to mine topical subsets or build retrieval eval sets).
    Returns (qid, doc_id, score) with score = Σ_terms idf·tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N − df + 0.5)/(df + 0.5))
    — the always-positive Robertson/Lucene form. Query term frequency is
    not weighted (distinct query terms), the common simplification.

    Scale shape — the inverted-index plan without materializing an index:
    - the token stream is scanned ONCE into two branches: a map-side-
      combinable per-doc length count (id-keyed), and a posting stream
      PRUNED to the query vocabulary by a broadcast semi-join BEFORE any
      wide exchange — at 100 TB the corpus's term tail never shuffles,
      only postings of the few hundred query terms do;
    - df comes from the pruned per-(id, term) frame (one count per term,
      broadcast back — bounded by the query vocabulary);
    - avgdl/N are a 1-row broadcast aggregate;
    - the final top-k window is keyed on the query id (|Q| keys, each with
      only docs that share ≥1 term with the query).
    Scores are rounded to 6 decimals BEFORE ranking so the ordering is
    reproducible across engines (sum-order float noise lives below that);
    ties break by doc id.
    """
    q_terms = (
        queries.select(
            F.col(q_id_col).alias("qid"),
            F.explode(F.split(normalize_text(q_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(col), " ")).alias("term"),
    )
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n")
    )
    tf = (
        toks.join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf has one row per (id, term), so df per term is a plain count —
    # bounded by the query vocabulary, broadcast back onto the postings
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "id")
        .agg(F.round(F.sum(idf * norm), 6).alias("score"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", F.col("id").alias("doc_id"), "score")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009): merge several per-query
    rankings — e.g. ``bm25_topk`` (lexical) and ``brute_force_topk``/
    ``quantized_topk`` (dense) — into one hybrid top-k by summing
    1/(c + rank) across the lists a document appears in. Rank-based fusion
    needs no score calibration between retrievers, which is exactly why
    hybrid retrieval stacks standardize on it; `c` damps the head (60 is
    the published default).

    Each input frame is (qid, doc_id, score). Within each list, rank is
    ordinal (row_number) by (score desc, id asc) — the same total order
    the retrievers themselves emit, so fusion is deterministic. Output: (qid, doc_id,
    rrf_score, n_lists) top-k per query.

    Scale shape: the inputs are already top-k lists (bounded: |Q|·k rows
    each), so every window/agg here is over k-sized groups keyed on the
    query id — the fusion costs nothing next to the retrieval passes that
    feed it.
    """
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    w = Window.partitionBy(qid_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    parts = [
        r.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("doc_id"),
            F.row_number().over(w).alias("__rank"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("qid", "doc_id").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(float(c)) + F.col("__rank"))), 6).alias(
            "rrf_score"
        ),
        F.count(F.lit(1)).alias("n_lists"),
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


from .._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


def bigram_logprob(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", lam: float = 0.75
) -> DataFrame:
    """Score every document under the corpus's own INTERPOLATED bigram
    language model — one n-gram order up from ``unigram_logprob`` toward
    the KenLM filter CCNet actually runs (Wenzek et al. 2020 §4.2).
    Jelinek-Mercer smoothing: P(w₂|w₁) = λ·C(w₁w₂)/C(w₁) + (1−λ)·C(w₂)/N,
    so an unseen continuation backs off to the unigram floor instead of
    −∞; each document's FIRST token scores under the unigram model alone
    (no history). Output: (id, n_tokens, avg_logprob, ppl).

    Scale shape: the token stream gets ONE doc-keyed shuffle for the
    lag() window that forms adjacent pairs (positions are per-doc, the
    window frame is a single preceding row); the bigram and unigram
    count reductions are word-keyed with map-side combine (the same
    tables ``bpe_train`` reduces to); the model joins key on 8-byte-ish
    words, never documents; the corpus total rides as a 1-row broadcast
    (the ``tf_idf`` stance)."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalize_text(col), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("__total"))
    w = Window.partitionBy("id").orderBy("pos")
    pairs = toks.withColumn("prev", F.lag("word").over(w))
    big = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "word")
        .agg(F.count(F.lit(1)).alias("bcnt"))
    )
    c_prev = uni.select(F.col("word").alias("prev"), F.col("cnt").alias("pcnt"))
    scored = (
        pairs.join(big, ["prev", "word"], "left")
        .join(c_prev, "prev", "left")
        .join(uni, "word")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            F.when(
                F.col("prev").isNull(),
                F.log(F.col("cnt") / F.col("__total")),
            ).otherwise(
                F.log(
                    F.lit(lam) * (F.col("bcnt") / F.col("pcnt"))
                    + F.lit(1.0 - lam) * (F.col("cnt") / F.col("__total"))
                )
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg("lp").alias("avg_logprob"),
        )
        .withColumn("ppl", F.exp(-F.col("avg_logprob")))
    )
