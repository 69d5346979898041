"""Event-stream analytics — funnel conversion and cohort retention over the
`events` table (user_id, ts, event_type). The batch form of the product
analytics the reference's daily aggregation jobs feed (SURVEY §2.5/§2.6
extension; the reference computes only per-day counts —
reference: glue/twitter_glue.py aggregates, no sequencing).

Both operators are pure joins/aggregations keyed on the user id or the
(cohort, offset) pair — payloads are (id, timestamp) rows, documents/props
never ride a shuffle, and every aggregation combines map-side. At 100 TB of
events the plans are a fixed number of user-keyed exchanges regardless of
funnel depth (one per stage) or retention horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def funnel_stage_times(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user ORDERED funnel: t_i = the earliest `stages[i]` event that
    happens STRICTLY AFTER the user's t_{i-1} (order matters — a purchase
    before the first view does not convert). Output: one row per user who
    completed stage 0, with one nullable timestamp column per stage
    (t_<stage>); a null marks the first uncompleted stage.

    Plan: stage 0 is a filtered min per user; each later stage is one
    conditional-min aggregation of that stage's events joined against the
    accumulating per-user frame — `len(stages)` user-keyed aggregations
    and joins total, each carrying (user, timestamp) only. The per-user
    frame shrinks at every stage (funnels only narrow), so AQE broadcasts
    the tail stages."""
    if not stages:
        raise ValueError("stages must be non-empty")
    ev = events.select(
        F.col(user_col).alias("user"), F.col(ts_col).alias("ts"), F.col(type_col).alias("et")
    )
    out = (
        ev.filter(F.col("et") == stages[0])
        .groupBy("user")
        .agg(F.min("ts").alias(f"t_{stages[0]}"))
    )
    prev = f"t_{stages[0]}"
    for st in stages[1:]:
        nxt = (
            ev.filter(F.col("et") == st)
            .join(out.select("user", prev), "user")
            .filter(F.col("ts") > F.col(prev))
            .groupBy("user")
            .agg(F.min("ts").alias(f"t_{st}"))
        )
        out = out.join(nxt, "user", "left")
        prev = f"t_{st}"
    return out


def funnel_counts(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(stage, stage_idx, n_users) — how many users reached each ordered
    stage. One count over ``funnel_stage_times``'s per-user frame."""
    times = funnel_stage_times(events, stages, user_col, ts_col, type_col)
    counts = times.agg(
        *[
            F.count(F.col(f"t_{st}")).cast("long").alias(f"__n_{i}")
            for i, st in enumerate(stages)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(st).alias("stage"),
                F.lit(i).alias("stage_idx"),
                F.col(f"__n_{i}").alias("n_users"),
            )
            for i, st in enumerate(stages)
        ]
    )
    return counts.select(F.explode(pairs).alias("s")).select(
        "s.stage", "s.stage_idx", "s.n_users"
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = None,
) -> DataFrame:
    """Classic cohort-retention matrix: cohort = the user's first active
    day; a (cohort_day, day_offset) cell counts the cohort's users active
    `day_offset` days later. Output: (cohort_day string, day_offset int,
    n_users) with offset 0 = the cohort size.

    Plan: one min-per-user aggregation (the cohort assignment), one join
    of the (user, day) distinct-activity frame against it (user-keyed,
    (id, date) payloads), one count keyed on (cohort, offset). AQE
    broadcasts the cohort frame when it is small relative to activity."""
    ev = events.select(
        F.col(user_col).alias("user"), F.to_date(ts_col).alias("day")
    ).distinct()
    cohorts = ev.groupBy("user").agg(F.min("day").alias("cohort_day"))
    j = ev.join(cohorts, "user").withColumn(
        "day_offset", F.datediff("day", "cohort_day")
    )
    if max_offset is not None:
        j = j.filter(F.col("day_offset") <= max_offset)
    return (
        j.groupBy("cohort_day", "day_offset")
        # plain count, not countDistinct: `ev` is distinct on (user, day)
        # and day = cohort_day + day_offset is fixed within a group, so a
        # user appears at most once per cell — count avoids the two-phase
        # distinct expand/exchange
        .agg(F.count("user").cast("long").alias("n_users"))
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_users",
        )
    )


def rolling_zscore(
    df,
    value_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    keys: list[str] | None = None,
    n_prev: int = 20,
    threshold: float = 3.0,
):
    """Rolling z-score anomaly flags: each row's value is standardized
    against the mean/stddev of its `n_prev` PRECEDING rows (per key, in
    (ts, id) order — the current row is excluded so a spike cannot mask
    itself). Output adds `zscore` (null while the trailing window has < 2
    points or zero variance) and `is_anomaly` (|z| ≥ threshold).

    The streaming-metrics shape of W2's windows: one window function over a
    bounded ROWS frame — a single key-partitioned exchange, O(n_prev) state
    per row inside the frame, no self-join. At 100 TB the frame bound is
    what matters: a RANGE/unbounded frame would drag each partition's whole
    history through every row, while ROWS BETWEEN n PRECEDING keeps the
    running buffer constant. Skewed keys (one hot metric) split fine under
    AQE since the frame is per-row bounded.
    """
    keys = keys or []
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-n_prev, -1)
    )
    mean = F.avg(F.col(value_col)).over(w)
    # stddev_samp: null on a single-row frame, matching the SQL oracle
    std = F.stddev_samp(F.col(value_col)).over(w)
    z = (F.col(value_col) - mean) / F.when(std > 0, std)
    return df.withColumn("zscore", F.round(z, 6)).withColumn(
        "is_anomaly", F.when(z.isNotNull(), F.abs(z) >= threshold).otherwise(F.lit(False))
    )


def event_sequences(
    df,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    id_col: str = "event_id",
    max_len: int | None = None,
):
    """Per-user ordered event sequences — the session-/behavior-model input
    shape: one row per user carrying their events as an array in (ts, id)
    order. One user-keyed aggregation; the sort is per-group array_sort on
    the collected structs (deterministic — the id tie-break totalizes the
    order), so no secondary-sort shuffle trick is needed. `max_len`
    truncates each sequence AFTER ordering (keep the earliest N), bounding
    payload for power users — at 100 TB the unbounded variant is a skew
    hazard exactly like any collect_list on a celebrity key.
    Output: (user, n_events, events array<string>)."""
    seq = F.array_sort(
        F.collect_list(F.struct(F.col(ts_col), F.col(id_col), F.col(event_col)))
    )
    events = F.transform(seq, lambda s: s[event_col])
    if max_len is not None:
        events = F.slice(events, 1, max_len)
    return df.groupBy(F.col(user_col).alias("user")).agg(
        F.count(F.lit(1)).alias("n_events"), events.alias("events")
    )


def event_transitions(
    df,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    id_col: str = "event_id",
):
    """Event→next-event transition counts across all users — the Markov /
    path-analysis aggregate behind "what happens after a view". One
    user-keyed window (lead over (ts, id) order) and one small
    (from, to)-keyed count; the |event types|² output is tiny at any
    corpus scale. Output: (from_event, to_event, n)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    nxt = df.withColumn("__next", F.lead(event_col).over(w)).filter(
        F.col("__next").isNotNull()
    )
    return nxt.groupBy(
        F.col(event_col).alias("from_event"), F.col("__next").alias("to_event")
    ).agg(F.count(F.lit(1)).alias("n"))


def mad_outliers(
    df,
    value_col: str,
    keys: list[str] | None = None,
    k: float = 3.0,
):
    """Robust outlier flags by Median Absolute Deviation: per key, flag
    rows where |x − median| > k · 1.4826 · MAD (1.4826 scales MAD to σ
    under normality). The robust complement to `rolling_zscore`: one
    extreme spike inflates a mean/std gate enough to mask later spikes,
    while median/MAD barely move — the standard choice for corrupt-metric
    and data-quality screens.

    Plan: two key-grouped exact-percentile aggregations (median of x, then
    median of |x − median|) joined back — both tiny (one row per key), so
    AQE broadcasts them; the data table never shuffles. Exact percentiles
    keep the oracle seam; swap approx_percentile at 100 TB if the
    two-pass median cost matters (the operator shape is unchanged).
    Output adds `median`, `mad`, `is_outlier`. Zero-MAD groups (over half
    the values identical) flag only rows strictly different when k·MAD=0
    degenerates — then any |x − median| > 0 flags, the conventional
    fallback."""
    keys = keys or []

    def attach(left, stats):
        # NULL-SAFE key join: a null key is its own group (groupBy keeps
        # it), and a plain equi-join would silently DROP those rows from a
        # data-quality screen — eqNullSafe keeps them flagged like any
        # other group
        if not keys:
            return left.crossJoin(F.broadcast(stats))
        r = stats
        for kc in keys:
            r = r.withColumnRenamed(kc, f"__r_{kc}")
        cond = [left[kc].eqNullSafe(r[f"__r_{kc}"]) for kc in keys]
        return left.join(F.broadcast(r), cond, "left").drop(
            *[f"__r_{kc}" for kc in keys]
        )

    med = df.groupBy(*keys).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("median")
    )
    madf = attach(df, med).groupBy(*keys).agg(
        F.expr(f"percentile(abs({value_col} - median), 0.5)").alias("mad"),
        F.first("median").alias("median"),
    )
    out = attach(df, madf)
    dev = F.abs(F.col(value_col) - F.col("median"))
    # boolean, never null (a null value / degenerate group is "not flagged",
    # matching rolling_zscore's convention)
    return out.withColumn(
        "is_outlier",
        F.when(dev > F.lit(k) * F.lit(1.4826) * F.col("mad"), F.lit(True)).otherwise(
            F.lit(False)
        ),
    )


def global_rank(
    df: DataFrame, order_cols: list[str], out_col: str = "rank"
) -> DataFrame:
    """Exact 1-based dense row rank under a TOTAL order (order_cols must
    be tie-free, e.g. ending in the table key) — WITHOUT the
    single-partition window a bare `row_number().over(Window.orderBy(…))`
    plans (WindowExec warns and funnels every row through one task).

    The distributed shape: range-repartition by the order columns (the
    only full-data shuffle, slim payload), rank LOCALLY per partition with a
    parallel window keyed on the partition id, and add per-partition
    offsets prefix-summed on the driver — one bounded row per partition,
    planner-sized metadata. The repartitioned frame is pinned with an
    eager localCheckpoint first: range boundaries come from sampling, so
    the counts pass and the rank pass MUST see the same physical
    partitioning (an uncached frame could legally resample between the
    two jobs and mis-assign every offset)."""
    from ..checkpointing import truncate_lineage as _trunc

    nparts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    s = _trunc(
        df.repartitionByRange(nparts, *[F.col(c).asc() for c in order_cols]), None
    )
    s = s.withColumn("__pid", F.spark_partition_id())
    sizes = {
        r["__pid"]: r["cnt"]
        for r in s.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }  # bounded: one row per partition
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        s.withColumn("__lr", F.row_number().over(w))
        .join(F.broadcast(off), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__lr")).cast("long"))
        .drop("__pid", "__off", "__lr")
    )


def equidepth_histogram(
    df: DataFrame, col: str, tie_cols: list[str], n_buckets: int = 16
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: `n_buckets` buckets each
    holding ~rows/n_buckets rows, with per-bucket count and value bounds
    — the distribution summary an optimizer keeps per column, and the
    binning a feature pipeline uses where equal-WIDTH bins collapse under
    heavy tails (most rows in one bin). Returns (bucket, n_rows, lo, hi)
    ordered by bucket.

    `tie_cols` MUST extend (col, *tie_cols) to a total order (e.g. the
    table key): bucket membership splits ties by rank, so without a
    deterministic order the boundaries — and the per-bucket min/max —
    are run-dependent. With it, any engine reproduces the histogram
    exactly: buckets replicate SQL-standard ntile (the first n%B buckets
    take one extra row), so the oracle is a plain `ntile(B)` — but the
    ENGINE side computes the rank with `global_rank`'s distributed
    two-phase shape and pure-integer bucket arithmetic, not the
    single-partition window ntile itself plans. When an approximate
    histogram is enough, `sketches.approx_quantiles` gives bucket
    BOUNDARIES in one pass with bounded state and no sort at all."""
    b = df.select(F.col(col).alias("v"), *tie_cols)
    n = b.count()
    if n == 0:
        return b.select(
            F.lit(0).alias("bucket"),
            F.lit(0).cast("long").alias("n_rows"),
            F.col("v").alias("lo"),
            F.col("v").alias("hi"),
        ).limit(0)
    ranked = global_rank(b, ["v", *tie_cols])
    base, rem = n // n_buckets, n % n_buckets
    r0 = F.col("rank") - 1  # 0-based
    if base == 0:
        bucket = F.col("rank")  # n < B: ntile puts rank r alone in bucket r
    elif rem == 0:
        bucket = _exact_div(r0, base) + 1
    else:
        cut = rem * (base + 1)  # rows in the one-extra buckets
        bucket = F.when(r0 < cut, _exact_div(r0, base + 1) + 1).otherwise(
            F.lit(rem) + _exact_div(r0 - cut, base) + 1
        )
    return (
        ranked.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("bucket")
    )


def _exact_div(num, d: int):
    """Exact integer floor-division of a non-negative long Column by a
    positive Python int: subtract the remainder first so the double
    division is of an exactly-divisible numerator — no float-boundary
    risk at any magnitude."""
    return ((num - F.pmod(num, F.lit(d))) / F.lit(d)).cast("long")


def psi_drift(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    tie_cols: list[str],
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    population of `col` — the drift monitor an ML data pipeline runs
    before retraining (PSI < 0.1 stable, > 0.25 shifted, by the usual
    credit-scoring rule of thumb). Buckets are the BASELINE's equi-depth
    boundaries (so baseline shares are ~uniform and the index measures
    how the current period redistributes across them); shares are
    Laplace-smoothed by half a count so an empty bucket contributes a
    finite, defined term. Returns one row per bucket:
    (bucket, n_base, n_cur, psi_contrib) with psi_contrib =
    (p − q)·ln(p/q) rounded to 6; sum(psi_contrib) is the index.

    Scale shape: the boundaries come from `equidepth_histogram` (the
    distributed two-phase rank) and are COLLECTED — n_buckets scalars,
    planner-sized — then bucket assignment is a driver-built CASE chain:
    pure whole-stage-codegen projection over both frames, one count
    aggregate each, no join anywhere near the data."""
    hist = equidepth_histogram(baseline, col, tie_cols, n_buckets).collect()
    uppers = [r.hi for r in hist]  # bounded: n_buckets scalars

    def bucket_of(c: Column) -> Column:
        out = F.lit(len(uppers))  # above every boundary -> last bucket
        for i in range(len(uppers) - 2, -1, -1):
            out = F.when(c <= uppers[i], F.lit(i + 1)).otherwise(out)
        return out

    def shares(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(bucket_of(F.col(col)).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    all_buckets = baseline.sparkSession.range(1, len(uppers) + 1).select(
        F.col("id").cast("int").alias("bucket")
    )
    joined = (
        all_buckets.join(shares(baseline, "n_base"), "bucket", "left")
        .join(shares(current, "n_cur"), "bucket", "left")
        .fillna(0, ["n_base", "n_cur"])
    )
    k = len(uppers)
    # totals via a whole-frame window: the frame is <= n_buckets rows of
    # metadata, so the single-partition window is free here
    w = Window.partitionBy(F.lit(1))
    p = (F.col("n_base") + 0.5) / (F.sum("n_base").over(w) + 0.5 * k)
    q = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(w) + 0.5 * k)
    return (
        joined.withColumn("psi_contrib", F.round((p - q) * F.log(p / q), 6))
        .select(
            "bucket",
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_cur").cast("long").alias("n_cur"),
            "psi_contrib",
        )
        .orderBy("bucket")
    )


def cusum_drift(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_cols: list[str],
    slack_pct: int = 5,
    threshold_pct: int = 50,
    unit: int = 1_000_000,
) -> DataFrame:
    """One-sided CUSUM drift detector (Page 1954) over each group's daily
    totals — the sequential changepoint monitor that catches a sustained
    upward shift a PSI snapshot smears out. The recursion
    s_t = max(0, s_{t-1} + x_t − μ − κ) is not window-expressible, but its
    closed form IS: with y_t = x_t − μ − κ and c_t = Σ_{j≤t} y_j,
    s_t = c_t − min(0, min_{j≤t} c_j) — two ordered windows, no loop.

    Everything is EXACT integer arithmetic so the flags cannot flip on a
    float seam: per-row values land as floor(value·unit) longs, daily
    totals / group totals are long sums, and the whole recursion is
    multiplied through by n (the group's day count) — μ·n = S needs no
    division, the slack κ = slack_pct% of the mean day becomes the exact
    `S·slack_pct // 100`, and the threshold (threshold_pct% of a mean
    day's total) scales the same way. Requires non-negative values (the
    floor-division identity assumes S ≥ 0).

    Returns (group..., day, cusum long, flag boolean) where `cusum` is
    the n·unit-scaled statistic. Scale shape: one (group, day) aggregate
    — partial map-side — then two windows partitioned by group ordered
    by day; a group's whole daily series sits in one WindowExec frame
    (spill-safe), and groups parallelize. At larger value magnitudes
    lower `unit` to keep n·Σ within long range."""
    groups = list(group_cols)
    daily = (
        df.select(
            *groups,
            F.col(ts_col).cast("date").alias("day"),
            F.floor(F.col(value_col) * unit).cast("long").alias("xi_row"),
        )
        .groupBy(*groups, "day")
        .agg(F.sum("xi_row").alias("xi"))
    )
    w_full = Window.partitionBy(*groups)
    w_ord = (
        Window.partitionBy(*groups)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = daily.select(
        *groups,
        "day",
        "xi",
        F.count(F.lit(1)).over(w_full).alias("n"),
        F.sum("xi").over(w_full).alias("s_total"),
    ).withColumn(
        "y",
        F.col("n") * F.col("xi")
        - F.col("s_total")
        - _exact_div(F.col("s_total") * slack_pct, 100),
    )
    cum = staged.select(
        *groups, "day", "s_total", F.sum("y").over(w_ord).alias("c")
    )
    runmin = cum.select(
        *groups, "day", "s_total", "c", F.min("c").over(w_ord).alias("c_runmin")
    )
    return runmin.select(
        *groups,
        "day",
        (F.col("c") - F.least(F.lit(0).cast("long"), F.col("c_runmin"))).alias(
            "cusum"
        ),
        (
            (F.col("c") - F.least(F.lit(0).cast("long"), F.col("c_runmin")))
            > _exact_div(F.col("s_total") * threshold_pct, 100)
        ).alias("flag"),
    )


def grouped_trend(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_cols: list[str],
    unit: int = 1_000_000,
) -> DataFrame:
    """Per-group OLS trend of daily totals — the closed-form regression a
    fleet of per-metric monitors runs instead of an iterative fit: slope
    and intercept from the five sufficient statistics (n, Σx, Σy, Σxy,
    Σx²), which are EXACT integer sums here: y is the day's total in
    floor(value·unit) longs, x is the day offset from the group's first
    day. The five sums and the num/den cross products are computed in
    decimal(38,0) — exact integer arithmetic to 10^38, so adversarial
    magnitudes (day totals near 10^16, where long×long cross products
    overflow 2^63) stay exact instead of erroring under ANSI mode (the
    r13 adversarial-magnitude property found the n·Σxy seam). The
    binding range is the num/den PRODUCTS, not the sums: under
    allowPrecisionLoss they cap at decimal(38,0) a few orders before
    the sums would — past that ANSI errors and non-ANSI yields NULL
    (still strictly wider than the old 2^63 seam; ADVICE r13). The only
    float ops are the slope division and the intercept's
    (Σy − slope·Σx)/n — fixed IEEE op order, engine-reproducible
    (decimal→double casts are correctly rounded, bit-identical to the
    long→double casts they replace wherever the value fits a long).

    Returns (group..., n_days, slope, intercept): slope in micro-units
    per day, intercept the fitted level at the group's first day.
    Scale shape: one (group, day) aggregate, one min-day window, one
    five-sum aggregate per group — everything map-side partial; no sort,
    no iteration, groups parallelize. Degenerate single-day groups return
    NULL slope/intercept (denominator 0)."""
    groups = list(group_cols)
    daily = (
        df.select(
            *groups,
            F.col(ts_col).cast("date").alias("day"),
            F.floor(F.col(value_col) * unit).cast("long").alias("yi_row"),
        )
        .groupBy(*groups, "day")
        .agg(F.sum("yi_row").alias("y"))
    )
    w_full = Window.partitionBy(*groups)
    xy = daily.select(
        *groups,
        F.datediff(F.col("day"), F.min("day").over(w_full)).cast("long").alias("x"),
        "y",
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    sums = xy.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    num = sums["n"] * sums["sxy"] - sums["sx"] * sums["sy"]
    den = sums["n"] * sums["sxx"] - sums["sx"] * sums["sx"]
    slope = F.when(den != 0, num.cast("double") / den.cast("double"))
    return sums.select(
        *groups,
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        F.when(
            den != 0,
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
        ).alias("intercept"),
    )


def grouped_corr(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    group_col: str,
    unit: int = 100,
) -> DataFrame:
    """Pairwise Pearson correlation between each group's DAILY-TOTAL
    series — the cross-metric dependency monitor next to `cusum_drift`
    (did purchases decouple from views?). Exact-integer sufficient
    statistics again: daily totals in floor(value·unit) longs, the six
    sums (n, Σx, Σy, Σxy, Σx², Σy²) in decimal(38,0) — exact integer
    arithmetic to 10^38, so day totals near 10^16 (whose Σy² cross
    products overflow long multiplication — the r13 adversarial-
    magnitude property found exactly that seam at value≈10^12·unit=100)
    stay exact instead of erroring under ANSI mode. The binding range is
    the NUM/DEN cross products (n·Σxy − Σx·Σy etc.), not the sums: under
    allowPrecisionLoss those products cap at decimal(38,0) a few orders
    before the sums would, so past ~10^38 on the products ANSI errors
    and non-ANSI yields NULL — still strictly wider than the old 2^63
    long seam (ADVICE r13). The only float ops
    are numerator/denominator conversion (decimal→double, correctly
    rounded — bit-identical to the long→double casts they replace
    wherever the value fits a long), two IEEE-exact sqrts and one
    division in fixed order — bit-reproducible, so a correlation matrix
    is hash-gateable, which `F.corr`'s streaming-moment doubles are not.

    Returns one row per unordered group pair (g_a < g_b):
    (g_a, g_b, n_days, corr double; NULL when either series is constant
    or the overlap is empty). Scale shape: one (group, day) aggregate,
    one day-keyed equi-join of the slim (group, day, long) frame with
    itself, one six-sum aggregate per pair — day-count-sized data, never
    row-sized."""
    daily = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(ts_col).cast("date").alias("day"),
            F.floor(F.col(value_col) * unit).cast("long").alias("yi_row"),
        )
        .groupBy("g", "day")
        .agg(F.sum("yi_row").alias("y"))
    )
    a = daily.select(F.col("g").alias("g_a"), "day", F.col("y").alias("ya"))
    b = daily.select(F.col("g").alias("g_b"), "day", F.col("y").alias("yb"))
    pairs = a.join(b, "day").filter(F.col("g_a") < F.col("g_b"))
    yad = F.col("ya").cast("decimal(38,0)")
    ybd = F.col("yb").cast("decimal(38,0)")
    sums = pairs.groupBy("g_a", "g_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(yad).alias("sx"),
        F.sum(ybd).alias("sy"),
        F.sum(yad * ybd).alias("sxy"),
        F.sum(yad * yad).alias("sxx"),
        F.sum(ybd * ybd).alias("syy"),
    )
    num = sums["n"] * sums["sxy"] - sums["sx"] * sums["sy"]
    den_x = sums["n"] * sums["sxx"] - sums["sx"] * sums["sx"]
    den_y = sums["n"] * sums["syy"] - sums["sy"] * sums["sy"]
    return sums.select(
        "g_a",
        "g_b",
        F.col("n").alias("n_days"),
        F.when(
            (den_x > 0) & (den_y > 0),
            num.cast("double")
            / (F.sqrt(den_x.cast("double")) * F.sqrt(den_y.cast("double"))),
        ).alias("corr"),
    )


def sessionize_batch(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Batch gap-based sessionization — the offline twin of the W6
    `session_window` sessions (the `w6_sessionize` query), for backfills and
    historical re-sessionization: a new session starts wherever a user's
    inter-event gap exceeds `gap_minutes`. The classic window
    composition: lag → gap flag → running sum of flags = session
    sequence number. Timestamps are compared as unix MICROSECOND longs
    (Spark `unix_micros` == DuckDB `epoch_us`), so session boundaries
    are exact integer comparisons with no timestamp-format or float
    seam.

    Returns the per-session summary: (user, session_seq, start_us,
    end_us, n_events, duration_us) — session_seq is 1-based per user in
    time order. Scale shape: ONE user-keyed exchange feeds both the
    ordered window and the (user, session_seq) aggregate (the window's
    partitioning satisfies the groupBy — no second shuffle); a user's
    history sits in one spill-safe WindowExec frame, users parallelize."""
    gap_us = gap_minutes * 60 * 1_000_000
    ev = df.select(
        F.col(user_col).alias("user"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(id_col).alias("eid"),
    )
    w = Window.partitionBy("user").orderBy("us", "eid")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user", "session_seq")
        .agg(
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Shuffle-key skew diagnosis — the numbers that DECIDE the physical
    strategy at 100 TB (salt or not, broadcast or shuffle, AQE skew
    thresholds): one row of
    (n_rows, n_keys, entropy, norm_entropy, top1_share, topn_share).
    entropy = −Σ p·ln p over the key frequency distribution,
    norm_entropy = entropy/ln(n_keys) ∈ [0,1] (1 = uniform, → 0 =
    degenerate hot key), topk shares = the mass of the heaviest keys
    (rank ties broken by key order, so the shares are deterministic).

    Scale shape: ONE groupBy(key) count — the same exchange any
    diagnosis must pay — then a single aggregate over the
    key-cardinality-sized count frame; the top-k mass reuses that frame
    through one ordered window (spill-safe, counts only — no payload).
    NULL keys are excluded (they hash-partition to one place but are
    usually filtered before a join)."""
    counts = (
        df.select(F.col(key_col).alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy().orderBy(F.col("c").desc(), F.col("k").asc())
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    agg = ranked.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sum_clogc"
        ),
        F.sum(F.when(F.col("rnk") <= 1, F.col("c")).otherwise(F.lit(0))).alias(
            "top1"
        ),
        F.sum(F.when(F.col("rnk") <= top_n, F.col("c")).otherwise(F.lit(0))).alias(
            "topn"
        ),
    )
    n = F.col("n_rows").cast("double")
    # entropy = ln n − (Σ c·ln c)/n  (one pass, no per-key division)
    ent = F.log(n) - F.col("sum_clogc") / n
    return agg.select(
        "n_rows",
        "n_keys",
        ent.alias("entropy"),
        F.when(F.col("n_keys") > 1, ent / F.log(F.col("n_keys").cast("double")))
        .alias("norm_entropy"),
        (F.col("top1").cast("double") / n).alias("top1_share"),
        (F.col("topn").cast("double") / n).alias("topn_share"),
    )
