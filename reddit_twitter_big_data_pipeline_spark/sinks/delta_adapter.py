"""Optional Delta Lake routing for the write family (VERDICT r10 item 8,
extended r12 per VERDICT r11 item 5): SURVEY §1-§2's Spark mapping for
the reference's idempotent upserts (Cypher MERGE, reference:
glue/reddit_glue.py:72-79; the T+2/3-day score re-crawl,
reddit/lambda_function_aggregate.py:59-71) says "Delta MERGE"; the
engine ships crash-safe parquet MERGEs so it has zero hard dependencies.
This adapter closes the cluster-adoption gap: when `delta-spark` is
importable, the `*_auto` entry points route through real Delta
transactions (one dependency, zero code change); otherwise they fall back
to the `writers` parquet implementations unchanged:

  merge_upsert_auto             -> Delta MERGE INTO
  merge_upsert_partitioned_auto -> Delta MERGE INTO with partition keys
                                   in the match condition (Delta's file
                                   pruning then scopes the rewrite to
                                   touched partitions, the job
                                   writers.merge_upsert_partitioned does
                                   by hand)
  replace_table_auto            -> transactional mode("overwrite")
                                   (readers keep the old snapshot; the
                                   plan may READ the table it replaces,
                                   same contract as the two-rename swap)
  overwrite_partitions_auto     -> dynamic partitionOverwriteMode (the
                                   Delta-native equivalent of a
                                   replaceWhere over df's partitions)
  compact_table_auto            -> OPTIMIZE / ZORDER BY (transactional
                                   small-files maintenance)
  vacuum_auto                   -> VACUUM / manifested-version GC /
                                   plain-parquet no-op
  convert_to_delta              -> CONVERT TO DELTA migration for tables
                                   the parquet path was maintaining

Semantics contract (`writers._last_writer_wins`, the parquet merges'
policy):
- among duplicate update keys the largest `order_col` wins — Delta MERGE
  requires unique source keys, so the source is reduced by that same rule;
- last-writer-wins across calls: a matched row updates only when
  `s.order_col >= t.order_col` (>= keeps update-over-existing on ties);
- key comparison is null-safe (`<=>`), as NULL keys group together in
  the parquet merges' window.
"""

from __future__ import annotations

import importlib
import warnings

from pyspark.sql import DataFrame, SparkSession

from . import writers


def _delta_table_cls():
    """The `delta.tables.DeltaTable` class, or None when delta-spark is
    not importable (the sandbox default). Resolved per call — cheap, and
    it lets tests fake the module both ways."""
    try:
        mod = importlib.import_module("delta.tables")
    except ImportError:
        return None
    return getattr(mod, "DeltaTable", None)


def delta_available() -> bool:
    """True when `delta-spark` is importable in this environment."""
    return _delta_table_cls() is not None


def read_table_auto(spark: SparkSession, path: str) -> DataFrame:
    """Read `path` as a Delta table when it IS one, else as parquet — the
    read twin of the `*_auto` writers. Required wherever a table MIGHT
    have been bootstrapped as Delta by an `*_auto` write (e.g. the
    streaming-curation state tables): a plain parquet read of a Delta dir
    sees every historical file, silently duplicating overwritten rows."""
    route, _, _ = _route(spark, path)
    if route == "delta":
        return spark.read.format("delta").load(path)
    return spark.read.parquet(path)


def _route(spark: SparkSession, path: str):
    """The single routing decision every `*_auto` entry point shares
    (r12 review: five hand-rolled copies had already drifted). Returns
    (route, DeltaTable, reason):

      ("parquet", ..., reason) — run the writers fallback: delta-spark
          is not importable, or the path holds a pre-existing non-Delta
          table (which installing the dependency must never break —
          migrate explicitly with `convert_to_delta`);
      ("delta", cls, None)     — the path IS a Delta table: use it;
      ("bootstrap", cls, None) — delta-spark importable and the path is
          missing: create the table as Delta.
    """
    DeltaTable = _delta_table_cls()
    if DeltaTable is None:
        return "parquet", None, "delta-spark is not importable"
    if DeltaTable.isDeltaTable(spark, path):
        return "delta", DeltaTable, None
    fs, p = writers._hadoop_fs(spark, path)
    if fs.exists(p):
        return "parquet", DeltaTable, "the target is a pre-existing non-Delta table"
    return "bootstrap", DeltaTable, None


def _delta_merge(
    spark: SparkSession,
    DeltaTable,
    route: str,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None,
    partition_cols: list[str] | None,
    match_cols: list[str],
) -> DataFrame:
    """The one Delta MERGE chain both merge routes share. The source is
    `updates` reduced by `writers._last_writer_wins` (Delta MERGE rejects
    duplicate match keys, and that rule is the parquet merges' own). A
    "bootstrap" route writes it as a new Delta table partitioned by
    `partition_cols`; a "delta" route merges it on a null-safe `<=>` match
    over `match_cols`, updating a matched row only when
    `s.order_col >= t.order_col` (ties go to the update) and inserting
    every non-match."""
    src = writers._last_writer_wins(None, updates, keys, order_col)
    if route == "bootstrap":
        w = src.write.format("delta")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.save(target_path)
        return DeltaTable.forPath(spark, target_path).toDF()
    cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in match_cols)
    dt = DeltaTable.forPath(spark, target_path)
    m = dt.alias("t").merge(src.alias("s"), cond)
    if order_col is not None:
        m = m.whenMatchedUpdateAll(condition=f"s.`{order_col}` >= t.`{order_col}`")
    else:
        m = m.whenMatchedUpdateAll()
    m.whenNotMatchedInsertAll().execute()
    return dt.toDF()


def merge_upsert_auto(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """`merge_upsert` through Delta `MERGE INTO` when delta-spark is
    importable; otherwise `writers.merge_upsert`, the full-table parquet
    merge committed by a staged two-rename swap.

    With Delta: a MISSING target bootstraps as a new Delta table
    (partitioned by `partition_cols` when given — Delta then scopes the
    MERGE rewrite to touched partitions on its own, the job
    `merge_upsert_manifested` does by hand for parquet). An EXISTING
    non-Delta dir at `target_path` — a table the parquet merge was
    maintaining before delta-spark got installed — keeps routing through
    `writers.merge_upsert`, so installing the dependency never breaks a
    working upsert job; migrate such tables explicitly with
    `convert_to_delta` when ready, after which calls route to MERGE.

    `partition_cols` shapes ONLY the Delta bootstrap (ADVICE r11): both
    fallback routes (`delta-spark` absent, or a pre-existing plain
    parquet dir) run `writers.merge_upsert`, which writes an
    UNPARTITIONED table — a `UserWarning` flags the dropped layout hint
    so the divergence is never silent. Callers who need the partitioned
    parquet layout want `merge_upsert_partitioned_auto` instead (its
    fallback IS partition-scoped)."""
    route, DeltaTable, reason = _route(spark, target_path)
    if route == "parquet":
        if partition_cols:
            warnings.warn(
                "merge_upsert_auto: partition_cols is honored only on the "
                f"Delta bootstrap path; {reason}, so the table stays "
                "UNPARTITIONED plain parquet (use merge_upsert_partitioned_auto "
                "for a partition-scoped fallback)",
                UserWarning,
                stacklevel=2,
            )
        return writers.merge_upsert(spark, target_path, updates, keys, order_col)
    return _delta_merge(
        spark, DeltaTable, route, target_path, updates, keys, order_col,
        partition_cols, keys,
    )


def merge_upsert_partitioned_auto(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """`merge_upsert_partitioned` through Delta `MERGE INTO` when
    delta-spark is importable; the partition-swapping parquet merge
    otherwise (same fallback discipline as `merge_upsert_auto`: missing
    targets bootstrap as a partitioned Delta table, pre-existing
    non-Delta dirs keep the parquet path until `convert_to_delta`).

    The Delta match condition includes `partition_cols` alongside `keys`
    — semantically free under the operator's documented contract (an
    update lands in the SAME partition as the row it replaces, the
    late-refresh invariant; see writers.merge_upsert_partitioned), and
    it is what lets Delta prune the MERGE's file scan to touched
    partitions instead of rewriting the table. Keys that move across
    partitions need `merge_upsert_auto`, exactly as they need plain
    `merge_upsert` on the parquet path.

    Out-of-contract inputs corrupt DIFFERENTLY per route (ADVICE r12) —
    worth knowing when debugging a violated contract: a key that moves
    partitions misses the Delta match condition and lands as a DUPLICATE
    key via whenNotMatchedInsertAll. The parquet fallback shows either
    symptom, depending on the batch: when the batch also touches the old
    partition, the merge dedupes the duplicate away (the old-partition
    row VANISHES); when it does not, the old partition is never read and
    the key lands as a DUPLICATE there too. Neither shape is the merge's
    semantics — both are the documented precondition being violated —
    so a vanished row points at the parquet route, while a duplicate key
    fits either route. The debug assertion that
    catches it on either route BEFORE merging is
    ``partition_moved_keys`` (one extra target scan per call) —
    deliberately not built into the merge path; gate on it in
    deployments that cannot prove the invariant upstream."""
    route, DeltaTable, _ = _route(spark, target_path)
    if route == "parquet":
        return writers.merge_upsert_partitioned(
            spark, target_path, updates, keys, partition_cols, order_col
        )
    return _delta_merge(
        spark, DeltaTable, route, target_path, updates, keys, order_col,
        partition_cols, [*keys, *partition_cols],
    )


def partition_moved_keys(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
) -> DataFrame:
    """The pre-merge DEBUG ASSERTION for
    ``merge_upsert_partitioned_auto``'s contract (ADVICE r12 / VERDICT
    r13 item 8): distinct update keys that already exist in the target
    under a DIFFERENT partition value — exactly the out-of-contract
    input that corrupts differently per route (duplicate key on Delta;
    on parquet a vanished old row when the batch also touches the old
    partition, else a duplicate key; see merge_upsert_partitioned_auto).
    Empty
    result ⇒ the batch is safe on either route. Costs one target scan;
    run it as a gate (``assert df.isEmpty()``) in deployments that
    cannot prove the partition-stability invariant upstream.

    Returns one row per offending (key, update-partition,
    target-partition) combination: keys verbatim, partition columns as
    ``new_<p>`` (the update's) and ``old_<p>`` (the target's). Key and
    partition comparisons are null-safe, matching the merge's ``<=>``
    condition."""
    tgt = read_table_auto(spark, target_path).select(*keys, *partition_cols)
    upd = updates.select(*keys, *partition_cols).distinct()
    key_cond = None
    for k in keys:
        c = upd[k].eqNullSafe(tgt[k])
        key_cond = c if key_cond is None else key_cond & c
    same_part = None
    for p in partition_cols:
        c = upd[p].eqNullSafe(tgt[p])
        same_part = c if same_part is None else same_part & c
    return (
        upd.join(tgt, key_cond & ~same_part)
        .select(
            *[upd[k] for k in keys],
            *[upd[p].alias(f"new_{p}") for p in partition_cols],
            *[tgt[p].alias(f"old_{p}") for p in partition_cols],
        )
        .distinct()
    )


def replace_table_auto(spark: SparkSession, target_path: str, df: DataFrame) -> None:
    """`writers.replace_table` through a transactional Delta
    `mode("overwrite")` when the target is a Delta table: Delta commits
    the new files atomically while readers (including `df`'s own plan,
    the operator's reason to exist — new state = f(old state, batch))
    keep the pre-commit snapshot, giving exactly the two-rename swap's
    guarantee with time travel on top. `overwriteSchema` is set because
    `replace_table` is a FULL replacement — the parquet swap never
    carried the old schema either. Non-Delta targets (or no delta-spark)
    use the staging-then-swap parquet path unchanged."""
    route, _, _ = _route(spark, target_path)
    if route == "parquet":
        writers.replace_table(spark, target_path, df)
        return
    if route == "bootstrap":
        df.write.format("delta").save(target_path)
        return
    (
        df.write.format("delta")
        .mode("overwrite")
        .option("overwriteSchema", "true")
        .save(target_path)
    )


def overwrite_partitions_auto(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """`writers.overwrite_partitions` through Delta when the target is a
    Delta table: the same write-scoped dynamic `partitionOverwriteMode`
    (Delta ≥2.0 supports it natively and commits the replaced partitions
    atomically — the engine-agnostic spelling of a `replaceWhere` over
    exactly df's partition values, without the extra distinct-values
    job computing that predicate would cost). Missing targets bootstrap
    as a partitioned Delta table; non-Delta targets (or no delta-spark)
    keep the dynamic-overwrite parquet write unchanged."""
    spark = df.sparkSession
    route, _, _ = _route(spark, path)
    if route == "parquet":
        writers.overwrite_partitions(df, path, partition_cols)
        return
    if route == "bootstrap":
        df.write.format("delta").partitionBy(*partition_cols).save(path)
        return
    (
        df.write.format("delta")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(path)
    )


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: str | None = None,
) -> None:
    """Migrate a plain-parquet table the writers family was maintaining
    into a Delta table IN PLACE (Delta's `CONVERT TO DELTA`: writes a
    _delta_log over the existing files, no data rewrite) — after which
    every `*_auto` call on the path routes through Delta transactions.

    `partition_schema` is required for partitioned tables and uses
    Delta's DDL spelling, e.g. ``"topic STRING, dataload DATE"`` — the
    partition values live only in dir names, so their types cannot be
    inferred. Raises when delta-spark is not importable (a migration is
    an explicit ask — silently not migrating would leave the caller on
    parquet believing otherwise); a target that is already Delta is a
    no-op. Manifested tables (`merge_upsert_manifested`) hold versioned
    snapshot dirs, not one flat table — `read_manifested` + a fresh
    Delta write is the migration for those, not CONVERT."""
    DeltaTable = _delta_table_cls()
    if DeltaTable is None:
        raise RuntimeError(
            "convert_to_delta: delta-spark is not importable in this "
            "environment — install it before migrating tables"
        )
    if DeltaTable.isDeltaTable(spark, path):
        return
    ident = f"parquet.`{path}`"
    if partition_schema is None:
        DeltaTable.convertToDelta(spark, ident)
    else:
        DeltaTable.convertToDelta(spark, ident, partition_schema)


def compact_table_auto(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> int:
    """`writers.compact_table` through Delta `OPTIMIZE` when the target
    is a Delta table — the maintenance twin of the write-family routing:
    plain compaction maps to `optimize().executeCompaction()` and
    `zorder_cols` to `optimize().executeZOrderBy(...)` (Delta's own
    multi-dimensional clustering, the engine-native form of
    `writers.zorder_value`), both transactional (readers keep the old
    snapshot mid-rewrite; no staging/swap needed). Delta's OPTIMIZE
    sizes files by its own `optimize.maxFileSize` table/session
    properties, so `target_file_bytes` is applied as a session conf for
    the call's duration; `sort_cols` has no OPTIMIZE equivalent (Delta
    orders via ZORDER only), so a sort_cols request on a Delta table
    raises rather than silently compacting unsorted. Returns the file
    count after the rewrite when Delta reports it, else -1 (metrics
    shape varies by delta-spark version). Non-Delta targets (or no
    delta-spark) run the staging-then-swap parquet compaction
    unchanged.

    NOT re-entrant across a shared SparkSession (ADVICE r12): the
    maxFileSize conf is session-global for the call's duration, so a
    concurrent job on the same session sees the mutated value, and two
    overlapping compact calls can restore each other's stale "previous"
    value. delta-spark exposes no per-call OPTIMIZE file-size option;
    deployments that need isolation should set the TABLE property
    `delta.targetFileSize` (`ALTER TABLE ... SET TBLPROPERTIES`) instead
    — it scopes to the table and makes `target_file_bytes` here a no-op
    — or serialize maintenance calls per session (the usual shape of a
    nightly OPTIMIZE job anyway)."""
    route, DeltaTable, _ = _route(spark, path)
    if route != "delta":  # parquet fallback AND missing-path bootstrap:
        # compacting a missing table is writers.compact_table's error
        # to raise, not a reason to create an empty Delta table
        return writers.compact_table(
            spark, path, target_file_bytes, sort_cols, zorder_cols
        )
    if sort_cols:
        raise ValueError(
            "compact_table_auto: Delta OPTIMIZE has no sort_cols form — "
            "use zorder_cols (ZORDER BY) on Delta tables"
        )
    key = "spark.databricks.delta.optimize.maxFileSize"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(int(target_file_bytes)))
    try:
        opt = DeltaTable.forPath(spark, path).optimize()
        if zorder_cols:
            res = opt.executeZOrderBy(*zorder_cols)
        else:
            res = opt.executeCompaction()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    try:  # metrics row: (path, metrics struct) — numFilesAdded when present
        return int(res.collect()[0]["metrics"]["numFilesAdded"])
    except Exception:  # noqa: BLE001 - metrics shape varies across versions
        return -1


def vacuum_auto(
    spark: SparkSession,
    path: str,
    retention_hours: float = 168.0,
    n_partition_cols: int | None = None,
) -> int:
    """Stale-file garbage collection routed by table kind, completing
    the adapter's maintenance story alongside `compact_table_auto`:

    - Delta table: `DeltaTable.vacuum(retention_hours)` (Delta enforces
      its own retention floor; time travel shortens accordingly).
      Returns -1 — Delta does not report a removed-file count.
    - Manifested parquet (`merge_upsert_manifested` tables — version
      dirs under the partition leaves): `writers.vacuum_manifested`,
      which keeps the two newest manifests' versions; requires
      `n_partition_cols` (the manifest layout's depth) and raises
      without it rather than guessing. Returns the dirs removed.
    - Plain parquet: nothing to vacuum — the two-rename swap deletes
      its backup on completion and `recover_interrupted_swap` heals the
      crash window — returns 0.
    """
    route, DeltaTable, _ = _route(spark, path)
    if route == "delta":
        DeltaTable.forPath(spark, path).vacuum(retention_hours)
        return -1
    fs, p = writers._hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    jvm = spark._jvm
    if writers._manifest_versions(fs, jvm, path):
        if n_partition_cols is None:
            raise ValueError(
                "vacuum_auto: the target is a manifested-parquet table — "
                "pass n_partition_cols so version GC can walk its layout"
            )
        return writers.vacuum_manifested(spark, path, n_partition_cols)
    return 0
