"""Modeling operators — SURVEY §2.5 (A1-A9): the aggregation / join / dedup
shapes the reference performs implicitly in Cypher MERGE semantics and
Python loops, as distributed DataFrame operators.

Scale notes per operator are inline — every shape here is one shuffle (or
zero, when a broadcast applies), and the skew/broadcast decision is left to
AQE unless stated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..checkpointing import truncate_lineage as _truncate


def distinct_dim(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """A1: dimension extraction — `MERGE (u:User {username})` creates one
    node per distinct key (reference: glue/reddit_glue.py:74-75). Partial
    (map-side) aggregation makes this cheap even on skewed keys."""
    return df.select(*key_cols).na.drop(how="any").distinct()


def dedupe_by_key(df: DataFrame, keys: list[str], order_col: str | None = None) -> DataFrame:
    """A2: in-batch dedupe by natural key (reference Cypher MERGE-on-id,
    glue/twitter_glue.py:76-91). With `order_col`, last-writer-wins
    (deterministic); without, an arbitrary-but-stable row via max on a
    canonical ordering is NOT guaranteed by dropDuplicates, so prefer the
    windowed form whenever the row payload matters."""
    if order_col is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(order_col).desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def fk_join(child: DataFrame, parent: DataFrame, fk: str, pk: str, how: str = "inner") -> DataFrame:
    """A3: comment→post FK equi-join. Cypher `MATCH (p {id: $postId})`
    silently drops orphans ⇒ inner join (reference: glue/reddit_glue.py:94-98).
    The parent (posts) side is the smaller — Catalyst/AQE broadcasts it when
    under threshold; no hint needed, but callers may wrap parent in
    F.broadcast() when cardinality is known-tiny."""
    return child.join(parent, child[fk] == parent[pk], how)


def orphans(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """A3 validation variant: children with no parent (anti-join)."""
    return child.join(parent, child[fk] == parent[pk], "left_anti")


def strip_thing_prefix(col) -> F.Column:
    """Reddit `t1_`/`t3_` fullname → bare id (reference comment trees,
    reddit/lambda_function.py:58-69). Anchored regexp, not substring_index:
    ids themselves may contain underscores."""
    return F.regexp_replace(col, "^t[0-9]_", "")


def comment_depth(
    comments: DataFrame, max_depth: int = 32, checkpoint_dir: str | None = None
) -> DataFrame:
    """A4 (full traversal): depth of each comment in its thread.

    `checkpoint_dir` (cluster runs): lineage truncations use a RELIABLE
    checkpoint under that dir instead of executor-block localCheckpoint —
    executor loss mid-traversal recovers instead of failing the job
    (checkpointing.truncate_lineage).

    A level-synchronous iterative join. Spark 4.1 runs `WITH RECURSIVE`,
    but a recursive CTE's step rejoins the whole comment set at every
    level. On the a4 thread tree at sf0.1 it measured no faster than this
    loop and 3.5-7x slower than `comment_depth_auto` (ROADMAP Direction 8
    has the numbers), so the loop stays.

    The key structural fact: the parent of a depth-d comment sits at depth
    d−1 EXACTLY, so each iteration joins the (fixed, cached) non-top-level
    set against only the PREVIOUS level — never the whole resolved set, and
    no anti-join to shrink a frontier. A comment matches in exactly one
    round, lineage stays flat (every input to a round is cached), and the
    loop runs ≤ tree-depth times (comment trees are shallow: the reference's
    own dumps are 2-4 levels). Orphaned subtrees (parent never scraped)
    simply never match and are excluded — the reference's MATCH-drop
    semantics (glue/reddit_glue.py:94-98).

    Returns (id, post_id, depth) where depth=0 ⇒ top-level comment.
    """
    base = comments.select(
        "id",
        "post_id",
        strip_thing_prefix(F.col("parent_id")).alias("parent"),
        F.col("parent_id").startswith("t3_").alias("top_level"),
    )
    # Iterative-loop discipline (each trap measured >30× on a depth-24
    # thread before the fix):
    # 1. Per-level frames are cache()d and FULLY materialized via count()
    #    — never isEmpty/take, which computes one partition and silently
    #    rebuilds the whole lineage chain next level. count() doubles as
    #    the termination check.
    # 2. Lineage is truncated with a localCheckpoint every 8th level:
    #    Catalyst re-analyzes the complete LOGICAL plan each level (caching
    #    only short-circuits physical execution), and that analysis
    #    compounds catastrophically past ~10 nested joins. Checkpointing
    #    every level would bound analysis hardest but pays a
    #    serialize-the-level cost that dominates on the common wide-shallow
    #    tree; every-8th keeps the common case (reddit threads are 2-7
    #    deep) checkpoint-free while bounding analysis on pathological
    #    chains. (`comment_depth_doubling` is the
    #    deep-chain formulation — ⌈log₂ d⌉ rounds, checkpoint per round.)
    # All caches are released after the final localCheckpoint (VERDICT r1).
    rest = base.filter(~F.col("top_level")).select("id", "post_id", "parent").cache()
    prev = base.filter(F.col("top_level")).select(
        "id", "post_id", F.lit(0).alias("depth")
    ).cache()
    prev.count()
    levels = [prev]
    caches = [rest, prev]
    for d in range(1, max_depth + 1):
        step = (
            rest.join(prev.select(F.col("id").alias("parent")), "parent", "inner")
            .select("id", "post_id", F.lit(d).alias("depth"))
            .cache()
        )
        caches.append(step)
        if step.count() == 0:
            break
        if d % 8 == 0:
            step = _truncate(step, checkpoint_dir)
        levels.append(step)
        prev = step
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    out = _truncate(out, checkpoint_dir)
    for c in caches:
        c.unpersist()
    return out


def comment_depth_doubling(
    comments: DataFrame, max_rounds: int = 8, checkpoint_dir: str | None = None
) -> DataFrame:
    """A4 via pointer doubling: same output as ``comment_depth``
    (property-tested equal), in ⌈log₂ depth⌉ join rounds instead of one
    round per level — ``max_rounds=8`` covers trees 2⁸ = 256 deep.

    Invariant per row: depth(id) = d + depth(anc). Each round substitutes
    every unresolved row's ancestor with THAT ancestor's own ancestor,
    adding the step counts — the classic path-doubling recurrence
    P_{k+1}(n) = P_k(P_k(n)). Rows whose ancestor is top-level resolve
    (depth(anc) = 0); rows whose ancestor chain leaves the comment set
    (orphaned subtrees) never match and are excluded — the same MATCH-drop
    semantics as the level-synchronous form.

    Trade-off vs levels: each round joins the full pointer table against
    itself (heavier per round, log rounds) where levels joins a shrinking
    frontier per level (light rounds, depth rounds). On wide shallow trees
    levels wins; on deep chains — where depth-rounds of driver-scheduled
    jobs dominate — doubling wins. Both keep lineage flat via per-round
    caches, released after a final localCheckpoint."""
    base = comments.select(
        "id",
        "post_id",
        strip_thing_prefix(F.col("parent_id")).alias("anc"),
        F.col("parent_id").startswith("t3_").alias("top_level"),
    )
    # Both loop-carried frames are localCheckpoint'ed (eager) every round:
    # that fully materializes them AND truncates lineage, so round k's plan
    # never re-analyzes rounds 1..k-1 (cache() alone leaves the logical
    # plan growing — Catalyst analysis cost compounds per round — and
    # isEmpty/take materializes only one partition, silently rebuilding the
    # whole chain next round: the two classic iterative-Spark traps).
    resolved = _truncate(
        base.filter(F.col("top_level")).select("id", "post_id", F.lit(0).alias("depth")),
        checkpoint_dir,
    )
    ptr = _truncate(
        base.filter(~F.col("top_level")).select("id", "post_id", "anc", F.lit(1).alias("d")),
        checkpoint_dir,
    )
    for _ in range(max_rounds):
        if ptr.isEmpty():  # safe: ptr is checkpointed, not lazy lineage
            break
        # each unresolved row looks up its ancestor in BOTH tables at once:
        # a resolved ancestor finishes the row; an unresolved one doubles it
        anc_ptr = ptr.select(
            F.col("id").alias("anc"), F.col("anc").alias("anc2"), F.col("d").alias("d2")
        )
        anc_res = resolved.select(
            F.col("id").alias("anc"), F.col("depth").alias("adepth")
        )
        j = ptr.join(anc_res, "anc", "left").join(anc_ptr, "anc", "left")
        newly = j.filter(F.col("adepth").isNotNull()).select(
            "id", "post_id", (F.col("d") + F.col("adepth")).alias("depth")
        )
        resolved = _truncate(resolved.unionByName(newly), checkpoint_dir)
        ptr = _truncate(
            j.filter(F.col("adepth").isNull() & F.col("anc2").isNotNull()).select(
                "id", "post_id", F.col("anc2").alias("anc"), (F.col("d") + F.col("d2")).alias("d")
            ),
            checkpoint_dir,
        )
    return resolved


def comment_depth_grouped(comments: DataFrame, max_depth: int = 32) -> DataFrame:
    """A4 via partition-local BFS: ONE shuffle (repartition on post_id) and
    zero driver-scheduled rounds — each executor resolves its threads'
    depths in a single Arrow-batched pass. The fastest formulation when the
    THREAD-LOCAL contract holds: a comment's parent lives in the same post
    (true by the reddit data model — parent_id is either the post itself or
    a comment of that post; reference: reddit/lambda_function.py:62-70). A
    parent outside the partition's posts behaves as missing (child dropped),
    where the join formulations would still match it — use `comment_depth`
    if the contract can't be assumed.

    Faithful to join semantics row-for-row, including multiplicity: a
    duplicated ancestor id fans out its descendants exactly as the
    level-join would (weights propagate as Σ over parent-row occurrences,
    and a row re-emits at every depth its parent id resolves at).
    Output: (id, post_id, depth), identical to ``comment_depth``
    (property-tested, including duplicate-id fan-out).

    100-TB shape: one exchange of (id, post_id, parent, flag) — no payload
    columns — then embarrassingly parallel per-partition Python over
    thread-sized state. The biggest real thread (~100k comments) is far
    under any partition budget; partition count follows
    spark.sql.shuffle.partitions as usual."""
    import numpy as np
    import pandas as pd

    base = comments.select(
        "id",
        "post_id",
        strip_thing_prefix(F.col("parent_id")).alias("parent"),
        F.col("parent_id").startswith("t3_").alias("top_level"),
    ).repartition("post_id")

    def run(batches):
        from collections import defaultdict

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        ids = pdf["id"].to_numpy()
        posts = pdf["post_id"].to_numpy()
        parents = pdf["parent"].to_numpy()
        top = pdf["top_level"].to_numpy()
        # child rows indexed by the parent id they point at
        kids: dict[str, list[int]] = defaultdict(list)
        for i in np.flatnonzero(~top):
            kids[parents[i]].append(int(i))
        out_id: list = []
        out_post: list = []
        out_depth: list = []
        out_w: list = []
        # frontier: resolved id -> total row-occurrence weight at this depth
        frontier: dict[str, int] = defaultdict(int)
        for i in np.flatnonzero(top):
            out_id.append(ids[i])
            out_post.append(posts[i])
            out_depth.append(0)
            out_w.append(1)
            frontier[ids[i]] += 1
        d = 0
        while frontier and d < max_depth:
            d += 1
            nxt: dict[str, int] = defaultdict(int)
            for pid, w in frontier.items():
                for i in kids.get(pid, ()):
                    out_id.append(ids[i])
                    out_post.append(posts[i])
                    out_depth.append(d)
                    out_w.append(w)
                    nxt[ids[i]] += w
            frontier = nxt
        if not out_id:
            return
        w = np.asarray(out_w, dtype=np.int64)
        yield pd.DataFrame(
            {
                "id": np.repeat(np.asarray(out_id, dtype=object), w),
                "post_id": np.repeat(np.asarray(out_post, dtype=object), w),
                "depth": np.repeat(
                    np.asarray(out_depth, dtype=np.int32), w
                ),
            }
        )

    return base.mapInPandas(run, "id string, post_id string, depth int")


def comment_depth_auto(
    comments: DataFrame,
    max_depth: int = 32,
    checkpoint_dir: str | None = None,
    thread_local: bool = True,
    shallow_bound: int = 16,
) -> DataFrame:
    """A4 strategy selector (VERDICT r3 item 6). Under the thread-local
    contract (the data-model default) the partition-local BFS wins outright
    — one shuffle, no driver rounds (measured 1.1 s vs 3.8 s levels vs
    4.6 s doubling on the sf0.1 depth-7 tree, local[32]). Without it, a
    cheap probe — max comments per post, an upper bound on thread depth,
    one slim aggregation — picks level-synchronous joins for shallow trees
    (light frontier rounds, one per level) and pointer doubling for deep
    ones (⌈log₂ d⌉ heavier rounds)."""
    if thread_local:
        return comment_depth_grouped(comments, max_depth)
    bound = (
        comments.groupBy("post_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
        or 0
    )
    if bound <= shallow_bound:
        return comment_depth(comments, max_depth, checkpoint_dir)
    import math

    rounds = max(4, int(math.ceil(math.log2(max(bound, 2)))) + 1)
    return comment_depth_doubling(comments, rounds, checkpoint_dir)


def argmax(df: DataFrame, group_cols: list[str], order_col: str, payload_cols: list[str]) -> DataFrame:
    """A5: max-by — the newest row per group (reference's LastModified argmax,
    glue/twitter_glue.py:66-68). `max_by` aggregates map-side; ties resolve
    arbitrarily, so pass a total-order column when determinism matters."""
    return df.groupBy(*group_cols).agg(
        F.max(order_col).alias(order_col),
        *[F.expr(f"max_by({c}, {order_col})").alias(c) for c in payload_cols],
    )


def top_n(df: DataFrame, order_col: str, n: int, desc: bool = True) -> DataFrame:
    """A7: global top-N. Spark plans orderBy+limit as TakeOrderedAndProject —
    each partition keeps n rows, the driver merges n*partitions rows; no full
    sort at any scale."""
    c = F.col(order_col).desc() if desc else F.col(order_col).asc()
    return df.orderBy(c).limit(n)


def top_n_per_group(df: DataFrame, group_cols: list[str], order_col: str, n: int) -> DataFrame:
    """A7 grouped variant: rank within group, keep n. One shuffle on the
    group key; skewed groups are handled by AQE skew-split since row_number
    needs the whole group on one partition (salting is NOT applicable to
    ranking)."""
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(F.col(order_col).desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n).drop("__rn")


def union_sources(*dfs: DataFrame) -> DataFrame:
    """A9: multi-source concat (reference extends a Python list per file,
    reddit/lambda_function_aggregate.py:50-54). unionByName tolerates column
    order drift between micro-batches."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def with_batch_id(df: DataFrame, batch_size: int, order_col: str, partitions: int | None = None) -> DataFrame:
    """A8: fixed-size batching as a column (reference chunks lists of 25 for
    the sentiment API, glue/reddit_glue.py:162). Only needed when batch
    identity must be visible; the enrichment UDFs chunk inside mapInPandas
    instead, which requires no shuffle at all.

    Scale shape (replaces the r1 single-partition global window): range-
    partition on `order_col`, rank within each partition, then shift each
    partition's ranks by the driver-side prefix sum of partition counts —
    the DataFrame equivalent of zipWithIndex. The only driver data is one
    count per partition. `order_col` must be a total order for the global
    sequence to be deterministic.

    Eager: the result is materialized (localCheckpoint) before returning so
    the temporary cache backing the two passes can be released immediately —
    nothing stays pinned for the session (VERDICT r1 item 8)."""
    sc = df.sparkSession
    parts = partitions or sc.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    counts = {r["__pid"]: r["n"] for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    if not counts:
        # empty input: createDataFrame([]) cannot infer a schema — return
        # the empty frame with the __batch column instead of crashing
        ranged.unpersist()
        return df.withColumn("__batch", F.lit(0).cast("long"))
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        sc.createDataFrame([(pid, off) for pid, off in offsets.items()], ["__pid", "__off"])
    )
    w = Window.partitionBy("__pid").orderBy(F.col(order_col))
    out = (
        ranged.join(off_df, "__pid")
        .withColumn("__seq", F.row_number().over(w) - 1 + F.col("__off"))
        .withColumn("__batch", (F.col("__seq") / batch_size).cast("long"))
        .drop("__pid", "__off", "__seq")
    )
    out = out.localCheckpoint(eager=True)
    ranged.unpersist()
    return out


def _payload_hash(cols: list[str], alias: str, raw: bool = False):
    """Null-safe slim-join encoding shared by snapshot_diff/scd2_apply:
    xxhash64 of a JSON struct of `cols` (or the raw JSON string with
    raw=True, for use as a null-safe join key). JSON struct with
    ignoreNullFields=false, NOT multi-arg xxhash64: multi-arg xxhash64
    SKIPS null arguments, so (null, 'x') and ('x', null) would collide and
    a real change could read as unchanged."""
    enc = F.to_json(
        F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "false"}
    )
    return (enc if raw else F.xxhash64(enc)).alias(alias)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style snapshot diff: one row per key whose state changed between
    two table versions, with change_type ∈ ('insert', 'update', 'delete')
    and the surviving payload (new values for insert/update, old values for
    delete). The batch analog of the reference's point re-fetch / late
    refresh (S8/W4 — reference: reddit/lambda_function_aggregate.py:59-71):
    diff the re-crawled snapshot against the stored one and feed the result
    straight into merge_upsert_partitioned.

    Scale shape (the slim-join discipline again): each side first reduces
    to (keys, xxhash64(compare_cols)) — the full-outer join shuffles 8-byte
    hashes, never payloads. Payload columns re-attach only to the changed
    key set (typically a tiny fraction of either snapshot; AQE broadcasts
    it), so at 100 TB the wire cost is two slim scans + the changes.
    Hash-collision risk: a changed row whose old/new payloads collide in
    xxhash64 is missed with p≈2⁻⁶⁴ per row.
    """
    cc = compare_cols or [c for c in new.columns if c not in keys]

    # NULL-safe key handling: plain equi-joins never match NULL keys, so a
    # changed row with a NULL key component would classify correctly in the
    # full-outer but then VANISH at the payload re-attach join. Every join
    # here runs on a JSON surrogate of the key struct instead
    # (ignoreNullFields=false keeps nulls explicit), which compares
    # null-safely as a plain string.
    k_enc = _payload_hash(keys, "__k", raw=True)

    o = old.select(*keys, _payload_hash(cc, "__ho"), k_enc)
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in keys], _payload_hash(cc, "__hn"), k_enc
    )
    j = o.join(n, "__k", "full_outer")
    changed = j.select(
        *[F.coalesce(F.col(k), F.col(f"__n_{k}")).alias(k) for k in keys],
        "__k",
        F.when(F.col("__ho").isNull(), F.lit("insert"))
        .when(F.col("__hn").isNull(), F.lit("delete"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("update"))
        .alias("change_type"),
    ).filter(F.col("change_type").isNotNull())
    new_payload = (
        changed.filter(F.col("change_type") != "delete")
        .join(new.select(*cc, k_enc), "__k")
        .drop("__k")
    )
    old_payload = (
        changed.filter(F.col("change_type") == "delete")
        .join(old.select(*cc, k_enc), "__k")
        .drop("__k")
    )
    return new_payload.unionByName(old_payload)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Damped PageRank over an edge list — the canonical iterative graph
    ranking (Brin & Page 1998), the influence-scoring step a social graph
    (K3-K5's node/edge tables) feeds into. Fixed iteration count keeps the
    result deterministic; dangling-node mass (nodes with no out-edges) is
    redistributed uniformly each round, so total rank stays 1.

    Scale shape (same iterative discipline as ``comment_depth``):
    - nodes/out-degrees/degree-joined edges are computed ONCE, cached, and
      reused every round — per-round work is one rank join keyed on the
      source id, one sum keyed on the destination id, payloads of
      (id, double) only;
    - the dangling mass is a 1-row aggregate collected per round (a
      bounded scalar, like the IVF codebook — never the rank table);
    - per-round frames are cached and materialized BY the next round's
      dangling collect — no eager counts (ADVICE r7: the eager
      `nxt.count()` was one redundant full job per round; the HITS
      materialize-via-collect shape, bit-identical scores); lineage
      truncates every 4th round (reliable checkpoint when
      `checkpoint_dir` is set);
    - iteration caches are released ROLLING: once round k's frame is
      cached in full, round k-1's cache is unpersisted, so peak cache
      footprint is two rank frames, not n_iter of them.
    Returns (node, rank) summing to ~1.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))  # empty graph → empty result
    # cached: the per-round dangling-mass anti-join reads it every
    # iteration — uncached it would rebuild the edge-list aggregation
    # (a corpus-scale scan + shuffle) once per round
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    ed = e.join(out_deg, "src").cache()
    ed.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).cache()
    caches = [nodes, out_deg, ed]
    # iteration frames not yet safe to release: the LAST entry is the
    # current `ranks` (possibly still lazy); everything before it became
    # releasable the moment the frame after it was cached in full
    pending: list[DataFrame] = [ranks]
    base = (1.0 - damping) / n
    for it in range(n_iter):
        # this collect reads `ranks` end-to-end, materializing its cache —
        # the eager nxt.count() it replaces was one redundant full job per
        # round (ADVICE r7; same materialize-via-collect shape as `hits`)
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        while len(pending) > 1:  # rolling release: ranks is cached in full
            pending.pop(0).unpersist()
        sums = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        nxt = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .cache()
        )
        pending.append(nxt)
        if (it + 1) % 4 == 0:
            # eager checkpoint materializes nxt and cuts its lineage, so
            # every pending cache (nxt's own included) is releasable now
            nxt = _truncate(nxt, checkpoint_dir)
            for f in pending:
                f.unpersist()
            pending = []
        ranks = nxt
    out = _truncate(ranks, checkpoint_dir)  # eager: materializes the last nxt
    for f in pending:
        f.unpersist()
    for c in caches:
        c.unpersist()
    return out


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank (Haveliwala 2002, "Topic-sensitive
    PageRank"): `pagerank` with the teleport vector restricted to
    `sources` (a frame with a `node` column, intersected with the graph)
    — rank concentrates around the seed set, the similarity-to-S scoring
    behind who-to-follow / related-item features. Teleport AND dangling
    mass both redistribute over the seeds: rank(v) =
    (1-d)·p(v) + d·(Σ_in rank/deg + dm·p(v)) with p = 1/|S| on S else 0.

    Same iterative discipline as `pagerank`: degree-joined edges cached
    once, per-round payloads are (id, double), the dangling mass is a
    collected 1-row scalar, the teleport column p rides the cached node
    frame (computed once, never re-derived), lineage truncates every 4th
    round. No eager per-round counts — the next round's dangling collect
    materializes the cache (ADVICE r7: the eager `nxt.count()` was one
    redundant full job per round), and iteration caches release rolling
    so at most two rank frames are pinned at once. Fixed n_iter → a
    fixed-round unrolled oracle reproduces it exactly (float-op order
    unchanged by the job-count change). Returns (node, rank); ranks sum
    to ~1 over the whole graph.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    s = sources.select("node").distinct().join(nodes, "node").cache()
    ns = s.count()
    if ns == 0 or nodes.count() == 0:
        # no seeds in the graph -> no teleport, no mass: empty result
        # (not an all-zeros node list, which would suggest a valid run)
        empty = nodes.filter(F.lit(False)).withColumn("rank", F.lit(0.0))
        nodes.unpersist()
        s.unpersist()
        return empty
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    ed = e.join(out_deg, "src").cache()
    ed.count()
    p = (
        nodes.join(s.withColumn("__s", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("__s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        .cache()
    )
    ranks = p.select("node", F.col("p").alias("rank")).cache()  # start at teleport
    caches = [nodes, s, out_deg, ed, p]
    pending: list[DataFrame] = [ranks]  # rolling-release window (see pagerank)
    for it in range(n_iter):
        # materializes `ranks` — replaces the eager nxt.count() (ADVICE r7)
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        while len(pending) > 1:  # ranks is cached in full; release older
            pending.pop(0).unpersist()
        sums = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        nxt = (
            p.join(sums, p["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling) * F.col("p"))
                ).alias("rank"),
            )
            .cache()
        )
        pending.append(nxt)
        if (it + 1) % 4 == 0:
            nxt = _truncate(nxt, checkpoint_dir)  # eager: all pending releasable
            for f in pending:
                f.unpersist()
            pending = []
        ranks = nxt
    out = _truncate(ranks, checkpoint_dir)  # eager: materializes the last nxt
    for f in pending:
        f.unpersist()
    for c in caches:
        c.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007): every node starts in its own community (label = own id) and
    each round adopts the most frequent label among its neighbors, ties
    broken by the smallest label — a fixed iteration count and the
    deterministic tie-break make the result reproducible (classic async
    LPA is order-dependent; the synchronous min-tie variant is not).
    Complements `pagerank` (influence) and `connected_components`
    (reachability): communities are the modularity-style clusters a social
    graph (K3-K5) is segmented by. Node ids must be orderable numerics
    (the min-tie-break and the struct argmax below rely on it).

    Scale shape (the `pagerank` discipline): the symmetrized adjacency is
    built once, cached, and reused every round; per-round work is one
    label join keyed on the neighbor id and two map-side-combinable
    aggregations keyed on the node id, payloads of (id, id) only; rounds
    are cached + counted, lineage truncates every 4th round (reliable
    checkpoint when `checkpoint_dir` is set). Hub skew is bounded: the
    per-(node, label) pre-count collapses a celebrity node's fan-in to at
    most its distinct neighbor-label count before the argmax. Returns
    (node, label).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    adj = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct().cache()
    labels = adj.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).cache()
    labels.count()
    caches = [adj]
    pending: list[DataFrame] = [labels]  # rolling-release window (see pagerank)
    for it in range(n_iter):
        nbr = adj.join(labels, adj["v"] == labels["node"]).select(
            adj["u"].alias("node"), "label"
        )
        cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        nxt = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
            .cache()
        )
        pending.append(nxt)
        if (it + 1) % 4 == 0:
            nxt = _truncate(nxt, checkpoint_dir)  # eager: lineage-free copy
            for f in pending:  # every pending cache is releasable now
                f.unpersist()
            pending = []
        else:
            # the eager count STAYS here (unlike pagerank/ppr, whose
            # per-round dangling collect already materializes the cache):
            # LPA has no per-round scalar collect, so this IS the round's
            # materializer — without it nothing pins the cache and each
            # truncation would compute a 4-round-deep plan in one job
            nxt.count()
            while len(pending) > 1:  # nxt materialized; release older
                pending.pop(0).unpersist()
        labels = nxt
    out = _truncate(labels, checkpoint_dir)
    for f in pending:
        f.unpersist()
    for c in caches:
        c.unpersist()
    return out


def _degree_oriented(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Canonical undirected edge set and its degree-oriented DAG — the
    shared basis of `triangle_count` and `clustering_coefficient`.
    Returns (e, deg, o): e = distinct (u < v) pairs with self-loops
    dropped (CACHED); deg = (n, d) full undirected degrees; o = (s, t)
    with every edge pointing from its lower-(degree, id) endpoint
    (CACHED + materialized).

    DEGREE ORIENTATION is the standard trick that makes wedge-join plans
    survive skew (Suri & Vassilvitskii 2011 "Counting Triangles and the
    Curse of the Last Reducer"): under it every node's OUT-degree is
    bounded by ~√(2m), so a wedge join's per-key fan-out (the quadratic
    term) is capped even when a celebrity node has millions of
    neighbors — the naive a<b orientation puts all of a hub's wedges on
    one key. The two cached frames are each read by multiple join
    branches whose output partitionings differ, so ReuseExchange cannot
    dedupe them — cache + materialize (the file's `pagerank` pattern).
    CALLERS unpersist e and o when their result is materialized."""
    # canonical undirected edge set: no self-loops, no duplicates
    e = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .cache()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): u→v iff (d_u, u) < (d_v, v)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
        .cache()
    )
    o.count()
    return e, deg, o


def triangle_count(
    edges: DataFrame, a: str = "a", b: str = "b", adj_threshold: int = 1 << 15
) -> DataFrame:
    """Exact triangle count of an undirected graph (the social-graph
    clustering signal — reference's graph store could answer this only
    with a Cypher full traversal). Returns one row (n_triangles long).

    Two physical strategies over the same degree-oriented DAG, picked by
    the orientation's out-degree bound √(2m) ≤ `adj_threshold`:

    - ADJACENCY INTERSECTION (default whenever m ≤ adj_threshold²/2):
      per-source sorted out-neighbor arrays (each ≤ √(2m) elements — the
      orientation bound is the bucket cap, same discipline as the LSH
      bucket caps), one m-row edge join against the array table, then
      Σ size(array_intersect(N⁺(s), N⁺(t))). All JVM-side; avoids
      materializing the wedge set entirely. Interleaved A/B at sf0.1
      (tools/ab_triangle.py, min-of-3, identical counts 124,470,598 on
      the 91%-complete co-supply graph): 5.88 s vs 16.59 s = 0.354× of
      the wedge join; scaled 1×/4×/16× growth is linear-or-better
      (tools/bench_triangle_scaled.py, 16×/1× = 10.9).
    - WEDGE JOIN (the unbounded-scale fallback): per-key fan-out capped
      at ~√(2m); payloads are id pairs throughout; each triangle counted
      exactly once (its unique cyclic orientation under a total order is
      acyclic with exactly one source). At m beyond adj_threshold²/2 the
      neighbor arrays would grow past ~adj_threshold elements per row, so
      the slim-row join wins back.

    The scalar is computed eagerly and the caches released before
    returning.
    """
    e, _deg, o = _degree_oriented(edges, a, b)
    m = o.count()  # o is cached+materialized by _degree_oriented — a cache scan
    # adj_threshold <= 0 forces the wedge join on ANY input (including
    # m = 0), so tests and A/Bs can exercise the fallback unconditionally
    if adj_threshold > 0 and m <= (adj_threshold * adj_threshold) // 2:
        adj = o.groupBy("s").agg(F.array_sort(F.collect_list("t")).alias("ns"))
        joined = o.join(adj.select("s", F.col("ns").alias("ns_s")), "s").join(
            adj.select(F.col("s").alias("t"), F.col("ns").alias("ns_t")), "t"
        )
        n_tri = (
            joined.select(F.size(F.array_intersect("ns_s", "ns_t")).alias("c"))
            .agg(F.sum("c").cast("long").alias("n_triangles"))
            .collect()[0][0]
        )
        n_tri = 0 if n_tri is None else n_tri  # sum over zero rows is NULL
    else:
        wedges = o.alias("x").join(
            o.alias("y"), F.col("x.t") == F.col("y.s")
        ).select(
            F.col("x.s").alias("p"), F.col("x.t").alias("q"), F.col("y.t").alias("r")
        )
        closed = wedges.join(
            o.select(F.col("s").alias("p"), F.col("t").alias("r")), ["p", "r"]
        )
        n_tri = closed.agg(
            F.count(F.lit(1)).cast("long").alias("n_triangles")
        ).collect()[0][0]
    e.unpersist()
    o.unpersist()
    return edges.sparkSession.range(1).select(F.lit(n_tri).cast("long").alias("n_triangles"))


def clustering_coefficient(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    checkpoint_dir: str | None = None,
    adj_threshold: int = 1 << 15,
    wedge_factor: float = 32.0,
) -> DataFrame:
    """Per-node LOCAL clustering coefficient (Watts & Strogatz 1998):
    lcc(n) = 2·T(n) / (d(n)·(d(n)−1)) where T(n) = triangles through n —
    the "how clique-like is this node's neighborhood" signal a social
    graph store answers per profile. Returns (node, degree, triangles,
    lcc) for every node with degree ≥ 2 (degree-1 nodes have no defined
    coefficient).

    Two physical strategies over the same degree-oriented DAG, chosen by
    a measured DENSITY heuristic (one slim job over the cached oriented
    frame computes edge count m and wedge count W = Σ indeg·outdeg):

    - ADJACENCY INTERSECTION, when W ≥ `wedge_factor`·m AND the
      orientation bound √(2m) ≤ `adj_threshold`: per-source sorted
      out-neighbor arrays, one m-row edge join, then per edge (s, t) the
      apex array ws = N⁺(s) ∩ N⁺(t). Each triangle (s, t, w) is found
      exactly once at its base edge, so its three corner contributions
      emit from that one row: s and t each get |ws|, each w ∈ ws gets 1
      — a single explode of |ws|+2 structs per triangle-bearing edge
      into ONE map-side-combined aggregate. The wedge set is never
      materialized; the shuffle carries (node, long) rows, 3 per
      triangle.
    - WEDGE JOIN otherwise: enumerate wedges, close them against the
      oriented edge set, explode each closed triangle into its three
      member nodes (per-key fan-out ≤ ~√(2m); payloads are id pairs
      throughout).

    Crossover evidence (sf0.1 co-supply graphs, interleaved min-of-3,
    identical outputs): dense graph (W/m = 302) adjacency 8.70 s vs
    wedge 16.42 s = 0.53×; sparse graph (W/m = 3) adjacency 3.87 s vs
    wedge 3.07 s = 1.26× — the intersection form's extra collect_list
    groupBy only pays for itself once the wedge set dwarfs the edge
    set, hence the W/m gate (default 32, the geometric middle).
    `adj_threshold=0` forces the wedge form; `wedge_factor=0` forces
    adjacency whenever the bound permits.

    The final degree join is node-keyed and slim. lcc is a single double
    division of exact integer products, so any engine reproduces it
    bit-for-bit — no rounding seam needed. The result is materialized
    (localCheckpoint via `truncate_lineage`, or a reliable checkpoint
    under `checkpoint_dir`) so the cached oriented frame can be released
    before returning."""
    e, deg, o = _degree_oriented(edges, a, b)
    use_adj = False
    if adj_threshold > 0:  # forced-wedge callers skip the stat job entirely
        outd = o.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
        st = (
            o.join(outd.withColumnRenamed("s", "t2"), o["t"] == F.col("t2"), "left")
            .agg(
                F.count(F.lit(1)).alias("m"),
                F.sum(F.coalesce("d", F.lit(0))).alias("w"),
            )
            .collect()[0]
        )
        m, w = st["m"], st["w"] or 0
        use_adj = (
            m <= (adj_threshold * adj_threshold) // 2 and w >= wedge_factor * m
        )
    if use_adj:
        adj = o.groupBy("s").agg(F.array_sort(F.collect_list("t")).alias("ns"))
        ws = (
            o.join(adj.select("s", F.col("ns").alias("ns_s")), "s")
            .join(adj.select(F.col("s").alias("t"), F.col("ns").alias("ns_t")), "t")
            .select("s", "t", F.array_intersect("ns_s", "ns_t").alias("ws"))
            .filter(F.size("ws") > 0)
        )
        c = F.size("ws").cast("long")
        tri = (
            ws.select(
                F.explode(
                    F.concat(
                        F.array(
                            F.struct(F.col("s").alias("n"), c.alias("c")),
                            F.struct(F.col("t").alias("n"), c.alias("c")),
                        ),
                        F.transform(
                            "ws",
                            lambda w: F.struct(
                                w.alias("n"), F.lit(1).cast("long").alias("c")
                            ),
                        ),
                    )
                ).alias("x")
            )
            .groupBy(F.col("x.n").alias("n"))
            .agg(F.sum("x.c").alias("t"))
        )
    else:
        wedges = (
            o.alias("x")
            .join(o.alias("y"), F.col("x.t") == F.col("y.s"))
            .select(
                F.col("x.s").alias("p"), F.col("x.t").alias("q"), F.col("y.t").alias("r")
            )
        )
        closed = wedges.join(
            o.select(F.col("s").alias("p"), F.col("t").alias("r")), ["p", "r"]
        )
        tri = (
            closed.select(F.explode(F.array("p", "q", "r")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("t"))
        )
    d = F.col("d").cast("double")
    out = (
        deg.filter(F.col("d") >= 2)
        .join(tri, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            (
                (F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0)).cast("double"))
                / (d * (d - F.lit(1.0)))
            ).alias("lcc"),
        )
    )
    out = _truncate(out, checkpoint_dir)
    e.unpersist()
    o.unpersist()
    return out


def adamic_adar(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    k: int = 50,
    max_degree: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Top-`k` Adamic-Adar link predictions (Adamic & Adar 2003): for
    every NON-adjacent pair (u < v), score = Σ over common neighbors z of
    1/ln(deg(z)) — rare shared neighbors say more than celebrity hubs.
    The "who should follow whom" recommendation a social graph store
    serves. Returns (u, v, common_neighbors, aa_score) ordered
    aa_score desc, u asc, v asc; aa_score is rounded to 6 decimals and
    the ordering uses the ROUNDED value, so the (score, u, v) total order
    is engine-reproducible.

    Scale shape: wedges enumerate by common neighbor — the shuffle key is
    z and every payload is an id pair; the (u,v) score aggregate gets
    map-side combine; the existing-edge removal is an anti-join against
    the slim canonical edge set; the global top-k plans as
    TakeOrderedAndProject (no full sort at any scale). A hub of degree D
    contributes D²/2 wedges but only weight 1/ln(D) — quadratic cost,
    vanishing signal — so `max_degree` optionally drops z above the cap
    before the wedge join (the same explicit lossy-cap contract as the
    dedup family's hot-shingle cap; default None = exact). The weighted
    neighbor frame is cached: both sides of the wedge self-join read it,
    with different output partitionings after the pair projection."""
    e = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .cache()
    )
    und = e.select(F.col("u").alias("n"), F.col("v").alias("nb")).unionByName(
        e.select(F.col("v").alias("n"), F.col("u").alias("nb"))
    )
    deg = und.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    if max_degree is not None:
        deg = deg.filter(F.col("d") <= max_degree)
    # (n, z, w): n's neighbor z carrying z's hub weight 1/ln(deg z).
    # deg ≥ 2 for any common neighbor (it touches both u and v), so ln>0;
    # deg-1 nodes can never appear in a wedge and the filter is free.
    w = (
        und.join(
            deg.select(F.col("n").alias("nb"), F.col("d")).filter(F.col("d") >= 2),
            "nb",
        )
        .select("n", F.col("nb").alias("z"), (F.lit(1.0) / F.log(F.col("d"))).alias("w"))
        .cache()
    )
    w.count()
    pairs = (
        w.alias("x")
        .join(w.alias("y"), (F.col("x.z") == F.col("y.z")) & (F.col("x.n") < F.col("y.n")))
        .select(F.col("x.n").alias("u"), F.col("y.n").alias("v"), F.col("x.w").alias("w"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(F.sum("w"), 6).alias("aa_score"),
        )
    )
    out = (
        pairs.join(e, ["u", "v"], "left_anti")
        .orderBy(F.col("aa_score").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(k)
    )
    out = _truncate(out, checkpoint_dir)
    e.unpersist()
    w.unpersist()
    return out


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    in a hyperlinked environment"): on a directed graph, a node is a good
    HUB if it points at good authorities and a good AUTHORITY if good
    hubs point at it — the natural scoring for bipartite-ish graphs
    (suppliers→customers, users→posts) where PageRank's single score
    conflates the two roles. Synchronous power iteration with a FIXED
    round count and L1 normalization each half-step, so a fixed-round
    unrolled oracle reproduces it exactly. Returns (node, hub,
    authority); either score is 0 for nodes without the corresponding
    edges.

    Scale shape (the `pagerank` discipline): per round, TWO edge-keyed
    joins whose payloads are (id, double) — scores travel, never
    adjacency lists; the aggregates get map-side combine; each L1 norm
    is a 1-row aggregate collected as a bounded scalar (the dangling-mass
    pattern); the RAW per-half-step frames are cached so the norm
    collect itself materializes them — the edge join+agg runs once per
    half-step and the normalized scores are cheap projections over the
    cache (2 jobs/round, no eager counts), with
    lineage truncated every 4th round (reliable checkpoint when
    `checkpoint_dir` is set).

    Zero-score nodes are NOT carried through the loop: a 0.0 term is an
    exact IEEE identity in the L1 sums and 0/s is exactly 0, so scores
    stay bit-equal while each half-step is ONE edge join + agg instead
    of two joins — the missing (score-0) rows rejoin via a single final
    left join against the node set. A fully lazy broadcast-norm form was
    tried and rejected: crossJoin(agg(self)) doubles the logical plan
    per half-step, and Catalyst analysis blows up ~4^rounds between
    truncations (>10 min at sf0.1 vs ~19 s for the collected-scalar
    forms). A HALF-lazy form (auth norm in-plan, hub norm collected —
    one collect per round, 2^rounds growth) was also tried and rejected
    at r12: 3.04x SLOWER interleaved (tools/ab_hits_fused.py) — the
    saved 1-row job never pays for the doubled analysis, so the two
    bounded collects per round are the measured optimum on this shape."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    if nodes.count() == 0:
        nodes.unpersist()
        e.unpersist()
        return nodes.withColumn("hub", F.lit(0.0)).withColumn("authority", F.lit(0.0))
    hub = nodes.withColumn("hub", F.lit(1.0)).cache()
    caches = [e, nodes, hub]
    auth = None
    for it in range(n_iter):
        # cache the RAW aggregate: the norm collect populates it, so the
        # edge join+agg runs ONCE per half-step; zero-score nodes are
        # omitted (exact IEEE no-ops in the sum and in the next join)
        raw_a = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("v"))
        ).cache()
        caches.append(raw_a)
        sa = raw_a.agg(F.sum("v")).collect()[0][0]  # bounded 1-row scalar
        auth = raw_a.select(
            F.col("dst").alias("node"), (F.col("v") / F.lit(sa)).alias("authority")
        )
        raw_h = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("authority").alias("v"))
        ).cache()
        caches.append(raw_h)
        sh = raw_h.agg(F.sum("v")).collect()[0][0]
        hub = raw_h.select(
            F.col("src").alias("node"), (F.col("v") / F.lit(sh)).alias("hub")
        )
        if (it + 1) % 4 == 0:
            hub = _truncate(hub, checkpoint_dir)
    out = _truncate(
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
        ),
        checkpoint_dir,
    )
    for c in caches:
        c.unpersist()
    return out


def _k_core_local(adj: DataFrame, k: int) -> DataFrame:
    """Single-task exact peel for a SMALL symmetrized adjacency: classic
    queue-based k-core (remove degree<k nodes, cascade decrements) inside
    one mapInPandas partition. coalesce(1) is a narrow move of the cached
    edge list — no shuffle, no driver collect, one job. Returns
    (node, degree-inside-core), identical to the global peel's fixpoint."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("node", adj.schema["u"].dataType),
            T.StructField("degree", T.LongType()),
        ]
    )

    def peel(batches):
        from collections import deque

        chunks = [p for p in batches if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        neigh: dict = {}
        for u, v in zip(pdf["u"], pdf["v"]):
            neigh.setdefault(u, set()).add(v)
        deg = {u: len(s) for u, s in neigh.items()}
        q = deque(u for u, d in deg.items() if d < k)
        removed = set()
        while q:
            u = q.popleft()
            if u in removed:
                continue
            removed.add(u)
            for v in neigh[u]:
                if v in removed:
                    continue
                deg[v] -= 1
                if deg[v] == k - 1:
                    q.append(v)
        rows = [(u, int(deg[u])) for u in neigh if u not in removed]
        if rows:
            yield pd.DataFrame(rows, columns=["node", "degree"])

    return adj.coalesce(1).mapInPandas(peel, out_schema)


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """k-core decomposition for a fixed k: iteratively peel every node whose
    degree drops below k until fixpoint; returns the surviving (node,
    degree) rows — degree measured INSIDE the core. The cohesive-subgraph
    complement to `pagerank` (influence), `label_propagation` (communities),
    and `triangle_count` (clustering): the k-core is where a social graph's
    dense discussion actually lives, and peeling is the standard
    spam/periphery filter before the expensive graph algorithms run.

    Scale shape (the file's iterative discipline): the symmetrized
    adjacency is cached and REPLACED each round by an anti-join against the
    peeled-node set — per-round payloads are id pairs, the degree count is
    map-side combinable, and the peel set is typically small so AQE
    broadcasts both anti-joins. Rounds are cached + counted, lineage
    truncates every 4th round (reliable checkpoint when `checkpoint_dir`
    is set). Terminates in ≤ n rounds (each round removes ≥1 node or
    stops); `max_iter` guards runaway inputs by raising, never silently
    returning an unpeeled graph.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    adj = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .cache()
    )
    n_edges = adj.count()
    caches = [adj]
    try:
        if n_edges <= local_threshold:
            # Small-graph fast path (the comment_depth_auto precedent, and
            # the same "subgraph fits in one task → finish locally" move as
            # AQE's local shuffle read): after thinning, real peel inputs
            # are often task-sized — one single-task exact peel replaces
            # O(peel-depth) global rounds of anti-join + degree agg.
            # Bounded by contract: ≤ local_threshold symmetrized edges
            # (~30 MB at the default) materialize in ONE executor task,
            # never on the driver. Measured on the bench graph (4.4k
            # edges): 5.7 s of global rounds → ~2 s end-to-end.
            return _truncate(_k_core_local(adj, k), checkpoint_dir)
        for it in range(max_iter):
            deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
            peel = deg.filter(F.col("degree") < k).select("u").cache()
            caches.append(peel)
            if peel.count() == 0:
                out = deg.select(F.col("u").alias("node"), "degree")
                return _truncate(out, checkpoint_dir)
            nxt = (
                adj.join(peel, "u", "left_anti")
                .join(peel.select(F.col("u").alias("v")), "v", "left_anti")
                .cache()
            )
            caches.append(nxt)
            if (it + 1) % 4 == 0:
                # eager truncation materializes; otherwise the NEXT round's
                # peel.count() fills this cache — no separate count() job
                # (one driver job per round, not two; same discipline as
                # bpe_train's batched rounds)
                nxt = _truncate(nxt, checkpoint_dir)
            adj = nxt
        raise RuntimeError(
            f"k_core did not reach a fixpoint within max_iter={max_iter} rounds"
        )
    finally:
        # success AND failure paths release every cached round — a raised
        # RuntimeError must not pin executor storage for the session
        for c in caches:
            c.unpersist()


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change log to a snapshot: `changes` carries the base
    columns plus `op_col` ('I'/'U' upsert, 'D' delete); the LATEST change
    per key wins (`order_col` desc, ties to 'D' — a delete and an update
    at the same instant must not resurrect the row). Returns the new
    snapshot. This is the missing third verb of the merge family:
    `merge_upsert` handles I/U, `scd2_apply` versions history — this one
    also RETRACTS (the reference's analogue is a removed/suspended post
    vanishing from the re-crawl; an upsert-only merge would keep it
    forever).

    Scale shape: one key-window over the CHANGE BATCH (small by contract),
    one key-keyed anti-join of the base against the latest-change key set
    (AQE broadcasts it), one union. The base never enters a window and
    never shuffles beyond the anti-join probe; compose with
    `merge_upsert_partitioned`'s partition pruning for the stored form.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(order_col).desc(), (F.col(op_col) == "D").cast("int").desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    touched = latest.select(*keys)
    kept = base.join(touched, keys, "left_anti")
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col)
    return kept.unionByName(upserts)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: list[str],
    tracked: list[str],
    batch_ts,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    cur_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: apply a change batch to a
    versioned dimension, closing the current version of every key whose
    tracked attributes changed (``valid_to`` = `batch_ts`, current → false)
    and inserting a new open version; brand-new keys insert directly; no-op
    changes (same tracked values) touch nothing. The dimension-history
    analog of the reference's graph upsert (K3-K5 —
    reference: reddit/glue_neptune.py keeps only latest state; SCD2 keeps
    the full history a warehouse needs for as-of joins).

    Scale shape: the change batch is small relative to the dimension, so
    the affected-key determination joins the batch against a slim
    (keys, xxhash64) projection of the CURRENT rows — payloads never ride
    that exchange (same null-safe JSON-struct hashing as
    ``snapshot_diff``). The dimension itself is touched by one left_anti +
    one left_semi against the affected key set (AQE broadcasts it), and
    history rows pass through untouched — composes with
    ``merge_upsert_partitioned`` so only the partitions holding affected
    keys rewrite. Returns the full post-batch dimension snapshot.
    """
    extras = set(dim.columns) - set(keys) - set(tracked) - {from_col, to_col, cur_col}
    if extras:
        raise ValueError(
            f"scd2_apply: dimension columns {sorted(extras)} are neither keys, "
            "tracked attributes, nor SCD bookkeeping — new versions could not "
            "populate them. Track them, or project them out before the merge."
        )

    def _h(alias):
        return _payload_hash(tracked, alias)

    cur = dim.filter(F.col(cur_col))
    cur_slim = cur.select(*keys, _h("__ho"))
    affected = (
        changes.select(*keys, *tracked, _h("__hn"))
        .join(cur_slim, keys, "left")
        .filter(F.col("__ho").isNull() | (F.col("__ho") != F.col("__hn")))
        .select(*keys, *tracked)
    )
    akeys = affected.select(*keys)
    to_type = dim.schema[to_col].dataType
    closed = (
        cur.join(akeys, keys, "left_semi")
        .withColumn(to_col, F.lit(batch_ts).cast(to_type))
        .withColumn(cur_col, F.lit(False))
    )
    untouched_cur = cur.join(akeys, keys, "left_anti")
    history = dim.filter(~F.col(cur_col))
    new_rows = (
        affected.withColumn(from_col, F.lit(batch_ts).cast(dim.schema[from_col].dataType))
        .withColumn(to_col, F.lit(None).cast(to_type))
        .withColumn(cur_col, F.lit(True))
    )
    return (
        history.unionByName(untouched_cur)
        .unionByName(closed)
        .unionByName(new_rows.select(*dim.columns))
    )


# --- skew handling (scale helpers) -----------------------------------------


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with hot-key salting: the skewed side scatters each key
    across `n_salts` shuffle partitions (deterministic per-row salt from a
    seeded rand), the other side replicates each row to all salts, and the
    join runs on (key, salt). Breaks a single hot key's partition into
    n_salts tasks at the cost of replicating `other` n_salts-fold — use
    when the non-skewed side is small-ish but above broadcast size.

    AQE's skew-join split (enabled in session.py) handles most cases
    without this; explicit salting remains for aggregation-feeding joins
    where AQE's post-shuffle split can't apply or when the skew is known
    ahead of time.

    Only skewed-side-preserving joins are supported: each skewed row carries
    exactly ONE salt, so inner/left/left_semi/left_anti semantics survive
    salting unchanged — but `other` rows exist once PER SALT, so
    right/full-outer would emit every unmatched `other` row n_salts times.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the other side is "
            "replicated per salt, so right/full outer joins would duplicate "
            "its unmatched rows n_salts times"
        )
    sk = skewed.withColumn("__salt", (F.rand(seed) * n_salts).cast("int"))
    ot = other.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return sk.join(ot, [key, "__salt"], how).drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salts: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase sum/count aggregation under key skew: partial aggregate on
    (keys, salt) spreads a hot key over n_salts reducers, the final
    aggregate on keys combines n_salts partials per key. Built-in aggregates
    already combine map-side, so this matters for the REDUCER-side skew a
    hot key's final partition sees; returns (keys..., total, n)."""
    salted = df.withColumn("__salt", (F.rand(seed) * n_salts).cast("int"))
    partial = salted.groupBy(*keys, "__salt").agg(
        F.sum(value_col).alias("__t"), F.count(F.lit(1)).alias("__n")
    )
    return partial.groupBy(*keys).agg(
        F.sum("__t").alias("total"), F.sum("__n").alias("n")
    )


def bloom_prefiltered_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    n_buckets: int = 1 << 22,
) -> DataFrame:
    """Exact equi-join with an approximate-membership pre-filter: the small
    side's keys hash into buckets mod `n_buckets`, the DISTINCT bucket set
    broadcasts, and a broadcast semi-join drops large-side rows whose
    bucket misses — BEFORE the large side's exchange. This is a Bloom
    filter with k=1 expressed relationally (Spark's own injectRuntimeFilter
    builds the same thing with the internal `bloom_filter_agg` expression,
    which is not SQL-registered, and only under shuffle-stage heuristics —
    this operator makes the decision explicit and tunable).

    Why it matters at 100 TB: when the join is selective (few large-side
    rows match), the large side's shuffle — the dominant cost — shrinks to
    the matching fraction plus the false-positive rate ≈
    distinct_small_keys / n_buckets. The broadcast is ≤
    min(distinct_keys, n_buckets) longs, so `n_buckets` caps the broadcast
    size at the price of FP rate. False positives are removed by the exact
    join that follows, so the result is IDENTICAL to the plain join (the
    bucket set can only over-approximate the match set).

    `how` is restricted to joins where pre-filtering the LARGE side cannot
    drop result rows: inner / left_semi — a left-outer pre-filter would
    turn unmatched rows into missing rows instead of null-extended ones.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_prefiltered_join: how={how!r} unsupported — pre-filtering "
            "the large side is only sound for inner/left_semi"
        )
    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    buckets = small.select(bucket.alias("__bk")).distinct()
    pre = (
        large.withColumn("__bk", bucket)
        .join(F.broadcast(buckets), "__bk", "left_semi")
        .drop("__bk")
    )
    return pre.join(small, key, how)


from .._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
