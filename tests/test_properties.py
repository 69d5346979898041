"""Property-based tests (hypothesis) — invariants the example tests can't
pin: idempotence, coverage, and containment relations over generated
corpora. Example counts are kept small because every example is a Spark
round-trip."""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from reddit_twitter_big_data_pipeline_spark.functions import enrich
from reddit_twitter_big_data_pipeline_spark.operators import dedup, text as text_ops
from reddit_twitter_big_data_pipeline_spark.plans import audit
from reddit_twitter_big_data_pipeline_spark.sources import ingest

_WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_DOC = st.lists(_WORDS, min_size=1, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=8)


@settings(max_examples=8, deadline=None)
@given(_CORPUS)
def test_exact_dedupe_idempotent_and_keeps_min_id(spark, corpus):
    df = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    once = dedup.exact_dedupe(df)
    twice = dedup.exact_dedupe(once)
    got_once = sorted(r.doc_id for r in once.collect())
    got_twice = sorted(r.doc_id for r in twice.collect())
    assert got_once == got_twice  # idempotent
    # each survivor is the min id of its normalized-text group
    norm = {}
    for i, t in enumerate(corpus):
        norm.setdefault(" ".join(t.lower().split()), []).append(i)
    assert got_once == sorted(min(ids) for ids in norm.values())


@settings(max_examples=8, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=2, max_value=10),
    st.integers(min_value=0, max_value=5),
)
def test_chunking_covers_all_tokens_within_window(spark, n_tokens, window, overlap):
    if overlap >= window:
        overlap = window - 1
    words = [f"tok{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    rows = text_ops.chunk_documents(df, window=window, overlap=overlap).collect()
    seen = set()
    for r in rows:
        toks = r.chunk_text.split(" ")
        assert len(toks) <= window
        assert r.n_chunk_tokens == len(toks)
        seen.update(toks)
    assert seen == set(words)  # every token appears in some chunk
    # consecutive chunks overlap by exactly `overlap` tokens (except the tail)
    idxs = sorted(r.chunk_idx for r in rows)
    assert idxs == list(range(len(idxs)))


@settings(max_examples=6, deadline=None)
@given(_CORPUS)
def test_minhash_pairs_subset_of_exact_jaccard(spark, corpus):
    df = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    mh = {(r.a, r.b) for r in dedup.minhash_dedup_pairs(df, threshold=0.5).collect()}
    jc = {(r.a, r.b) for r in dedup.jaccard_pairs(df, threshold=0.5, max_shingle_freq=None).collect()}
    # LSH can only MISS pairs, never invent them (candidates are verified
    # with exact Jaccard), so minhash output ⊆ exact output always holds.
    assert mh <= jc


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=1, max_value=30),
)
def test_rate_limiter_never_exceeds_rate(rate, n_calls):
    t = {"now": 0.0}

    def sleeper(s):
        t["now"] += s  # sleeping advances the fake clock

    rl = ingest.RateLimiter(rate=rate, per_s=1.0, clock=lambda: t["now"], sleeper=sleeper)
    stamps = []
    for _ in range(n_calls):
        rl.acquire()
        stamps.append(t["now"])
    # in any 1-second window at most `rate` acquisitions complete
    for i, s in enumerate(stamps):
        in_window = [x for x in stamps if s - 1.0 + 1e-9 < x <= s + 1e-9]
        assert len(in_window) <= rate


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from reddit_twitter_big_data_pipeline_spark.operators import dedup

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # reference: driver-side union-find with min-id canonical labels
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, ["a", "b"])
    got = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=24,
    )
)
def test_quantized_topk_lossless_when_rerank_covers_corpus(spark, vecs):
    """With rerank ≥ |corpus| the int8 prune keeps every row, so the
    quantized path must reproduce brute force EXACTLY on arbitrary inputs —
    zero vectors, duplicates, negatives, tiny magnitudes included (the
    masking/searchsorted plumbing has no room to drop or misalign a row)."""
    from reddit_twitter_big_data_pipeline_spark.operators import similarity

    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probes = emb.limit(3)
    bf = sorted(map(tuple, similarity.brute_force_topk(probes, emb, k=3).collect()))
    qt = sorted(
        map(tuple, similarity.quantized_topk(probes, emb, k=3, rerank=len(rows)).collect())
    )
    assert bf == qt


@settings(max_examples=10, deadline=None)
@given(
    st.lists(  # change log: (key, value, order, op)
        st.tuples(
            st.integers(0, 6), st.integers(0, 99), st.integers(0, 9),
            st.sampled_from(["I", "U", "D"]),
        ),
        max_size=30,
    ),
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 99)), max_size=8, unique_by=lambda t: t[0]),
)
def test_apply_cdc_matches_python_replay(spark, changes, base_rows):
    """apply_cdc must equal a sequential dict replay of the change log in
    (order, D-over-U) precedence — for arbitrary interleavings of inserts,
    updates, and deletes, including same-instant ties."""
    from reddit_twitter_big_data_pipeline_spark.operators import model

    # reference: keep only the winning change per key, then replay
    state = dict(base_rows)
    best = {}
    for k, v, t, op in changes:
        cur = best.get(k)
        # precedence: higher t wins; tie → D beats non-D; equal-precedence
        # duplicates are excluded below to keep the reference well-defined
        if cur is None or (t, op == "D") > (cur[0], cur[2] == "D"):
            best[k] = (t, v, op)
    # two changes sharing (key, order, op-class) tie at EQUAL precedence —
    # the operator's row_number breaks that arbitrarily, so the reference
    # is undefined there; skip those examples
    seen = set()
    for k, _v, t, op in changes:
        sig = (k, t, op == "D")
        if sig in seen:
            return
        seen.add(sig)
    for k, (t, v, op) in best.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    # contract: changes = base columns + op, so base carries the order
    # column too (t = -1 predates every change)
    base = spark.createDataFrame(
        [(k, v, -1) for k, v in base_rows] or [], "k long, v long, t long"
    )
    ch = spark.createDataFrame(
        [(k, v, t, op) for k, v, t, op in changes] or [], "k long, v long, t long, op string"
    )
    got = {r.k: r.v for r in model.apply_cdc(base, ch, ["k"], "t").collect()}
    assert got == state


@settings(max_examples=6, deadline=None)
@given(_CORPUS, st.integers(min_value=1, max_value=4))
def test_bucket_pairs_equals_selfjoin_form(spark, corpus, cap):
    # The r7 grouped `_bucket_pairs` candidate generation must return the
    # EXACT pair set of the reference formulation (count buckets -> drop
    # over-full -> bucket self-join) for ANY corpus and ANY cap — the
    # planted-corpus example tests can't cover arbitrary bucket-size /
    # cap interactions.
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    sigs = dedup.minhash_signatures(df)
    b = dedup._band_frame(sigs, 16, 4)
    got = sorted(
        map(
            tuple,
            dedup._bucket_pairs(b, ["band", "bucket"], cap, "prop_cap")
            .select(
                F.least("x.id", "y.id").alias("a"),
                F.greatest("x.id", "y.id").alias("b"),
            )
            .distinct()
            .collect(),
        )
    )
    over = (
        b.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select("band", "bucket")
    )
    capped = b.join(over, ["band", "bucket"], "left_anti")
    ref = sorted(
        map(
            tuple,
            capped.select(F.col("id").alias("a"), "band", "bucket")
            .join(capped.select(F.col("id").alias("b"), "band", "bucket"), ["band", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .collect(),
        )
    )
    assert got == ref


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=12,
    ),
    st.lists(st.integers(0, 3), min_size=12, max_size=12),
)
def test_keep_best_invariants_on_random_graphs(spark, pairs, qualities):
    """dedup_keep_best over random pair graphs: exactly one survivor per
    connected cluster; the survivor is the (max quality, min id) member;
    unclustered docs always survive — checked against a brute-force
    union-find + argmax replay."""
    docs = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qualities)], ["doc_id", "q"]
    )
    pdf = spark.createDataFrame(pairs, "a long, b long") if pairs else (
        spark.createDataFrame([], "a long, b long")
    )
    kept = sorted(
        r.doc_id for r in dedup.dedup_keep_best(docs, pdf, "q").collect()
    )
    parent = list(range(12))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    clusters: dict[int, list[int]] = {}
    for i in range(12):
        clusters.setdefault(find(i), []).append(i)
    expect = sorted(
        min(members, key=lambda i: (-qualities[i], i))
        for members in clusters.values()
    )
    assert kept == expect


# --- water-filling under adversarial weight magnitudes (VERDICT r11
# item 8): the closed form's docstring caveats that the full-table Σw is
# not order-defined at float precision; these pin (a) the engine tracks
# an EXACT-rational replay of its own closed form to float tolerance
# even with 1e-30 and 1e+30 weights mixed, and (b) the 6dp output round
# absorbs partition-order sum differences (budget bounded so absolute
# sum-order error stays far below the 1e-6 quantum — unbounded budgets
# are exactly the docstring's dyadic-weights territory).

_W_EXP = st.integers(min_value=-30, max_value=30)
_SRC = st.lists(
    st.tuples(_W_EXP, st.integers(min_value=0, max_value=1_000_000)),
    min_size=1,
    max_size=6,
)


def _exact_water_fill(items, budget):
    """The engine's closed form replayed in exact rational arithmetic
    (Fraction of the exact float weight values), max_epochs=1."""
    from fractions import Fraction

    fs = [(k, Fraction(w), Fraction(a)) for k, w, a in items]
    tot_a = sum(a for _, _, a in fs)
    tot_w = sum(w for _, w, _ in fs)
    t = min(Fraction(budget), tot_a)
    lam = t / tot_w
    cum_a = Fraction(0)
    cum_w = Fraction(0)
    for k, w, a in sorted(fs, key=lambda x: (x[2] / x[1], x[0])):
        cum_a += a
        cum_w += w
        if tot_w > cum_w:
            lam = max(lam, (t - cum_a) / (tot_w - cum_w))
    return {k: float(min(a, w * lam)) for k, w, a in fs}


@settings(max_examples=12, deadline=None)
@given(_SRC, st.integers(min_value=0, max_value=1_000_000))
def test_water_fill_adversarial_weights_track_exact_rational(spark, srcs, budget):
    from reddit_twitter_big_data_pipeline_spark.operators import sampling

    items = [(f"s{i:02d}", 10.0**e, a) for i, (e, a) in enumerate(srcs)]
    df = spark.createDataFrame(items, "source string, weight double, available long")
    got = {
        r.source: r.alloc
        for r in sampling.water_fill_allocation(df, budget).collect()
    }
    want = _exact_water_fill(items, budget)
    assert set(got) == set(want)
    for k in want:
        # 6dp round quantum + relative float slack (near-tied avail/w
        # ratios may legally sort either way; λ moves continuously)
        assert abs(got[k] - want[k]) <= 1e-6 + 1e-9 * abs(want[k]), (
            k, got[k], want[k])
    supply = sum(a for _, _, a in items)
    assert abs(sum(got.values()) - min(budget, supply)) <= 1e-5 + 1e-9 * budget


@settings(max_examples=8, deadline=None)
@given(_SRC, st.integers(min_value=0, max_value=1_000_000))
def test_water_fill_6dp_round_absorbs_partition_sum_order(spark, srcs, budget):
    from reddit_twitter_big_data_pipeline_spark.operators import sampling

    items = [(f"s{i:02d}", 10.0**e, a) for i, (e, a) in enumerate(srcs)]
    df = spark.createDataFrame(items, "source string, weight double, available long")
    outs = []
    for nparts in (1, 7):
        outs.append({
            r.source: r.alloc
            for r in sampling.water_fill_allocation(
                df.repartition(nparts), budget
            ).collect()
        })
    assert outs[0] == outs[1]


# --- temporal joins vs exact references (r12): the fixed-example tests
# pin known cases; these sweep generated boundary-heavy inputs — equal
# timestamps (the <=/>= tie rules), tolerance edges, negative
# coordinates and inverted/empty intervals (bucket floor-division and
# the [start, end) contract are where off-by-ones live).

_TS = st.integers(min_value=-20, max_value=20)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 2), _TS), min_size=1, max_size=12),
    st.lists(st.tuples(st.integers(0, 2), _TS, st.integers(0, 99)),
             min_size=1, max_size=12, unique_by=lambda r: (r[0], r[1])),
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, 0, 3]),
)
def test_as_of_join_matches_pandas_merge_asof(spark, evs, snaps, direction, tol):
    import pandas as pd

    from reddit_twitter_big_data_pipeline_spark.operators import temporal

    ev = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(evs)], "k long, ts long, eid long"
    )
    snap = spark.createDataFrame(snaps, "k long, sts long, score long")
    got = {
        (r.k, r.ts, r.eid): r.score
        for r in temporal.as_of_join(
            ev, snap, ["k"], "ts", "sts", direction=direction, tolerance_s=tol
        ).collect()
    }
    lpd = pd.DataFrame([(k, t, i) for i, (k, t) in enumerate(evs)],
                       columns=["k", "ts", "eid"]).sort_values("ts")
    rpd = pd.DataFrame(snaps, columns=["k", "sts", "score"]).sort_values("sts")
    want_df = pd.merge_asof(
        lpd, rpd, left_on="ts", right_on="sts", by="k",
        direction=direction, tolerance=tol,
    )
    want = {
        (int(r.k), int(r.ts), int(r.eid)): (None if pd.isna(r.score) else int(r.score))
        for r in want_df.itertuples()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 2), _TS), min_size=1, max_size=10),
    st.lists(st.tuples(st.integers(0, 2), _TS, _TS), min_size=1, max_size=10),
    st.integers(min_value=1, max_value=7),
    st.sampled_from(["inner", "left"]),
)
def test_range_join_matches_brute_containment(spark, pts, ivs, width, how):
    from reddit_twitter_big_data_pipeline_spark.operators import temporal

    pdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(pts)], "k long, t long, pid long"
    )
    idf = spark.createDataFrame(
        [(k, lo, hi, j) for j, (k, lo, hi) in enumerate(ivs)],
        "k long, lo long, hi long, iid long",
    )
    out = temporal.range_join(pdf, idf, ["k"], "t", "lo", "hi", bucket_width=width, how=how)
    got = sorted(
        (r.pid, None if r["iid"] is None else r.iid) for r in out.collect()
    )
    # brute reference: containment is [lo, hi) per key
    matches = {
        (i, j)
        for i, (pk, t) in enumerate(pts)
        for j, (ik, lo, hi) in enumerate(ivs)
        if pk == ik and lo <= t < hi
    }
    want = sorted(matches)
    if how == "left":
        matched_pts = {i for i, _ in matches}
        want = sorted(want + [(i, None) for i in range(len(pts)) if i not in matched_pts])
    assert got == want, (got, want, width)


# --- VERDICT r12 item 3: the exact-rational adversarial-magnitude
# pattern (which found the water-fill cancellation break in r12 and the
# budget_select long<=double rounding break in r13) extended to the
# remaining closed-form float/integer seams. Each test replays the
# operator's documented closed form in exact arithmetic (Fraction /
# Python ints) and pins the engine to it.


def _hash_order(spark, items, salt="budget"):
    """The engine's admission order for budget_select: bucket-hash asc,
    id asc — read back from Spark via the engine's OWN `_bucket`
    expression (xxhash64 has no Python twin here, and a hand-retyped
    expression drifts: an earlier copy cast the id to string while the
    engine hashes the native long, silently diverging the replay's
    order). The ORDER is the seam under test's input, not the seam."""
    from reddit_twitter_big_data_pipeline_spark.operators.sampling import _bucket

    df = spark.createDataFrame([(i,) for i, _ in items], "doc_id long")
    rows = df.select("doc_id", _bucket("doc_id", salt).alias("h")).collect()
    hmap = {r.doc_id: r.h for r in rows}
    return sorted((i for i, _ in items), key=lambda i: (hmap[i], i))


_TOK = st.one_of(
    st.integers(min_value=0, max_value=100),
    st.integers(min_value=2**50, max_value=2**53 + 64),
)
_ALLOC_F = st.one_of(
    st.floats(min_value=0.0, max_value=200.0, allow_nan=False),
    st.integers(min_value=2**52, max_value=2**53 + 64).map(float),
    st.just(float(2**63)),
    st.just(1e300),
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_TOK, min_size=1, max_size=5),
    _ALLOC_F,
)
def test_budget_select_boundary_tracks_exact_integer_cumsum(spark, toks, alloc):
    """Admission is EXACT: doc i admitted iff its exact integer running
    total (in hash order) <= the exact rational value of the double
    allocation — no doc whose true cum exceeds the budget may slip in
    through the long->double rounding of the comparison (the r13 fix:
    alloc=2^53, cum=2^53+1 was admitted before)."""
    from fractions import Fraction

    from reddit_twitter_big_data_pipeline_spark.operators import sampling

    items = list(enumerate(toks))
    docs = spark.createDataFrame(
        [(i, "s", t) for i, t in items], "doc_id long, source string, n_tokens long"
    )
    adf = spark.createDataFrame([("s", alloc)], "source string, alloc double")
    got = sorted(r.doc_id for r in sampling.budget_select(docs, adf).collect())
    tok = dict(items)
    cum, want = 0, []
    for i in _hash_order(spark, items):
        cum += tok[i]
        if Fraction(cum) <= Fraction(alloc):
            want.append(i)
        else:
            break  # prefix rule: first boundary-crossing doc ends the source
    assert got == sorted(want)


_VAL_MAG = st.one_of(
    st.integers(min_value=-3, max_value=3).map(float),
    st.sampled_from([1e-300, 1e-30, 1e30, 1e300, -1e300, -1e-300, 0.0]),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_VAL_MAG, min_size=1, max_size=24), st.integers(min_value=1, max_value=8))
def test_equidepth_histogram_matches_exact_ntile_replay(spark, vals, n_buckets):
    """Bucket membership, counts, and bounds replicate SQL ntile exactly
    at any value magnitude: ranks and bucket boundaries are pure integer
    arithmetic, values only ever sort/min/max (exact double compares)."""
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = list(enumerate(vals))
    df = spark.createDataFrame([(v, i) for i, v in rows], "v double, id long")
    got = [
        (r.bucket, r.n_rows, r.lo, r.hi)
        for r in analytics.equidepth_histogram(df, "v", ["id"], n_buckets).collect()
    ]
    # exact replay: sort by (v, id), ntile(B) split (first n%B buckets one extra)
    seq = sorted(rows, key=lambda t: (t[1], t[0]))
    n, got_exp = len(seq), []
    base, rem = divmod(n, n_buckets)
    start = 0
    for b in range(1, min(n, n_buckets) + 1):
        size = base + (1 if b <= rem else 0) if base else 1
        chunk = seq[start:start + size]
        start += size
        vs = [v for _, v in chunk]
        got_exp.append((b, len(chunk), min(vs), max(vs)))
    assert got == got_exp


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_VAL_MAG, min_size=1, max_size=16),
    st.lists(_VAL_MAG, min_size=0, max_size=16),
    st.integers(min_value=2, max_value=6),
)
def test_psi_drift_tracks_exact_rational_shares(spark, base_vals, cur_vals, n_buckets):
    """Bucket counts are exact at any magnitude (boundary compares are
    raw double <=); each psi_contrib tracks the exact-Fraction share
    computation to the 6dp output round."""
    import math
    from fractions import Fraction

    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    b = spark.createDataFrame(
        [(v, i) for i, v in enumerate(base_vals)], "v double, id long"
    )
    c = spark.createDataFrame(
        [(v, i) for i, v in enumerate(cur_vals)], "v double, id long"
    ) if cur_vals else b.limit(0)
    got = {
        r.bucket: (r.n_base, r.n_cur, r.psi_contrib)
        for r in analytics.psi_drift(b, c, "v", ["id"], n_buckets).collect()
    }
    # exact replay of the documented closed form
    seq = sorted(zip(base_vals, range(len(base_vals))))
    n, B = len(seq), n_buckets
    base_sz, rem = divmod(n, B)
    uppers, start = [], 0
    for k in range(1, min(n, B) + 1):
        size = base_sz + (1 if k <= rem else 0) if base_sz else 1
        uppers.append(max(v for v, _ in seq[start:start + size]))
        start += size
    K = len(uppers)

    def bucket_of(v):
        for i, u in enumerate(uppers[:-1]):
            if v <= u:
                return i + 1
        return K

    nb = {k: 0 for k in range(1, K + 1)}
    nc = {k: 0 for k in range(1, K + 1)}
    for v in base_vals:
        nb[bucket_of(v)] += 1
    for v in cur_vals:
        nc[bucket_of(v)] += 1
    assert set(got) == set(nb)
    tb, tc = sum(nb.values()), sum(nc.values())
    for k in nb:
        gb, gc, contrib = got[k]
        assert (gb, gc) == (nb[k], nc[k])  # counts exact
        p = Fraction(2 * nb[k] + 1, 2 * tb + K)
        q = Fraction(2 * nc[k] + 1, 2 * tc + K)
        want = float(p - q) * math.log(float(p) / float(q)) if p != q else 0.0
        assert abs(contrib - round(want, 6)) <= 2e-6, (k, contrib, want)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
       st.integers(min_value=2, max_value=64))
def test_kmv_estimate_matches_exact_rational(spark, vals, k):
    """(k-1)·2^60 / h_k tracks the exact Fraction to float ulp; under-k
    groups return EXACTLY n (the threshold n<k is integer, no seam)."""
    from fractions import Fraction

    from reddit_twitter_big_data_pipeline_spark.operators import sketches

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = sketches.kmv_build(df, "v", k=k)
    hashes = sorted(r.hash for r in sk.collect())
    got = sketches.kmv_estimate(sk, k=k).collect()[0].n_distinct_est
    if len(hashes) < k:
        assert got == float(len(hashes))
    else:
        want = Fraction((k - 1) * (1 << 60), hashes[-1])
        assert abs(got - float(want)) <= abs(float(want)) * 1e-12


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=2**50, max_value=2**62),
        ),
        min_size=1,
        max_size=40,
    ),
    st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=4),
)
def test_hdr_quantile_matches_exact_integer_replay(spark, vals, pcts):
    """rank = (n·pct + 99) div 100 and bucket selection replay exactly in
    Python ints at any magnitude (the whole sketch is integer-only)."""
    from reddit_twitter_big_data_pipeline_spark.operators import sketches

    p_bits = 6
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = sketches.hdr_build(df, "v", precision_bits=p_bits)
    got = {r.pct: r.est for r in sketches.hdr_quantile(sk, pcts).collect()}

    def lo_of(v):
        if v == 0 or v.bit_length() <= p_bits:
            return v
        s = v.bit_length() - p_bits
        return (v >> s) << s

    buckets: dict = {}
    for v in vals:
        buckets[lo_of(v)] = buckets.get(lo_of(v), 0) + 1
    n = len(vals)
    want = {}
    for pct in set(pcts):
        rank = (n * pct + 99) // 100
        cum = 0
        est = None
        for lo in sorted(buckets):
            cum += buckets[lo]
            if cum >= rank:
                est = lo
                break
        want[pct] = est
    assert got == want


# --- r13 extension: the last two closed-form monitors (grouped_trend,
# grouped_corr). Their documented contract is exact-LONG sufficient
# statistics with a FIXED final IEEE op order, so the properties pin (a)
# bit-equality to a python replay of that exact op order — the
# reproducibility claim — and (b) proximity to the exact rational value
# at adversarial magnitudes (longs past 2^53, where the final double
# casts round) — the accuracy claim the fixed order is supposed to buy.

_TREND_VAL = st.one_of(
    st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
    st.sampled_from([8.2, -8.2, 0.07, 1e12, -1e12, 9.9e13, 0.0]),
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 40), _TREND_VAL),
        min_size=1,
        max_size=12,
    ),
)
def test_grouped_trend_matches_ieee_replay_and_exact_rational(spark, rows):
    import math
    from datetime import date, timedelta
    from fractions import Fraction

    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    unit = 100
    df = spark.createDataFrame(
        [(g, date(2024, 1, 1) + timedelta(days=d), v) for g, d, v in rows],
        "g long, ts date, value double",
    )
    got = {
        r.g: (r.n_days, r.slope, r.intercept)
        for r in analytics.grouped_trend(df, "value", "ts", ["g"], unit=unit).collect()
    }
    by_g: dict = {}
    for g, d, v in rows:
        # the fixed-point conversion is DEFINED as floor(double(v)*unit):
        # python replays the identical IEEE multiply (8.2*100 -> 819)
        by_g.setdefault(g, {}).setdefault(d, 0)
        by_g[g][d] += math.floor(v * unit)
    for g, daily in by_g.items():
        d0 = min(daily)
        pts = [(d - d0, y) for d, y in daily.items()]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        n_days, slope, intercept = got[g]
        assert n_days == n
        if den == 0:
            assert slope is None and intercept is None
            continue
        # (a) bit-equal to the documented op order
        slope_ieee = float(num) / float(den)
        intercept_ieee = (float(sy) - slope_ieee * float(sx)) / float(n)
        assert slope == slope_ieee and intercept == intercept_ieee, (g, num, den)
        # (b) slope within 3 ulp of the exact rational even when num/den
        # round at the double cast (|num| can exceed 2^53 here)
        exact = Fraction(num, den)
        assert abs(Fraction(slope) - exact) <= abs(exact) * Fraction(1, 2**50) or (
            exact == 0 and slope == 0.0
        ), (g, num, den)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), _TREND_VAL),
        min_size=2,
        max_size=14,
    ),
)
def test_grouped_corr_matches_ieee_replay_and_exact_value(spark, rows):
    import math
    from datetime import date, timedelta
    from decimal import Decimal, getcontext

    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    unit = 100
    df = spark.createDataFrame(
        [(g, date(2024, 1, 1) + timedelta(days=d), v) for g, d, v in rows],
        "g long, ts date, value double",
    )
    out = analytics.grouped_corr(df, "value", "ts", "g", unit=unit).collect()
    got = {(r.g_a, r.g_b): (r.n_days, r.corr) for r in out}
    daily: dict = {}
    for g, d, v in rows:
        daily.setdefault(g, {}).setdefault(d, 0)
        daily[g][d] += math.floor(v * unit)
    groups = sorted(daily)
    getcontext().prec = 60
    for i, ga in enumerate(groups):
        for gb in groups[i + 1:]:
            days = sorted(set(daily[ga]) & set(daily[gb]))
            if not days:
                assert (ga, gb) not in got
                continue
            xs = [daily[ga][d] for d in days]
            ys = [daily[gb][d] for d in days]
            n = len(days)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
            num = n * sxy - sx * sy
            den_x, den_y = n * sxx - sx * sx, n * syy - sy * sy
            n_days, corr = got[(ga, gb)]
            assert n_days == n
            if den_x <= 0 or den_y <= 0:
                assert corr is None
                continue
            # (a) bit-equal to the documented op order (two sqrts, one div)
            ieee = float(num) / (math.sqrt(float(den_x)) * math.sqrt(float(den_y)))
            assert corr == ieee, (ga, gb, num, den_x, den_y)
            # (b) within 1e-9 of the exact value via 60-digit decimal
            exact = Decimal(num) / (Decimal(den_x) * Decimal(den_y)).sqrt()
            assert abs(Decimal(corr) - exact) <= Decimal("1e-9") * max(
                abs(exact), Decimal(1)
            ), (ga, gb, num, den_x, den_y)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=5),
    st.sampled_from([0.0, 0.25, 0.5, 0.7, 1.0, 2.0]),
    st.one_of(st.none(), st.integers(min_value=1, max_value=10_000)),
)
def test_temperature_weights_invariants(spark, counts, alpha, target):
    """temperature_weights' α-power shares aren't rational, so instead of
    an exact replay the property pins the operator's CONTRACT: (1) the
    expected mixed-corpus size Σ w_s·n_s equals target_total (the whole
    point of the T/n_s conversion), (2) per-source expected contributions
    order like n_s^α — heads stay heads, α=0 equalizes outright, α=1 is
    pure re-balancing with every weight 1."""
    from reddit_twitter_big_data_pipeline_spark.operators import sampling

    rows = [(f"s{i}",) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "source string")
    w = sampling.temperature_weights(df, alpha=alpha, target_total=target)
    n = {f"s{i}": c for i, c in enumerate(counts)}
    t = float(target) if target is not None else float(sum(counts))
    assert set(w) == set(n)
    # (1) expected mixed size == target (9-decimal weight rounding only)
    mixed = sum(w[s] * n[s] for s in w)
    assert abs(mixed - t) <= 1e-6 * max(t, 1.0), (w, counts, alpha, target)
    # (2) contributions order like n^alpha
    contrib = {s: w[s] * n[s] for s in w}
    by_n = sorted(w, key=lambda s: n[s])
    for a, b in zip(by_n, by_n[1:]):
        if alpha == 0.0 or n[a] == n[b]:
            assert abs(contrib[a] - contrib[b]) <= 1e-6 * max(t, 1.0)
        else:
            assert contrib[a] <= contrib[b] + 1e-6 * max(t, 1.0)
    if alpha == 1.0 and target is None:
        assert all(v == 1.0 for v in w.values())


# claim_keyword's marker words, each letter upper- or lower-case at random
_MARKER = st.sampled_from(enrich._CLAIM_WORDS).flatmap(
    lambda w: st.lists(st.booleans(), min_size=len(w), max_size=len(w)).map(
        lambda up: "".join(c.upper() if u else c for c, u in zip(w, up))
    )
)
_POST = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.one_of(st.text(max_size=12), _MARKER), max_size=6).map("".join),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_POST, min_size=1, max_size=16))
@example([
    None, "", "Привет, мир: 40 ПРОЦЕНТОВ", "😀🔥 KILL count 💀", "İstanbul offİcial İ",
    "\u212aill the data", "ΟΔΥΣΣΕΥΣ ΣΑΣ report", "x" * 500,
])
def test_enrich_column_forms_equal_pandas_backends(spark, texts):
    """With the default backends `enrich` runs their Column forms; each
    equals its pandas backend exactly (`==` on the doubles), and the
    identity translation leaves the text alone. The plan carries no Arrow
    UDF, so the forms, not the backends, are what is compared."""
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, content STRING")
    out = enrich.enrich(df)
    assert audit.count_operator(out, "ArrowEvalPython") == 0
    got = {r.id: r for r in out.collect()}
    sent = enrich.sentiment_hash(pd.Series(texts, dtype=object))
    claim = enrich.claim_keyword(pd.Series(texts, dtype=object))
    for i, t in enumerate(texts):
        r = got[i]
        assert r.content == t
        assert (r.Positive, r.Negative, r.Neutral, r.Mixed) == tuple(sent.iloc[i]), t
        assert r.claimScore == claim.iloc[i], t
