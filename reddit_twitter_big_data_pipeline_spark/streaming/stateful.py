"""Custom stateful streaming operators — `applyInPandasWithState`.

The built-in windows cover the reference's needs (W2/W3/W6 in streams.py);
this module adds the custom-state shape those can't express: per-key state
that evolves across micro-batches under explicit timeout control. Two
operators a social pipeline actually wants:

- **running_user_stats**: per-user cumulative (n_events, total_value,
  last_seen) maintained across micro-batches, emitted every batch the user
  appears in — the streaming twin of the reference's per-user aggregates,
  without recomputing history each day.
- **burst_detector**: emits one row when a key exceeds `threshold` events
  inside its state window, then resets — the "trending topic" primitive;
  state expires via processing-time timeout so idle keys cost nothing.

State discipline (the 100-TB rules): state rows are a few scalars per key —
never buffered events; every handler iterates Arrow batches (no
per-partition materialization); timeouts bound state size by activity, not
by key cardinality history. GroupStateTimeout.ProcessingTimeTimeout is used
because the reference's cadence is wall-clock cron; an event-time variant
swaps in EventTimeTimeout + a watermark.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from .._serde import register_self

USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen", T.StringType()),
    ]
)

_USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("last", T.StringType()),
    ]
)


def running_user_stats(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts_s",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Cumulative per-user stats across micro-batches. Emits the updated
    running totals for every user present in the batch.

    `idle_timeout_ms` (continuous triggers only): drop state for users idle
    past the horizon, emitting a final row. Leave None under
    Trigger.AvailableNow — a processing-time timeout keeps the engine
    scheduling wake-up batches, so a replay-then-stop run never stops."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.hasTimedOut:
            n, total, last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user], "n_events": [n], "total_value": [total], "last_seen": [last]}
            )
            return
        n, total, last = state.get if state.exists else (0, 0.0, "")
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            batch_last = pdf[ts_col].max()
            last = max(last, batch_last) if last else batch_last
        state.update((n, total, last))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user], "n_events": [n], "total_value": [total], "last_seen": [last]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


BURST_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_in_burst", T.LongType()),
    ]
)

_BURST_STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def burst_detector(
    events: DataFrame,
    key_col: str,
    threshold: int = 100,
    window_ms: int | None = None,
) -> DataFrame:
    """Emit (key, count) whenever a key accumulates ≥ threshold events, then
    reset the counter. State = one long per active key.

    `window_ms` (continuous triggers only): counters of idle keys expire
    after the window (15 min matches the reference's scrape cadence). Leave
    None under Trigger.AvailableNow — see running_user_stats."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if window_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        if n >= threshold:
            # one fire per micro-batch, reporting the full accumulated count
            yield pd.DataFrame({"key": [k], "n_in_burst": [n]})
            n = 0
        state.update((n,))
        if window_ms is not None:
            state.setTimeoutDuration(window_ms)

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=BURST_SCHEMA,
        stateStructType=_BURST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


EWMA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def ewma_smoother(
    events: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.2,
) -> DataFrame:
    """Per-key exponentially-weighted moving average across micro-batches —
    the State API v2 (`transformWithStateInPandas`, Spark 4) twin of this
    module's `applyInPandasWithState` operators. State = ONE double per key
    (the current EWMA), held in a typed ValueState; each batch's rows are
    smoothed in arrival order (id asc within the batch) and emitted with
    their smoothed value.

    Why v2 here: typed state handles (ValueState/ListState/MapState) with
    per-state TTL replace the single tuple of the v1 API — the shape Spark
    is converging on for custom stateful work. Requires the RocksDB state
    store provider (`session.get_spark` leaves the default HDFS-backed
    store; set `spark.sql.streaming.stateStore.providerClass` to
    RocksDBStateStoreProvider to run this operator — the v2 API rejects
    the HDFS store). State stays O(keys), never O(events).

    The v2 workers (driver init worker + executor state-server clients)
    import google.protobuf. Where protobuf isn't installed,
    ``protobuf_compat.enable_for_workers()`` (called before SparkSession
    creation) satisfies the import from the Google Cloud SDK's bundled
    pure-python runtime — with that wired, this operator EXECUTES
    end-to-end in this container (state crosses micro-batch boundaries;
    pinned by tests/test_streaming.py). On a standard Spark 4 deployment
    with protobuf installed it runs as written with no shim.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = T.StructType([T.StructField("ewma", T.DoubleType())])

    class _Ewma(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ewma", state_schema)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            (k,) = key
            cur = self._state.get()[0] if self._state.exists() else None
            # concatenate ALL Arrow chunks before sorting: a large micro-batch
            # arrives as several chunks in partition order, and sorting each
            # chunk individually would apply the order-dependent recursion
            # across chunk boundaries in the wrong sequence
            chunks = list(rows)
            if not chunks:
                yield pd.DataFrame({"key": [], "event_id": [], "value": [], "ewma": []})
                return
            pdf = pd.concat(chunks, ignore_index=True).sort_values(id_col)
            out_id, out_v, out_e = [], [], []
            for i, v in zip(pdf[id_col], pdf[value_col]):
                v = float(v)
                cur = v if cur is None else alpha * v + (1.0 - alpha) * cur
                out_id.append(int(i))
                out_v.append(v)
                out_e.append(cur)
            if cur is not None:
                self._state.update((cur,))
            yield pd.DataFrame(
                {"key": [k] * len(out_id), "event_id": out_id, "value": out_v, "ewma": out_e}
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_Ewma(),
        outputStructType=EWMA_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TOPN_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def topn_tracker(
    events: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    n: int = 3,
) -> DataFrame:
    """Per-key running top-N across micro-batches — the State API v2
    ListState shape (where `ewma_smoother` exercises ValueState): state is
    the CURRENT top-N (value, id) tuples per key, merged with each batch's
    rows — keeping the MAX value per id, so a post whose score is
    re-observed moves on the board instead of occupying two slots — and
    re-truncated, then emitted as ranked rows. The leaderboard primitive
    (top posts per subreddit, top tweets per topic) maintained
    incrementally — history is never re-read. (A score that DECREASES on
    re-observation keeps its old max — ids already truncated off the board
    have no stored value to decrease; document-exact decreasing scores
    need a keyed-state design instead.)

    Ordering is total and deterministic: value desc, id asc on ties.
    State stays O(n) per key regardless of stream length — the bound is
    structural (list truncated every batch), not timeout-based. Same
    runtime requirements as `ewma_smoother` (RocksDB state store;
    protobuf or the protobuf_compat shim for the workers)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = T.StructType(
        [
            T.StructField("value", T.DoubleType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    class _TopN(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getListState("topn", state_schema)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            (k,) = key
            cur = [(float(v), int(i)) for v, i in self._state.get()]
            for pdf in rows:
                for i, v in zip(pdf[id_col], pdf[value_col]):
                    cur.append((float(v), int(i)))
            # an id re-reported with an updated value (a post's score being
            # re-observed) must occupy ONE slot at its max value, not two
            best: dict[int, float] = {}
            for v, i in cur:
                if i not in best or v > best[i]:
                    best[i] = v
            # value desc, id asc — a total order, so re-runs are identical
            cur = sorted(((v, i) for i, v in best.items()), key=lambda t: (-t[0], t[1]))
            cur = cur[:n]
            self._state.put([(v, i) for v, i in cur])
            yield pd.DataFrame(
                {
                    "key": [k] * len(cur),
                    "rank": list(range(1, len(cur) + 1)),
                    "event_id": [i for _, i in cur],
                    "value": [v for v, _ in cur],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_TopN(),
        outputStructType=TOPN_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def dedup_first_seen(
    events: DataFrame,
    id_col: str = "event_id",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming first-seen dedup with a state TTL — the State API v2
    third leg (ValueState **with ttlDurationMs**, where `ewma_smoother`
    is plain ValueState and `topn_tracker` is ListState): admit the first
    row per `id_col` and drop every later duplicate while the key's state
    lives. With `ttl_ms` set, the store expires the key after that
    processing-time horizon and the id re-admits — the processing-time
    twin of `streams.dedupe_stream`'s `dropDuplicatesWithinWatermark`
    (which bounds state by EVENT time instead). The reference's re-scrape
    overlap (the same post re-fetched at T+2/T+3) is exactly this shape.

    State is one tombstone byte per live key, expired by the store itself
    — no timer bookkeeping. The TTL deliberately measures from FIRST
    admission (re-encounters do NOT touch the state — an update would
    extend the horizon and a hot duplicate would then never re-admit).
    Within a batch, the admitted row is deterministic: minimum under a
    sort over all columns. Output schema = input schema.

    TRIGGER CAVEAT: TTL state requires timeMode='ProcessingTime', and in
    that mode Trigger.AvailableNow keeps scheduling no-data batches for
    timer evaluation — it never self-terminates. Run TTL'd operators
    under a continuous processing-time trigger (their production shape)
    and stop explicitly; without `ttl_ms` the operator uses
    timeMode='None' and AvailableNow terminates normally."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    cols = [f.name for f in events.schema.fields]

    class _FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "seen byte", ttl_ms)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            if self._seen.exists():
                return  # duplicate inside the TTL horizon: emit nothing
            chunks = [p for p in rows if len(p)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True).sort_values(by=cols)
            self._seen.update((1,))
            yield pdf.head(1)

        def close(self) -> None:
            pass

    return events.groupBy(id_col).transformWithStateInPandas(
        statefulProcessor=_FirstSeen(),
        outputStructType=events.schema,
        outputMode="Update",
        # TTL state requires the ProcessingTime time mode (the store
        # stamps expirations against batch processing time)
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )


TRANSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("from_event", T.StringType()),
        T.StructField("to_event", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def transition_counts_stream(
    events: DataFrame,
    key_col: str = "user_id",
    event_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key running event-transition counts (the streaming twin of the
    batch `analytics.transition_counts` / `x_transitions` Markov view) —
    the State API v2 MapState shape, completing the typed-state quartet
    (ValueState: ewma; ListState: topn; ValueState+TTL: dedup_first_seen;
    MapState: this). State per key = the last event seen (ValueState,
    carried ACROSS batches so the first row of batch k+1 transitions from
    the last row of batch k) plus a (from, to) → count map; each batch
    emits the transition rows it touched with their new cumulative counts.

    State is O(distinct transition pairs) per key — bounded by the event
    vocabulary squared, not by stream length. Rows order by `order_col`
    within the batch (deterministic recursion, same stance as
    `ewma_smoother`)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Transitions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState("last", "ev string")
            self._counts = handle.getMapState("counts", "f string, t string", "n bigint")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            (k,) = key
            last = self._last.get()[0] if self._last.exists() else None
            chunks = [p for p in rows if len(p)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True).sort_values(order_col)
            touched: dict[tuple[str, str], int] = {}
            for ev in pdf[event_col]:
                ev = str(ev)
                if last is not None:
                    pair = (last, ev)
                    if pair not in touched:
                        got = self._counts.getValue(pair)
                        touched[pair] = int(got[0]) if got is not None else 0
                    touched[pair] += 1
                last = ev
            for pair, n in touched.items():
                self._counts.updateValue(pair, (n,))
            if last is not None:
                self._last.update((last,))
            if not touched:
                return
            yield pd.DataFrame(
                {
                    "key": [str(k)] * len(touched),
                    "from_event": [p[0] for p in touched],
                    "to_event": [p[1] for p in touched],
                    "n": list(touched.values()),
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_Transitions(),
        outputStructType=TRANSITIONS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


IDLE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def idle_session_closer(
    events: DataFrame,
    key_col: str = "user_id",
    idle_ms: int = 30_000,
) -> DataFrame:
    """Inactivity sessionization with State API v2 TIMERS — the last v2
    feature the typed-state quartet doesn't cover: each batch a key
    appears in re-arms a processing-time timer `idle_ms` ahead (the old
    one deleted); when the timer FIRES — i.e. the key stayed idle past
    the gap — `handleExpiredTimer` emits the session summary
    (key, n_events) and clears the state. The push-based twin of
    `streams.sessionize`'s session_window: the window operator emits when
    the WATERMARK passes, this emits on wall-clock inactivity — the shape
    alerting pipelines want ("topic went quiet").

    State per key: two longs (count + armed deadline) and one registered
    timer. Runs in timeMode='ProcessingTime' — continuous trigger only
    (see `dedup_first_seen`'s trigger caveat). Emission TIMING is
    wall-clock-dependent by design; content (key, exact count) is
    deterministic, which is what the test pins. For replayable /
    AvailableNow pipelines use `event_session_closer` below — the
    event-time-timer twin terminates cleanly under AvailableNow and
    reproduces session_window semantics exactly."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Idle(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._n = handle.getValueState("n", "n bigint")
            self._deadline = handle.getValueState("deadline", "t bigint")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            if self._deadline.exists():
                self._h.deleteTimer(self._deadline.get()[0])
            deadline = timerValues.getCurrentProcessingTimeInMs() + idle_ms
            self._h.registerTimer(deadline)
            self._deadline.update((deadline,))
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (k,) = key
            n = self._n.get()[0] if self._n.exists() else 0
            self._n.clear()
            self._deadline.clear()
            yield pd.DataFrame({"key": [str(k)], "n_events": [int(n)]})

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_Idle(),
        outputStructType=IDLE_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


EVENT_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n", T.LongType()),
    ]
)


def event_session_closer(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap sessionization with State API v2 EVENT-TIME timers — the
    event-time twin of `idle_session_closer` (VERDICT r4 item 5), built to
    reproduce `streams.sessionized_counts`' session_window semantics
    exactly: session_end = last event + gap, a session emits when the
    WATERMARK passes its end, and late-but-in-watermark events merge open
    sessions (so one bridging event can fuse two). Because timers key off
    the watermark, Trigger.AvailableNow terminates cleanly — the final
    watermark advance schedules one flush batch and the query ends (no
    processing-time no-data loop; contrast the documented caveat on
    `dedup_first_seen`/`idle_session_closer`).

    State per key: the OPEN sessions as (start_ms, last_ms, n) triples in
    a ListState (bounded by concurrent open sessions, not stream length —
    and almost always length 1, since only watermark-lagging events keep
    more than one open) plus a single armed timer at min(last+gap).
    Emission = closed sessions (key, session_start, session_end, n)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _EventSessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._sess = handle.getListState("sessions", "s bigint, e bigint, n bigint")
            self._armed = handle.getValueState("armed", "t bigint")

        def _merged(self, sessions: list, times: list) -> list:
            """Open sessions ∪ new single-event sessions, gap-merged."""
            allx = sorted(sessions + [(t, t, 1) for t in times])
            out: list = []
            for s, e, n in allx:
                if out and s <= out[-1][1] + gap_ms:
                    ps, pe, pn = out[-1]
                    out[-1] = (ps, max(pe, e), pn + n)
                else:
                    out.append((s, e, n))
            return out

        def _rearm(self, sessions: list) -> None:
            deadline = min(e + gap_ms for _s, e, _n in sessions)
            if self._armed.exists():
                old = self._armed.get()[0]
                if old == deadline:
                    return
                self._h.deleteTimer(old)
            self._h.registerTimer(deadline)
            self._armed.update((deadline,))

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            times: list[int] = []
            for pdf in rows:
                if len(pdf):
                    # normalize to ns first: Arrow may hand back datetime64
                    # at us resolution, and a raw int64 cast would then be
                    # off by 1000x
                    ns = pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]")
                    times.extend((ns.astype("int64") // 1_000_000).tolist())
            if not times:
                return iter([])
            sessions = [tuple(map(int, s)) for s in self._sess.get()]
            sessions = self._merged(sessions, times)
            self._sess.put(sessions)
            self._rearm(sessions)
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (k,) = key
            wm = timerValues.getCurrentWatermarkInMs()
            sessions = [tuple(map(int, s)) for s in self._sess.get()]
            closed = [x for x in sessions if x[1] + gap_ms <= wm]
            kept = [x for x in sessions if x[1] + gap_ms > wm]
            self._armed.clear()
            if kept:
                self._sess.put(kept)
                self._rearm(kept)
            else:
                self._sess.clear()
            if closed:
                yield pd.DataFrame(
                    {
                        "key": [str(k)] * len(closed),
                        "session_start": pd.to_datetime([s for s, _e, _n in closed], unit="ms"),
                        "session_end": pd.to_datetime([e + gap_ms for _s, e, _n in closed], unit="ms"),
                        "n": [n for _s, _e, n in closed],
                    }
                )

        def close(self) -> None:
            pass

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=_EventSessions(),
            outputStructType=EVENT_SESSION_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


register_self(__name__)
