"""Custom stateful streaming operators (SURVEY §2.10 T8 extension).

The reference has no stateful processing beyond built-in windowed
aggregation (`multi_source_streaming_processor.py:205-238`); its
activity model (login/click sessions, `README.md:52-57`) begs for
sessionization, which Spark's built-ins can't express when sessions
must carry arbitrary running state and emit on gap timeout. This is
the `applyInPandasWithState` slow-path escape hatch done right:

* state per user is a handful of scalars (epoch-micros bounds, a
  count, a sum) — tiny, spill-proof, shuffled once on the group key;
* batches arrive Arrow-vectorized; the per-group work is O(events in
  batch) numpy/pandas, no row-at-a-time Python in the hot loop;
* event-time timeout closes idle sessions exactly when the watermark
  passes `last_event + gap`, so late events inside the watermark
  still extend their session.

At 100 TB the only shuffle is the hash partition on `user_col`; the
state store holds one small row per live user, and timeouts bound its
size (the reference's unbounded-state bug T3 does not recur here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# open-session state: bounds as epoch micros + running aggregates
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization with running aggregates.

    Emits one row per CLOSED session (append semantics): a session
    closes when a same-user event arrives more than ``gap`` after the
    previous one (intra- or inter-batch), or when the watermark passes
    ``last_event + gap`` (event-time timeout). Sessions still open at
    stream end are never emitted — correct append-mode behavior.
    """
    gap_us = _duration_us(gap)

    def fn(key, pdf_iter, state):
        # Self-contained closure: helpers defined inside so the
        # function pickles by value (workers may not have this
        # package importable when the driver cwd moves).
        import numpy as np
        import pandas as pd

        user = key[0]

        def emit(start_us, last_us, n, total):
            return pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [float(total)],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield emit(start_us, last_us, n, total)
            return

        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us = None

        # Vectorized gaps-and-islands per chunk (optimization guide
        # §4.2 — the old per-event loop emitted one SINGLE-ROW pandas
        # frame per closed session; measured at sf0.1 that was 27.3 s
        # of pandas-constructor overhead vs 1.7 s for this form, same
        # 67 622 sessions). Bit-exactness contract: a fresh segment's
        # total is ``sum(list_of_floats)`` — the identical left fold
        # ``((0+v1)+v2)+...`` the old per-event ``+=`` performed (0+v1
        # is exact) — and a segment CONTINUING carried-in state folds
        # event-by-event below, because ``(total+v1)+v2`` is not
        # ``total+(v1+v2)`` in IEEE-754.
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col)
            # normalize to micros regardless of pandas datetime unit
            ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
            vals = pdf[value_col].fillna(0.0).to_list()
            brk = np.flatnonzero(np.diff(ts_us) > gap_us) + 1
            seg_start = np.concatenate(([0], brk))
            seg_end = np.concatenate((brk, [len(ts_us)]))
            first = 0
            if start_us is not None:
                if int(ts_us[0]) - last_us > gap_us:
                    # carried session closes before this chunk
                    yield emit(start_us, last_us, n, total)
                else:
                    # first segment continues the carried session:
                    # replicate the sequential per-event fold exactly
                    i, j = int(seg_start[0]), int(seg_end[0])
                    for t, v in zip(ts_us[i:j], vals[i:j]):
                        last_us = max(last_us, int(t))
                        n += 1
                        total += float(v)
                    if len(seg_start) == 1:
                        continue
                    yield emit(start_us, last_us, n, total)
                    first = 1
            k = len(seg_start) - 1  # closed (non-final) fresh segments
            if k > first:
                s_idx = seg_start[first:k]
                e_idx = seg_end[first:k]
                yield pd.DataFrame(
                    {
                        "user_id": np.full(k - first, user),
                        "session_start": pd.Series(
                            ts_us[s_idx], dtype="datetime64[us]"
                        ),
                        "session_end": pd.Series(
                            ts_us[e_idx - 1], dtype="datetime64[us]"
                        ),
                        "n_events": (e_idx - s_idx).astype("int64"),
                        "total_value": [
                            float(sum(vals[i:j]))
                            for i, j in zip(s_idx, e_idx)
                        ],
                    }
                )
            # final segment stays open in state
            i, j = int(seg_start[-1]), int(seg_end[-1])
            start_us = int(ts_us[i])
            last_us = int(ts_us[j - 1])
            n = j - i
            total = float(sum(vals[i:j]))

        if start_us is not None:
            state.update((start_us, last_us, n, total))
            # fire when the watermark passes the session's gap horizon
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_us(spec: str) -> int:
    """'30 minutes' → microseconds (no Spark session needed)."""
    qty, unit = spec.split()
    mult = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }[unit]
    return int(qty) * mult


def sessionize_batch_oracle(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
) -> DataFrame:
    """Batch twin of :func:`sessionize` as pure DataFrame ops.

    Classic gap-and-island: lag over (user, ts) marks session starts,
    a running sum numbers the islands, then one groupBy aggregates.
    Two shuffles max (window + agg share the user partitioning; AQE
    reuses the exchange). Used to cross-check the stateful operator
    and exported as the SQL-expressible registry entry.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = _duration_us(gap) // 1_000_000
    # NTZ-safe epoch seconds: TIMESTAMP_NTZ has no direct long cast in
    # Spark 4; session tz is pinned UTC so the hop is lossless
    ts_s = F.col(ts_col).cast("timestamp").cast("long")
    marked = events.withColumn(
        "_new_session",
        (ts_s - F.lag(ts_s).over(w) > gap_s).cast("int"),
    ).withColumn(
        "_session_no",
        F.sum(F.coalesce(F.col("_new_session"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return marked.groupBy(
        F.col(user_col).alias("user_id"), F.col("_session_no")
    ).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), 4).alias("total_value"),
    ).drop("_session_no")


DEBOUNCE_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("suppressed_since_last", LongType()),
    ]
)

_DEBOUNCE_STATE = StructType(
    [
        StructField("last_emit_us", LongType()),
        StructField("suppressed", LongType()),
    ]
)


def debounce(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    cooldown: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-key debounce / rate limit: emit the first event of each
    key, then suppress further events until ``cooldown`` has elapsed
    in EVENT time; each emitted row carries how many events it
    absorbed. The alerting/dedup-burst primitive (one alert per
    incident, not one per symptom) that plain ``dropDuplicates``
    cannot express — suppression depends on the last EMITTED
    timestamp, not key equality.

    Same scale contract as :func:`sessionize`: one shuffle on the
    key, two-scalar state per live key, state expired by event-time
    timeout once the watermark passes the cooldown horizon.
    """
    cd_us = _duration_us(cooldown)

    def fn(key, pdf_iter, state):
        import pandas as pd

        k = key[0]

        if state.hasTimedOut:
            state.remove()
            return

        if state.exists:
            last_emit_us, suppressed = state.get
        else:
            last_emit_us, suppressed = None, 0

        out_ts, out_val, out_sup = [], [], []
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col)
            ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
            vals = pdf[value_col].fillna(0.0).to_numpy()
            for t, v in zip(ts_us, vals):
                if last_emit_us is None or t - last_emit_us >= cd_us:
                    out_ts.append(int(t))
                    out_val.append(float(v))
                    out_sup.append(int(suppressed))
                    last_emit_us, suppressed = int(t), 0
                else:
                    suppressed += 1

        if last_emit_us is not None:
            state.update((last_emit_us, suppressed))
            state.setTimeoutTimestamp((last_emit_us + cd_us) // 1000)
        if out_ts:
            # one vectorized epoch-us -> datetime column instead of a
            # per-row pd.Timestamp constructor (guide §4.2; emissions
            # are per-event-dense when keys are sparse vs the cooldown)
            yield pd.DataFrame(
                {
                    "key": [k] * len(out_ts),
                    "ts": pd.Series(out_ts, dtype="datetime64[us]"),
                    "value": out_val,
                    "suppressed_since_last": out_sup,
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=DEBOUNCE_SCHEMA,
            stateStructType=_DEBOUNCE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def debounce_batch(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    cooldown: str = "5 minutes",
) -> DataFrame:
    """Batch twin of :func:`debounce` for backfills — identical
    semantics over bounded data (kappa parity: one definition of
    "debounced", two execution modes). The recurrence depends on the
    last EMITTED timestamp, which no window function expresses, so
    this is a grouped ``applyInPandas`` scan: one shuffle on the key,
    per-group sequential pass in Arrow batches."""
    cd_us = _duration_us(cooldown)

    def fn(pdf):
        import pandas as pd

        pdf = pdf.sort_values(ts_col)
        ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        vals = pdf[value_col].fillna(0.0).to_numpy()
        keys = pdf[key_col].to_numpy()
        out_k, out_ts, out_val, out_sup = [], [], [], []
        last_emit, suppressed = None, 0
        for k, t, v in zip(keys, ts_us, vals):
            if last_emit is None or t - last_emit >= cd_us:
                out_k.append(int(k))
                out_ts.append(pd.Timestamp(int(t), unit="us"))
                out_val.append(float(v))
                out_sup.append(int(suppressed))
                last_emit, suppressed = int(t), 0
            else:
                suppressed += 1
        return pd.DataFrame(
            {
                "key": out_k,
                "ts": out_ts,
                "value": out_val,
                "suppressed_since_last": out_sup,
            }
        )

    return events.groupBy(key_col).applyInPandas(fn, DEBOUNCE_SCHEMA)


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def running_totals(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key lifetime running aggregate via ``transformWithStateInPandas``
    (Spark 4 arbitrary-state API, RocksDB state store).

    Emits one row per key per micro-batch carrying the lifetime
    (count, sum) so far — the "materialized running aggregate" shape a
    CDC consumer serves to dashboards. Differences from the older
    ``applyInPandasWithState`` path used by :func:`sessionize`:
    typed per-key ``ValueState`` with schema, explicit processor
    lifecycle (init/handleInputRows/close), and a changelog-backed
    RocksDB store whose size is O(live keys), not O(events).

    Requires ``spark.sql.streaming.stateStore.providerClass`` =
    RocksDBStateStoreProvider (transformWithState does not run on the
    HDFS-backed default store) and the ``protobuf`` package (the
    transformWithState state-server protocol is protobuf-framed; the
    older :func:`sessionize`/:func:`debounce` path has no such
    dependency and covers the same stateful ground where protobuf is
    unavailable).
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # gate, don't crash mid-query
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package; "
            "use streaming.stateful.sessionize/debounce "
            "(applyInPandasWithState) on environments without it"
        ) from exc

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class _RunningTotals(StatefulProcessor):
        # defined inside the wrapper so cloudpickle serializes it by
        # value — survives drivers whose cwd is not the repo root
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            prior = self._state.get()
            n, total = (prior[0], prior[1]) if prior is not None else (0, 0.0)
            for pdf in rows:
                n += int(len(pdf))
                total += float(pdf["_v"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    keyed = events.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(value_col).cast("double").alias("_v"),
    )
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_value", DoubleType()),
    ]
)

_EWMA_STATE = StructType(
    [StructField("n", LongType()), StructField("ewma", DoubleType())]
)


def ewma_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key lifetime EWMA carried across micro-batches — the
    streaming twin of the batch ``ewma_user_value`` fold (registry):
    same recurrence ``ewma := ewma*(1-a) + value*a``, same (ts, id)
    ordering, so when every event for a key arrives in event-time
    order the final emission is bit-identical to the batch fold.

    Emits one row per key per batch (update semantics) with the
    lifetime event count and current EWMA. State is two scalars per
    key (O(live keys), no timeout — a lifetime metric, like
    :func:`running_totals`, not a windowed one); the only shuffle is
    the hash partition on the key. Events are sorted within each
    batch, so intra-batch disorder self-heals; cross-batch disorder
    is the source's ordering contract (Kafka: per-key partition
    ordering).
    """
    a = float(alpha)

    def fn(key, pdf_iter, state):
        import pandas as pd

        user = key[0]
        if state.exists:
            n, ewma = state.get
        else:
            n, ewma = 0, None

        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        if frames:
            pdf = pd.concat(frames).sort_values([ts_col, id_col])
            for v in pdf[value_col].to_numpy():
                v = float(v)
                ewma = v if ewma is None else ewma * (1.0 - a) + v * a
                n += 1

        if n:
            state.update((n, float(ewma)))
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "n_events": [n],
                    "ewma_value": [float(ewma)],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOMALY_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("expected", DoubleType()),
        StructField("deviation_sigmas", DoubleType()),
    ]
)

_ANOMALY_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("ewma", DoubleType()),
        StructField("ewmvar", DoubleType()),
    ]
)


def anomaly_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.1,
    z: float = 4.0,
    min_obs: int = 5,
) -> DataFrame:
    """Streaming anomaly detection: per-key EWMA + exponentially-
    weighted variance (West's recurrence), emitting an alert row when
    an event deviates more than ``z`` EW standard deviations from the
    key's expected value — after a ``min_obs`` warm-up so the first
    events of a key never alert off an unsettled baseline.

    The monitoring twin of :func:`ewma_stream`: same (ts, id)
    in-batch ordering, same two-scalar-ish state (count, mean,
    variance) carried across micro-batches, append-mode output that
    contains ONLY alerts — the alerting pattern the reference's
    console-sink monitoring gestures at, with state instead of
    eyeballs. Chain :func:`debounce` downstream for one alert per
    incident. State is O(live keys); the only shuffle is the key
    hash partition.
    """
    a, zz, warm = float(alpha), float(z), int(min_obs)

    def fn(key, pdf_iter, state):
        import math

        import pandas as pd

        user = key[0]
        if state.exists:
            n, ewma, ewmvar = state.get
        else:
            n, ewma, ewmvar = 0, 0.0, 0.0

        out_ts, out_v, out_exp, out_dev = [], [], [], []
        frames = [p for p in pdf_iter if not p.empty]
        if frames:
            pdf = pd.concat(frames).sort_values([ts_col, id_col])
            ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
            vals = pdf[value_col].fillna(0.0).to_numpy()
            for t, v in zip(ts_us, vals):
                v = float(v)
                if n == 0:
                    ewma, ewmvar = v, 0.0
                else:
                    sd = math.sqrt(max(ewmvar, 0.0))
                    if n >= warm and sd > 0.0 and abs(v - ewma) > zz * sd:
                        out_ts.append(int(t))
                        out_v.append(v)
                        out_exp.append(ewma)
                        out_dev.append(abs(v - ewma) / sd)
                    d = v - ewma
                    incr = a * d
                    ewma += incr
                    ewmvar = (1.0 - a) * (ewmvar + d * incr)
                n += 1

        state.update((n, float(ewma), float(ewmvar)))
        if out_ts:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(out_ts),
                    "ts": pd.Series(out_ts, dtype="datetime64[us]"),
                    "value": out_v,
                    "expected": out_exp,
                    "deviation_sigmas": out_dev,
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=ANOMALY_SCHEMA,
        stateStructType=_ANOMALY_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RATE_LIMIT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("accepted", LongType()),
        StructField("rejected", LongType()),
    ]
)

_RATE_LIMIT_STATE = StructType(
    [
        StructField("balance_us", LongType()),
        StructField("prev_us", LongType()),
        StructField("accepted", LongType()),
        StructField("rejected", LongType()),
    ]
)


def rate_limit_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    capacity_tokens: int = 5,
    token_us: int = 60_000_000,
) -> DataFrame:
    """Per-key token-bucket rate limiter carried across micro-batches
    — the streaming twin of the batch ``rate_limiter_token_bucket``
    fold (plans/families/relational/timeseries.py): identical integer arithmetic
    (balance in microseconds of token credit, refill = elapsed event
    time, spend = ``token_us``), identical (ts, id) ordering, so an
    availableNow run's final per-key emission is bit-identical to
    the batch fold. State is four integers per key; update-mode
    emissions carry running accepted/rejected counts — the live
    throttling decision a gateway would enforce, not just audit.
    """
    cap = int(capacity_tokens) * int(token_us)

    def fn(key, pdf_iter, state):
        import pandas as pd

        user = key[0]
        if state.exists:
            bal, prev, acc, rej = state.get
        else:
            bal, prev, acc, rej = None, None, 0, 0

        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        if frames:
            pdf = pd.concat(frames).sort_values([ts_col, id_col])
            us = (
                pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
            )
            for t in us:
                t = int(t)
                if bal is None:
                    bal, prev = cap, t
                bal = min(bal + (t - prev), cap)
                if bal >= token_us:
                    bal -= token_us
                    acc += 1
                else:
                    rej += 1
                prev = t

        if acc + rej:
            state.update((int(bal), int(prev), int(acc), int(rej)))
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "n_events": [acc + rej],
                    "accepted": [acc],
                    "rejected": [rej],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=RATE_LIMIT_SCHEMA,
        stateStructType=_RATE_LIMIT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_funnel_events", LongType()),
        StructField("max_stage", LongType()),
    ]
)

_FUNNEL_STATE = StructType(
    [
        StructField("stage", LongType()),
        StructField("start_us", LongType()),
        StructField("best", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def window_funnel_stream(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    stages: tuple = ("view", "click", "purchase"),
    window_us: int = 24 * 3600 * 1_000_000,
) -> DataFrame:
    """Per-key windowFunnel carried across micro-batches — the
    streaming twin of the batch ``window_funnel_users`` fold
    (plans/families/relational/timeseries.py): identical [stage, start, best] integer
    recurrence (restart on stage-1, advance on the exact next stage
    inside the window), identical (ts, id) ordering, so an
    availableNow run's final per-key emission is bit-identical to
    the batch fold. Update-mode emissions carry the running best
    depth — the live 'how deep is this user in the funnel right
    now' signal a personalization service consumes.
    """
    code = {t: i + 1 for i, t in enumerate(stages)}

    def fn(key, pdf_iter, state):
        import pandas as pd

        user = key[0]
        if state.exists:
            stage, start, best, n_seen = state.get
        else:
            stage, start, best, n_seen = 0, 0, 0, 0

        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        if frames:
            pdf = pd.concat(frames)
            pdf = pdf[pdf[type_col].isin(list(code))]
            if not pdf.empty:
                pdf = pdf.sort_values([ts_col, id_col])
                us = (
                    pdf[ts_col]
                    .astype("datetime64[us]")
                    .astype("int64")
                    .to_numpy()
                )
                codes = pdf[type_col].map(code).to_numpy()
                for t, s in zip(us, codes):
                    t, s = int(t), int(s)
                    if s == 1:
                        stage, start = 1, t
                    elif (
                        s == stage + 1
                        and stage >= 1
                        and t - start <= window_us
                    ):
                        stage += 1
                    best = max(best, stage)
                    n_seen += 1

        if n_seen:
            state.update((int(stage), int(start), int(best), int(n_seen)))
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "n_funnel_events": [n_seen],
                    "max_stage": [best],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
