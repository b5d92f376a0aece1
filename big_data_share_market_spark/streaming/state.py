"""Custom stateful operator: bounded last-N-per-key buffer
(SURVEY §2.G6/D4) — the reference's per-symbol 20-record FIFO
(`streamlit_app/provider.py:20-22,107-113`) as an
`applyInPandasWithState` operator.

The state per key is the buffer itself (ts-micros, event_id, value
arrays), updated incrementally per micro-batch and re-emitted in
update mode — exactly the consumer thread's evict-at-N behavior, but
partition-parallel and fault-tolerant (state checkpointed by Spark).

Scale notes: state size is O(n_keys × N) — tiny. The shuffle is one
hash partitioning on the key, the same as any grouped agg.

The other operators here keep one state row per key, except
`atr_per_key`: its state is one row per hash bucket of keys
(`_ATR_BUCKETS`, a fixed constant so a restart under another shuffle
width finds every key's state), holding per-key arrays, so a
micro-batch makes one Python call per bucket instead of one per key.
A batch rewrites the arrays of every bucket it touches: its state
write grows with the keys in those buckets, not with the keys that
ticked — trivial at the reference's 3 symbols and the fixture's 1 500
keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Output: the buffered rows, ranked 1 = newest (matches the batch
#: form operators/keyed.q_latest_n_per_key for oracle parity).
OUTPUT_DDL = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE, rn INT"
#: State: parallel arrays of the buffer (timestamps as int64 micros —
#: state schemas cannot hold TimestampType payloads portably).
STATE_DDL = "ts_us ARRAY<BIGINT>, event_id ARRAY<BIGINT>, value ARRAY<DOUBLE>"

_N_DEFAULT = 20


def _last_n_fn(n: int):
    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            ts_us, event_id, value = state.get
            buf = pd.DataFrame({"ts_us": list(ts_us),
                                "event_id": list(event_id),
                                "value": list(value)})
        else:
            buf = pd.DataFrame(columns=["ts_us", "event_id", "value"])

        for pdf in pdf_iter:
            newer = pd.DataFrame({
                "ts_us": pdf["ts"].astype("datetime64[us]").astype("int64"),
                "event_id": pdf["event_id"],
                "value": pdf["value"],
            })
            buf = pd.concat([buf, newer], ignore_index=True)

        # Keep the N newest by (ts, event_id) — deterministic tiebreak,
        # same order as the batch window rank.
        buf = (buf.sort_values(["ts_us", "event_id"],
                               ascending=[False, False])
               .head(n).reset_index(drop=True))
        state.update((buf["ts_us"].tolist(),
                      buf["event_id"].tolist(),
                      buf["value"].tolist()))

        out = pd.DataFrame({
            "user_id": user_id,
            "event_id": buf["event_id"].astype("int64"),
            "ts": pd.to_datetime(buf["ts_us"], unit="us"),
            "value": buf["value"].astype("float64"),
            "rn": range(1, len(buf) + 1),
        })
        yield out

    return fn


def last_n_per_key(sdf: DataFrame, n: int = _N_DEFAULT) -> DataFrame:
    """Streaming bounded buffer: latest `n` events per user_id."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _last_n_fn(n),
            outputStructType=OUTPUT_DDL,
            stateStructType=STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming EMA: the reference's live indicator loop as keyed state
# ---------------------------------------------------------------------------

#: Output mirrors the batch EMA (operators/ewm.q_ema) for oracle parity.
EMA_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                  "close DOUBLE, ema_5 DOUBLE, ema_15 DOUBLE")
#: State: one (accumulator, started) pair per span.
EMA_STATE_DDL = "acc ARRAY<DOUBLE>, started ARRAY<BOOLEAN>"


def _ema_fn(alphas: list[float]):
    """Per-key seeded continuation of the adjust=False ewm recurrence
    (`acc := acc + alpha*(x - acc)`, NULL inputs carry the
    accumulator) — the same IEEE op order as the batch kernel
    `operators/ewm.ewm_mean`, so stream output is bit-identical to the
    batch result when events arrive in order. The reference computes
    this eagerly per dashboard refresh (`streamlit_app/
    streamlit_app.py:165-166,346-347`); here the state lives in the
    checkpoint, updated once per event."""
    import math

    import numpy as np

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            accs_t, started_t = state.get
            accs, started = list(accs_t), list(started_t)
        else:
            accs = [math.nan] * len(alphas)
            started = [False] * len(alphas)
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((accs, started))
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        vals = pdf["value"].to_numpy(dtype="float64")
        out_cols = []
        for j, alpha in enumerate(alphas):
            acc, on = accs[j], started[j]
            col = np.empty(len(vals), dtype="float64")
            for i, x in enumerate(vals):
                if math.isnan(x):
                    col[i] = acc if on else math.nan
                    continue
                if not on:
                    acc, on = float(x), True
                else:
                    acc = acc + alpha * (float(x) - acc)
                col[i] = acc
            accs[j], started[j] = acc, on
            out_cols.append(col)
        state.update((accs, started))
        yield pd.DataFrame({
            "user_id": user_id,
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "ema_5": out_cols[0],
            "ema_15": out_cols[1],
        })

    return fn


def ema_per_key(sdf: DataFrame,
                alphas: tuple[float, float] = (2.0 / 6.0, 2.0 / 16.0)) -> DataFrame:
    """Streaming EMA(5)/EMA(15) per user_id with checkpointed
    accumulator state. One hash shuffle on the key per micro-batch;
    state is O(n_keys x 2 doubles) — negligible at any key count."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ema_fn(list(alphas)),
            outputStructType=EMA_OUTPUT_DDL,
            stateStructType=EMA_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ATR_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                  "close DOUBLE, tr DOUBLE, atr_14 DOUBLE")
#: State: one row per hash bucket, parallel arrays over the bucket's keys.
ATR_STATE_DDL = ("user_id ARRAY<BIGINT>, prev ARRAY<DOUBLE>, "
                 "acc ARRAY<DOUBLE>, started ARRAY<BOOLEAN>")

#: Hash buckets the ATR state is grouped into. A literal, never derived
#: from the session: Spark pins a stateful query's shuffle width in its
#: checkpoint, but this expression is read when the DataFrame is built,
#: so a width-derived count would move keys away from their state when
#: a query restarts in a session of another width. Changing it orphans
#: the state of existing checkpoints.
_ATR_BUCKETS = 32


def _atr_fn(alpha: float):
    """Checkpointed Wilder ATR over tick ranges: tr = |x - prev x|
    (NULL on each key's first tick, exactly `abs(value - lag(value))`),
    smoothed by the shared NULL-skipping ewm recurrence — same op
    order as operators/channels.q_atr_wilder's kernel, so the streamed
    trajectory is bit-identical to the batch closed form.

    Called once per hash bucket: the bucket's rows are sorted once by
    (user_id, ts, event_id) and each key's run continues that key's
    (prev, acc, started) from the bucket's state arrays — per key the
    same rows in the same order as a call per key would see."""
    import math

    import numpy as np

    def fn(key: tuple, pdf_iter, state: GroupState):
        carry = {}
        if state.exists:
            for u, p, a, s in zip(*state.get):
                carry[u] = (math.nan if p is None else p, a, s)
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["user_id", "ts", "event_id"])
               .reset_index(drop=True))
        uids = pdf["user_id"]
        vals = pdf["value"].to_numpy(dtype="float64")
        xs = vals.tolist()  # Python floats: same IEEE ops, faster loop
        out_tr = np.empty(len(vals), dtype="float64")
        out_atr = np.empty(len(vals), dtype="float64")
        starts = np.flatnonzero(~uids.duplicated().to_numpy())
        ends = np.append(starts[1:], len(vals))
        for lo, hi in zip(starts.tolist(), ends.tolist()):
            u = uids.iat[lo]
            u = None if pd.isna(u) else int(u)
            prev, acc, started = carry.get(u, (math.nan, math.nan, False))
            for i in range(lo, hi):
                x = xs[i]
                tr = abs(x - prev)  # nan if either side nan, like lag()
                prev = x
                out_tr[i] = tr
                if math.isnan(tr):
                    out_atr[i] = acc if started else math.nan
                elif not started:
                    acc, started = tr, True
                    out_atr[i] = acc
                else:
                    acc = acc + alpha * (tr - acc)
                    out_atr[i] = acc
            carry[u] = (prev, acc, started)
        prevs, accs, starteds = zip(*carry.values())
        state.update((list(carry), list(prevs), list(accs), list(starteds)))
        yield pd.DataFrame({
            "user_id": uids,
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "tr": out_tr,
            "atr_14": out_atr,
        })

    return fn


def atr_per_key(sdf: DataFrame, alpha: float = 1.0 / 14.0) -> DataFrame:
    """Streaming Wilder ATR(14) per user_id — live volatility per
    symbol, one `applyInPandasWithState` call per hash bucket of keys
    (`pmod(xxhash64(user_id), _ATR_BUCKETS)`) rather than per key: a
    micro-batch over 1 500 keys makes at most 32 Python calls.

    State is one row per bucket: the user_id, prev, acc and started
    arrays of every key the bucket has seen. A batch rewrites the
    arrays of each bucket it touches, so the state written per batch
    grows with the keys in those buckets, not with the keys that
    ticked — trivial at the reference's 3 symbols or the fixture's
    1 500 keys. The bucket count is a fixed constant so that a restart
    under another shuffle width finds every key's state. One hash
    shuffle on the bucket per micro-batch."""
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(_ATR_BUCKETS))
    return (
        sdf.select("user_id", "event_id", "ts", "value",
                   bucket.alias("bucket"))
        .groupBy("bucket")
        .applyInPandasWithState(
            _atr_fn(alpha),
            outputStructType=ATR_OUTPUT_DDL,
            stateStructType=ATR_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SUPERTREND_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                         "close DOUBLE, supertrend DOUBLE, trend INT")
SUPERTREND_STATE_DDL = ("atr DOUBLE, fub DOUBLE, flb DOUBLE, trend INT, "
                        "prev_close DOUBLE, started BOOLEAN")


def _supertrend_fn(alpha: float, mult: float):
    """Checkpointed tick-level supertrend: with high = low = close,
    true range reduces to |close − prev close| and the first tick
    seeds atr = 0 (bands collapse onto the price, trend −1) — the
    same recurrence order as the batch bar kernel
    (operators/channels.q_supertrend), so replay is bit-identical to
    the recursive-CTE oracle."""
    import math

    import numpy as np

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            atr, fub, flb, trend, pc, started = state.get
        else:
            atr, fub, flb, trend, pc, started = (
                math.nan, math.nan, math.nan, 0, math.nan, False)
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((atr, fub, flb, trend, pc, started))
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        vals = pdf["value"].to_numpy(dtype="float64")
        out_st = np.empty(len(vals), dtype="float64")
        out_tr = np.empty(len(vals), dtype="int32")
        for i, cl in enumerate(vals):
            if not started:
                atr, fub, flb, trend, started = 0.0, cl, cl, -1, True
            else:
                tr = abs(cl - pc)
                atr = atr + alpha * (tr - atr)
                bub = cl + mult * atr
                blb = cl - mult * atr
                fub = bub if (bub < fub or pc > fub) else fub
                flb = blb if (blb > flb or pc < flb) else flb
                if trend == -1 and cl > fub:
                    trend = 1
                elif trend == 1 and cl < flb:
                    trend = -1
            pc = cl
            out_st[i] = flb if trend == 1 else fub
            out_tr[i] = trend
        state.update((atr, fub, flb, trend, pc, started))
        yield pd.DataFrame({
            "user_id": user_id,
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "supertrend": out_st,
            "trend": out_tr,
        })

    return fn


def supertrend_per_key(sdf: DataFrame, alpha: float = 1.0 / 10.0,
                       mult: float = 3.0) -> DataFrame:
    """Streaming supertrend(10, 3) per user_id — the live band-ratchet
    state machine; state is O(n_keys × 5 scalars).

    NULL ticks are dropped BEFORE the stateful kernel: a NULL close
    would become NaN inside the recurrence and permanently poison the
    checkpointed (atr, bands) state; the recursive-CTE oracle
    (_stream_supertrend_sql) filters value IS NOT NULL to match, so
    stream and oracle row sets stay identical even on NULL ticks."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _supertrend_fn(alpha, mult),
            outputStructType=SUPERTREND_OUTPUT_DDL,
            stateStructType=SUPERTREND_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )



# ---------------------------------------------------------------------------
# Event-type transition pairs (live Markov-matrix feed)
# ---------------------------------------------------------------------------

TRANSITIONS_OUTPUT_DDL = "user_id BIGINT, from_type STRING, to_type STRING"
TRANSITIONS_STATE_DDL = "last_type STRING"


def _transition_fn():
    """Per-key consecutive (event, next event) pair emitter: the only
    state is the key's LAST event type, carried across micro-batches
    so the pair straddling a batch boundary is emitted exactly once —
    the streaming twin of the batch lead() in
    operators/behavior.q_event_transitions."""

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        last = state.get[0] if state.exists else None
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((last,))
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        frm: list = []
        to: list = []
        for t in pdf["event_type"].tolist():
            if last is not None:
                frm.append(last)
                to.append(t)
            last = t
        state.update((last,))
        if frm:
            yield pd.DataFrame({
                "user_id": user_id,
                "from_type": frm,
                "to_type": to,
            })

    return fn


def transitions_per_key(sdf: DataFrame) -> DataFrame:
    """Streaming per-key transition pair stream; state is ONE string
    per key — the cheapest possible stateful operator."""
    return (
        sdf.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _transition_fn(),
            outputStructType=TRANSITIONS_OUTPUT_DDL,
            stateStructType=TRANSITIONS_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

#: Output mirrors the batch Holt kernel's per-row trajectory
#: (operators/ewm.q_holt_forecast computes the same recurrence).
HOLT_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                   "close DOUBLE, holt_level DOUBLE, holt_trend DOUBLE")
HOLT_STATE_DDL = "lvl DOUBLE, trend DOUBLE, started BOOLEAN"


def _holt_fn(a: float, b_const: float):
    """Checkpointed continuation of the coupled Holt recurrence —
    the same operation order as the batch kernel
    (operators/ewm.q_holt_forecast), so the streamed trajectory is
    bit-identical to the batch fit when events arrive in order."""
    import math

    import numpy as np

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            lvl, trend, started = state.get
        else:
            lvl, trend, started = math.nan, math.nan, False
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((lvl, trend, started))
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        vals = pdf["value"].to_numpy(dtype="float64")
        out_l = np.empty(len(vals), dtype="float64")
        out_b = np.empty(len(vals), dtype="float64")
        for i, y in enumerate(vals):
            if not started:
                lvl, trend, started = float(y), 0.0, True
            else:
                l2 = a * float(y) + (1.0 - a) * (lvl + trend)
                trend = b_const * (l2 - lvl) + (1.0 - b_const) * trend
                lvl = l2
            out_l[i] = lvl
            out_b[i] = trend
        state.update((lvl, trend, started))
        yield pd.DataFrame({
            "user_id": user_id,
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "holt_level": out_l,
            "holt_trend": out_b,
        })

    return fn


#: Output mirrors the batch Kalman kernel's per-row trajectory
#: (operators/ewm.q_kalman_level runs the same recurrence).
KALMAN_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                     "close DOUBLE, kal_level DOUBLE, kal_p DOUBLE, "
                     "kal_gain DOUBLE")
KALMAN_STATE_DDL = "lvl DOUBLE, p DOUBLE, started BOOLEAN"


def _kalman_fn(q_noise: float, r_noise: float):
    """Checkpointed continuation of the coupled Kalman (level,
    variance) recurrence — identical operation order to the batch
    kernel (operators/ewm.q_kalman_level), so the streamed trajectory
    is bit-identical to the batch fit when events arrive in order.
    The first observation of a key has no gain (NaN here; the caller
    normalizes to NULL to match the oracle's first recursive row)."""
    import math

    import numpy as np

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            lvl, p, started = state.get
        else:
            lvl, p, started = math.nan, math.nan, False
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((lvl, p, started))
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        vals = pdf["value"].to_numpy(dtype="float64")
        out_l = np.empty(len(vals), dtype="float64")
        out_p = np.empty(len(vals), dtype="float64")
        out_k = np.empty(len(vals), dtype="float64")
        for i, y in enumerate(vals):
            if not started:
                lvl, p, gain, started = float(y), 1.0, math.nan, True
            else:
                pp = p + q_noise
                gain = pp / (pp + r_noise)
                lvl = lvl + gain * (float(y) - lvl)
                p = (1.0 - gain) * pp
            out_l[i] = lvl
            out_p[i] = p
            out_k[i] = gain
        state.update((lvl, p, started))
        yield pd.DataFrame({
            "user_id": user_id,
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "close": vals,
            "kal_level": out_l,
            "kal_p": out_p,
            "kal_gain": out_k,
        })

    return fn


def kalman_per_key(sdf: DataFrame, q_noise: float = 0.01,
                   r_noise: float = 1.0) -> DataFrame:
    """Streaming Kalman local-level filter per user_id with
    checkpointed (level, variance) state — O(n_keys × 2 doubles).
    NULLs are dropped before the kernel (the holt_per_key contract:
    a NULL would poison the checkpointed state while the oracle
    filters them)."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _kalman_fn(q_noise, r_noise),
            outputStructType=KALMAN_OUTPUT_DDL,
            stateStructType=KALMAN_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def holt_per_key(sdf: DataFrame, a: float = 0.2,
                 b_const: float = 0.1) -> DataFrame:
    """Streaming Holt level+trend per user_id with checkpointed
    coupled state (lvl, trend, started) — O(n_keys × 2 doubles).

    NULL values are dropped BEFORE the stateful kernel: a NULL would
    become NaN and permanently poison the checkpointed (level, trend)
    pair, while the oracle (_stream_holt_sql) and the batch sibling
    q_holt_forecast both filter WHERE value IS NOT NULL — the filter
    keeps stream/batch/oracle row sets identical."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _holt_fn(a, b_const),
            outputStructType=HOLT_OUTPUT_DDL,
            stateStructType=HOLT_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Running peak / drawdown
# ---------------------------------------------------------------------------

DRAWDOWN_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                       "value DOUBLE, peak DOUBLE, drawdown DOUBLE")


def _cummax_frame(pdf: pd.DataFrame, prev_peak: float, user_id) -> tuple:
    """Shared kernel: sort, numpy cummax seeded with the prior peak,
    build the output frame. Returns (frame, new_peak)."""
    import numpy as np
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    vals = pdf["value"].to_numpy(dtype="float64")
    peaks = np.maximum.accumulate(np.r_[prev_peak, vals])[1:]
    out = pd.DataFrame({
        "user_id": int(user_id),
        "event_id": pdf["event_id"].astype("int64"),
        "ts": pdf["ts"],
        "value": vals,
        "peak": peaks,
        "drawdown": peaks - vals,
    })
    return out, float(peaks[-1])


def drawdown_per_key(sdf: DataFrame) -> DataFrame:
    """Per-key running peak and drawdown (peak − value) — the risk
    metric every trading dashboard keeps per symbol. One hash exchange
    on the key; state is one double per key."""
    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        prev = state.get[0] if state.exists else float("-inf")
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((prev,))
            return
        out, peak = _cummax_frame(pd.concat(parts, ignore_index=True),
                                  prev, user_id)
        state.update((peak,))
        yield out

    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=DRAWDOWN_OUTPUT_DDL,
            stateStructType="peak DOUBLE",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM / Page-Hinkley drift detector
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_DDL = ("user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
                    "value DOUBLE, run_mean DOUBLE, s_pos DOUBLE, "
                    "s_neg DOUBLE, drift BOOLEAN")
CUSUM_STATE_DDL = "i BIGINT, mean DOUBLE, s_pos DOUBLE, s_neg DOUBLE"

#: Allowance (dead band) and decision threshold for the two-sided
#: Page test — in the fixture's value units. Shared with the oracle
#: via the `_cusum_drift_sql` constants injection.
CUSUM_K = 5.0
CUSUM_H = 500.0


def _cusum_fn(k_allow: float, h_thresh: float):
    """Checkpointed continuation of the two-sided Page/CUSUM drift
    recursion — the LIVE twin of operators/stats.q_cusum_changepoint
    (that one locates a shift in a CLOSED series; this one flags it
    while the stream runs). Per key:

        i=1:  mean = y,  S⁺ = S⁻ = 0
        i≥2:  dev = y − mean_{i−1}
              S⁺ = max(0, S⁺ + dev − k)
              S⁻ = max(0, S⁻ − dev − k)
              mean = mean_{i−1} + dev / i     (running-mean recursion)
              drift = S⁺ > h OR S⁻ > h

    Exact stream/oracle agreement: every step is the same IEEE double
    expression order as the recursive-CTE oracle (dev before clamps,
    clamps before the mean update), so trajectories — and therefore
    the drift booleans — are bit-identical."""

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            i, mean, s_pos, s_neg = state.get
        else:
            i, mean, s_pos, s_neg = 0, 0.0, 0.0, 0.0
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            state.update((i, mean, s_pos, s_neg))
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        vals = pdf["value"].to_numpy(dtype="float64")
        out = {"run_mean": [], "s_pos": [], "s_neg": [], "drift": []}
        for y in vals:
            y = float(y)
            if i == 0:
                i, mean, s_pos, s_neg = 1, y, 0.0, 0.0
            else:
                i += 1
                dev = y - mean
                s_pos = max(0.0, s_pos + dev - k_allow)
                s_neg = max(0.0, s_neg - dev - k_allow)
                mean = mean + dev / float(i)
            out["run_mean"].append(mean)
            out["s_pos"].append(s_pos)
            out["s_neg"].append(s_neg)
            out["drift"].append(s_pos > h_thresh or s_neg > h_thresh)
        state.update((i, mean, s_pos, s_neg))
        yield pd.DataFrame({
            "user_id": user_id,
            "event_id": pdf["event_id"].astype("int64"),
            "ts": pdf["ts"],
            "value": vals,
            "run_mean": out["run_mean"],
            "s_pos": out["s_pos"],
            "s_neg": out["s_neg"],
            "drift": out["drift"],
        })

    return fn


def cusum_per_key(sdf: DataFrame, k_allow: float = CUSUM_K,
                  h_thresh: float = CUSUM_H) -> DataFrame:
    """Streaming two-sided CUSUM drift detector per user_id with
    checkpointed (i, mean, S⁺, S⁻) state — O(n_keys × 4 scalars).
    NULL values are dropped before the kernel (the kalman_per_key
    contract: a NULL would poison the checkpointed state while the
    oracle filters them)."""
    return (
        sdf.select("user_id", "event_id", "ts", "value")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _cusum_fn(k_allow, h_thresh),
            outputStructType=CUSUM_OUTPUT_DDL,
            stateStructType=CUSUM_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Timeout-driven sessionization (event-time timeouts)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_DDL = ("user_id BIGINT, session_start TIMESTAMP, "
                      "session_end TIMESTAMP, n_events BIGINT, "
                      "sum_u6 BIGINT")
#: One OPEN session per key: bounds in int64 micros (state schemas
#: hold no TimestampType), event count, exact 1e-6-unit value sum.
SESSION_STATE_DDL = ("start_us BIGINT, last_us BIGINT, n BIGINT, "
                     "sum_u6 BIGINT")

#: Inactivity gap (micros) — matches stream_session_windows /
#: udtf_sessionize: a new session starts where gap >= 4 h.
_SESSION_GAP_US = 4 * 3600 * 1_000_000


def _session_timeout_fn(gap_us: int):
    """Session state machine with EVENT-TIME TIMEOUTS — the one
    GroupStateTimeout mode no other operator in this module exercises
    (they are all NoTimeout). Sessions closed by in-batch evidence (a
    later event >= gap after) emit immediately; the final open session
    per key can only be proven closed by the CLOCK, so the state
    carries a timeout at last_event + gap and Spark calls back with
    `state.hasTimedOut` once the watermark passes it — state is then
    emitted and removed, exactly the eviction contract
    `F.session_window` implements internally (and the reason a finite
    replay needs the flush sentinel to drive the watermark past the
    last real event)."""
    gap_ms = gap_us // 1000

    def fn(key: tuple, pdf_iter, state: GroupState):
        (user_id,) = key

        def _emit(starts, lasts, ns, sums):
            ends = np.asarray(lasts, dtype="int64") + gap_us
            return pd.DataFrame({
                "user_id": user_id,
                "session_start": pd.to_datetime(
                    np.asarray(starts, dtype="int64"), unit="us"),
                "session_end": pd.to_datetime(ends, unit="us"),
                "n_events": np.asarray(ns, dtype="int64"),
                "sum_u6": np.asarray(sums, dtype="int64"),
            })

        if state.hasTimedOut:
            start_us, last_us, n, sum_u6 = state.get
            state.remove()
            yield _emit([start_us], [last_us], [n], [sum_u6])
            return

        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            if state.exists:  # keep the pending timeout armed
                state.setTimeoutTimestamp(state.get[1] // 1000 + gap_ms)
            return
        pdf = (pd.concat(parts, ignore_index=True)
               .sort_values(["ts", "event_id"]).reset_index(drop=True))
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
        u6 = pdf["value_u6"].to_numpy(dtype="int64")

        if state.exists:
            st_start, st_last, st_n, st_sum = state.get
        else:
            st_start = st_last = int(ts_us[0])
            st_n, st_sum = 0, 0

        # Vectorized segmentation (replaces the former per-row Python
        # loop — guide §4.2; measured: the loop plus one 1-row
        # DataFrame per closed session dominated the replay's batch-0
        # addBatch time). Rows are sorted, so the running last_us
        # before row i is max(st_last, t_{i-1}) — the max matters only
        # until the first boundary: a boundary row satisfies
        # t_j >= max(st_last, ·) + gap > st_last, and every later row
        # is >= t_j, so the uniform formula is exact for the whole
        # batch. Cross-batch out-of-order events (t < st_last, legal
        # within the watermark delay) therefore absorb monotonically,
        # never regressing session bounds — same contract as before,
        # pinned by tests/test_sessions_and_trends.py.
        prev_last = np.empty_like(ts_us)
        prev_last[0] = st_last
        np.maximum(ts_us[:-1], st_last, out=prev_last[1:])
        boundary = (ts_us - prev_last) >= gap_us
        # boundary[0] True ⇔ an EXISTING open session is closed by the
        # batch's first row: that session emits alone below; the batch
        # then segments as if fresh. (st_n == 0 ⇒ st_last = ts_us[0] ⇒
        # boundary[0] already False.)
        state_closes_alone = bool(boundary[0]) and st_n > 0
        boundary[0] = False
        seg_starts = np.flatnonzero(boundary)
        idx = np.concatenate(([0], seg_starts))
        ends = np.concatenate((idx[1:], [len(ts_us)]))
        firsts = ts_us[idx]
        lasts = ts_us[ends - 1]  # sorted ⇒ per-segment max is the last row
        counts = (ends - idx).astype("int64")
        # reduceat sums int64 with wraparound on overflow (the old
        # Python-int loop would have failed loudly at Arrow
        # conversion). Acceptable under the BIGINT output/state
        # schema: value_u6 is a 1e-6-unit quantization of a bounded
        # price, so one session's sum sits ~9 orders of magnitude
        # under int64 range; sum via Python objects if value_u6
        # magnitudes ever approach it (r10 ADVICE).
        sums = np.add.reduceat(u6, idx)
        if state_closes_alone:
            firsts = np.concatenate(([st_start], firsts))
            lasts = np.concatenate(([st_last], lasts))
            counts = np.concatenate(([st_n], counts))
            sums = np.concatenate(([st_sum], sums))
        else:
            # Segment 0 continues the open state session.
            firsts[0] = min(st_start, int(firsts[0]))
            lasts[0] = max(st_last, int(lasts[0]))
            counts[0] += st_n
            sums[0] += st_sum

        k = len(firsts) - 1  # number of closed sessions (all but the last)
        if k:
            yield _emit(firsts[:k], lasts[:k], counts[:k], sums[:k])

        # The still-open session waits for the clock: fire when the
        # event-time watermark passes last event + gap.
        last_us = int(lasts[k])
        state.update((int(firsts[k]), last_us,
                      int(counts[k]), int(sums[k])))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)

    return fn


def sessions_per_key(sdf: DataFrame,
                     gap_us: int = _SESSION_GAP_US) -> DataFrame:
    """Streaming sessionization via event-time-timeout keyed state.
    `sdf` must carry a watermark on `ts` (EventTimeTimeout requires
    one) and a pre-quantized `value_u6` column (exact integer 1e-6
    units — the functions.dsum discipline, summed as Python ints)."""
    return (
        sdf.select("user_id", "event_id", "ts", "value_u6")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_fn(gap_us),
            outputStructType=SESSION_OUTPUT_DDL,
            stateStructType=SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
