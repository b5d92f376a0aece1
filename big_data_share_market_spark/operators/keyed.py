"""Keyed stream operators derived from the reference's core semantics:
the BUY/SELL/HOLD signal CASE, last-per-key, global extrema, trend,
bounded last-N state, and upsert dedup.

Fixture mapping (FIXTURES.md §3): `events.user_id` ↔ symbol,
`events.ts` ↔ bar time, `events.value` ↔ close.

Scale notes: every operator here is one shuffle on the key (user_id /
symbol). At 100 TB the key cardinality (symbols) is small relative to
rows, so per-key windows parallelize across executors; if one key is
hot, AQE skew handling splits it for the aggregation forms (D1-D3) and
the window forms degrade to single-task-per-key — acceptable because a
symbol's history fits one executor by construction of the domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import event_series, load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged per-key series (tables.event_series); dedup_upsert,
    which also returns `props`, reads the table itself."""
    return event_series(spark, sf_dir)


# Deterministic per-key ordering everywhere: ts then event_id tiebreak
# (SURVEY §7 risk 5 — indicator values embed order).
def _key_window():
    return W.partitionBy("user_id").orderBy("ts", "event_id")


def q_signal_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2, the core business rule
    (`flink_processor/flink_processor.py:105-109`): CASE WHEN close >
    open THEN BUY / < THEN SELL / ELSE HOLD. Events carry one value per
    row, so "open" is the previous value of the same key (lag) — the
    row-vs-previous-row comparison the reference applies to intra-bar
    open/close."""
    ev = _events(spark, sf_dir)
    prev = F.lag("value").over(_key_window())
    return (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("prev_value", prev)
        .withColumn(
            "signal",
            F.when(F.col("prev_value").isNull(), "HOLD")
            .when(F.col("value") > F.col("prev_value"), "BUY")
            .when(F.col("value") < F.col("prev_value"), "SELL")
            .otherwise("HOLD"),
        )
    )


_SIGNAL_CASE_SQL = """
SELECT user_id, event_id, ts, value,
       lag(value) OVER w AS prev_value,
       CASE WHEN lag(value) OVER w IS NULL THEN 'HOLD'
            WHEN value > lag(value) OVER w THEN 'BUY'
            WHEN value < lag(value) OVER w THEN 'SELL'
            ELSE 'HOLD' END AS signal
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_last_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 (`streamlit_app/provider.py:26-40`): latest record per
    symbol. `max_by(struct, ts)` would also work; row_number keeps the
    tiebreak explicit."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value", "event_type")
    )


_LAST_PER_KEY_SQL = """
SELECT user_id, event_id, ts, value, event_type FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def q_minmax_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/E7 (`streamlit_app/streamlit_app.py:206-210`): support =
    min(low), resistance = max(high) — per key instead of the
    reference's single visible frame."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(F.min("value").alias("support"), F.max("value").alias("resistance"),
             F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


_MINMAX_SQL = """
SELECT user_id, MIN(value) AS support, MAX(value) AS resistance,
       COUNT(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_trend_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 (`streamlit_app/streamlit_app.py:482-487`): first vs last
    close → Uptrend/Downtrend. min_by/max_by on (ts, event_id) keeps it
    a single aggregation (no window shuffle + filter pass)."""
    ev = _events(spark, sf_dir)
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(F.min_by("value", order_key).alias("first_value"),
             F.max_by("value", order_key).alias("last_value"))
        .withColumn(
            "trend",
            F.when(F.col("last_value") > F.col("first_value"), "Uptrend")
            .otherwise("Downtrend"))
        .orderBy("user_id")
    )


_TREND_SQL = """
SELECT user_id, first_value, last_value,
       CASE WHEN last_value > first_value THEN 'Uptrend'
            ELSE 'Downtrend' END AS trend
FROM (
  SELECT user_id,
         first(value ORDER BY ts, event_id) AS first_value,
         last(value ORDER BY ts, event_id) AS last_value
  FROM events GROUP BY user_id)
ORDER BY user_id
"""


def q_latest_n_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (`streamlit_app/provider.py:108-113`): bounded per-key state,
    last 20 records per symbol (batch form; streaming form in
    streaming/state.py)."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("user_id", "event_id", "ts", "value", "rn")
    )


_LATEST_N_SQL = """
SELECT user_id, event_id, ts, value, rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn <= 20
"""


def q_dedup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (`postgres/init.sql:12`, PK (symbol, datetime)): idempotent
    upsert ≡ keep one row per (user_id, ts), last-write-wins by
    event_id. Expressed as row_number (deterministic winner) rather
    than dropDuplicates (arbitrary winner)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )


_DEDUP_UPSERT_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                               ORDER BY event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


_RANGE_H = 4  # range-join horizon, hours


def q_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: same-user event pairs with
    0 < b.ts - a.ts <= 4h. Naive form is a non-equi join → Spark picks
    BroadcastNestedLoopJoin, O(n²) per key — unusable at scale. The
    scale form here buckets time into 4h cells and equi-joins on
    (user_id, bucket) with the left side exploded to (bucket,
    bucket+1), then refines with the exact range predicate: a shuffle
    hash join touching only adjacent cells — each row meets O(density)
    candidates, not O(n)."""
    ev = _events(spark, sf_dir)
    bucket = F.floor(F.unix_timestamp("ts") / (_RANGE_H * 3600))
    a = ev.select("user_id", F.col("event_id").alias("a_id"),
                  F.col("ts").alias("a_ts"), bucket.alias("a_bucket"))
    b = ev.select("user_id", F.col("event_id").alias("b_id"),
                  F.col("ts").alias("b_ts"), bucket.alias("b_bucket"))
    a_exp = a.withColumn(
        "jb", F.explode(F.array(F.col("a_bucket"), F.col("a_bucket") + 1)))
    return (
        a_exp.join(b, (a_exp.user_id == b.user_id) & (a_exp.jb == b.b_bucket))
        .filter((F.col("b_ts") > F.col("a_ts")) &
                (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {_RANGE_H} HOURS")))
        .select(a_exp.user_id, "a_id", "b_id",
                # timestampdiff accepts both TIMESTAMP and TIMESTAMP_NTZ
                # (unix_micros rejects NTZ, which the fixtures now carry)
                F.expr("timestampdiff(MICROSECOND, a_ts, b_ts)").alias("gap_us"))
    )


_RANGE_JOIN_SQL = f"""
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
       date_diff('microsecond', a.ts, b.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {_RANGE_H} HOUR
"""


QUERIES = {
    "signal_case": (q_signal_case, _SIGNAL_CASE_SQL),
    "range_join_pairs": (q_range_join_pairs, _RANGE_JOIN_SQL),
    "last_per_key": (q_last_per_key, _LAST_PER_KEY_SQL),
    "minmax_per_key": (q_minmax_per_key, _MINMAX_SQL),
    "trend_per_key": (q_trend_per_key, _TREND_SQL),
    "latest_n_per_key": (q_latest_n_per_key, _LATEST_N_SQL),
    "dedup_upsert": (q_dedup_upsert, _DEDUP_UPSERT_SQL),
}
