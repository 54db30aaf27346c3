"""Streaming operators.

Design: ingest transforms are *shared* with batch — ``jsonl_to_nodes``
is called on a streaming text DataFrame and produces the same long form
(Structured Streaming's incrementalization handles the rest). Stateful
ops use watermarks so state is bounded: at scale, unbounded streaming
state is the thing that kills a job on day three.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..artifacts import artifact
from ..session import bounded_drain_conf, scratch_dir
from ..sources.jsonl import JsonlTransform, jsonl_to_nodes


def stream_jsonl_nodes(
    spark: SparkSession,
    path: str,
    datasource: str,
    subgraph: str = "default",
    transform: JsonlTransform | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming twin of sources.jsonl.read_jsonl_nodes: a file-source
    stream of JSONL → the canonical long form, incrementally."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    return jsonl_to_nodes(lines, datasource, subgraph, transform)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per event type with late-data handling."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    entities: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup over a stream, state bounded by the watermark —
    the streaming twin of dedup_exact."""
    return entities.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_STATE_SCHEMA = "start_us long, end_us long, n long"

_SESSION_GAP_S = 30 * 60


def _session_df(sessions: list, user_id) -> pd.DataFrame:
    """Row layout for the sessionizer's emissions. Vectorized: the old
    per-element ``pd.Timestamp(s, unit="us")`` list comprehensions built
    ~2 Python timestamp objects per emitted session (~4 s of pure object
    churn per drain at sf0.1 — the profiler showed batch 0's addBatch at
    5.4 s with only 0.7 s of state commit); a single
    int64→datetime64[us]→[ns] numpy cast is value-identical (exact
    microseconds, ×1000 into nanos — no rounding anywhere until year
    2262) and two orders of magnitude cheaper (guide §4.2: hand whole
    batches to vectorized native code)."""
    import numpy as np

    n = len(sessions)
    start_us = np.fromiter((s[0] for s in sessions), dtype="int64", count=n)
    end_us = np.fromiter((s[1] for s in sessions), dtype="int64", count=n)
    counts = np.fromiter((s[2] for s in sessions), dtype="int64", count=n)
    return _session_df_arrays(start_us, end_us, counts, user_id)


def _session_df_arrays(start_us, end_us, counts, user_id) -> pd.DataFrame:
    import numpy as np

    return pd.DataFrame(
        {
            "user_id": np.full(len(counts), user_id, dtype="int64"),
            "session_start": start_us.astype("datetime64[us]").astype(
                "datetime64[ns]"
            ),
            "session_end": end_us.astype("datetime64[us]").astype("datetime64[ns]"),
            "n_events": counts.astype("int64"),
        }
    )


def _session_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState session builder: 30-minute inactivity gap,
    EVENT-time semantics — byte-for-byte the built-in session_window's
    gap rule (a new session starts when the inter-event gap reaches the
    threshold), plus the thing session_window cannot express: custom
    per-key state and emission policy.

    A gap OBSERVED inside a batch closes a session immediately (the
    data itself proves no event can land in it); only the per-key tail
    session is held in state, with an event-time timeout at
    (session_end + gap) so the watermark — not wall clock — closes it.
    State per key is one (start, end, n) triple: bounded."""
    import numpy as np

    gap_us = _SESSION_GAP_S * 1_000_000
    if state.hasTimedOut:
        start_us, end_us, n = state.get
        state.remove()
        yield _session_df([(start_us, end_us, n)], key[0])
        return
    frames = list(batches)
    rows = frames[0] if len(frames) == 1 else pd.concat(frames)
    # exact microseconds; np.sort of int64 == the old sorted() order
    ts = np.sort(rows["ts"].to_numpy().astype("int64") // 1000)
    # session boundaries — identical to the old per-event loop: a new
    # session starts exactly where the gap to the previous event is
    # >= gap_us (diff[i] = ts[i+1] - ts[i], the same comparison)
    brk = np.flatnonzero(np.diff(ts) >= gap_us)
    starts_i = np.concatenate((np.zeros(1, dtype="int64"), brk + 1))
    ends_i = np.concatenate((brk, np.array([ts.size - 1], dtype="int64")))
    start_us_a = ts[starts_i]
    end_us_a = ts[ends_i]
    counts_a = ends_i - starts_i + 1
    # the LAST run is the open tail session (held in state, not emitted)
    cur = [int(start_us_a[-1]), int(end_us_a[-1]), int(counts_a[-1])]
    start_us_a, end_us_a, counts_a = start_us_a[:-1], end_us_a[:-1], counts_a[:-1]
    prepend: tuple[int, int, int] | None = None
    if state.exists:
        s0, e0, n0 = state.get
        if counts_a.size:
            head = (int(start_us_a[0]), int(end_us_a[0]), int(counts_a[0]))
        else:
            head = tuple(cur)
        if head[0] - e0 < gap_us:  # batch head continues the carried session
            merged = (min(s0, head[0]), max(e0, head[1]), n0 + head[2])
            if counts_a.size:
                start_us_a[0], end_us_a[0], counts_a[0] = merged
            else:
                cur = list(merged)
        else:  # carried session is provably closed by the new data
            prepend = (s0, e0, n0)
    state.update((int(cur[0]), int(cur[1]), int(cur[2])))
    # close the tail when event time (the watermark) passes end + gap;
    # the timestamp must sit above the current watermark or Spark rejects it
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(wm + 1, cur[1] // 1000 + _SESSION_GAP_S * 1000))
    if prepend is not None:
        start_us_a = np.concatenate(([prepend[0]], start_us_a))
        end_us_a = np.concatenate(([prepend[1]], end_us_a))
        counts_a = np.concatenate(([prepend[2]], counts_a))
    if counts_a.size:  # a key whose only session stays in state emits nothing
        yield _session_df_arrays(start_us_a, end_us_a, counts_a, key[0])


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState —
    event-time timeouts, so results are a pure function of the data and
    the watermark, never of wall-clock scheduling."""
    return (
        events.withWatermark("ts", gap)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def batch_session_windows(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Batch twin using the built-in session_window — preferred when the
    gap is static (pure built-in, no Python state)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


_STREAM_RUN = [0]  # memory-sink names must be unique within a session

# schema-by-path memo for the streaming sources: every drain here reads
# the table's schema before opening the readStream, and each
# spark.read.parquet(path).schema is a driver-side py4j + footer read
# (~0.1 s) repaid by every one of the ~16 streaming queries. A schema is
# metadata, not data — nothing about the timed computation is cached —
# and the recursive file stamp drops the entry when any file beneath the
# path is replaced, partitioned layouts included (the same contract as
# session.load_tables' handle memo, guide §5).
@artifact(stamp="path")
def _parquet_schema(spark: SparkSession, path: str):
    return spark.read.parquet(path).schema


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (shared by the streaming
    harness queries), with the TIMESTAMP(NANOS) defence from
    session.load_tables."""
    path = f"{sf_dir}/events.parquet"
    for conf_key, conf_val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # UTC so the timestamp_ntz→timestamp cast preserves instants
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(conf_key, conf_val)
        except Exception:
            pass  # conf locked down → the session owner already chose a policy
    schema = _parquet_schema(spark, path)
    import os

    if os.path.isdir(path):
        # directory-shaped table (a real corpus / the replicated soak
        # corpus): stream its part files directly — the glob filter
        # below matches FILE names and would select nothing
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file fixture table: the file stream source wants a
        # directory; glob-filter the sf_dir down to the table
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "bigint":
        # TIMESTAMP(NANOS) storage read as long (see session.load_tables)
        stream = stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    elif ts_dtype == "timestamp_ntz":
        # TIMESTAMP(isAdjustedToUTC=false) parquet → timestamp_ntz, which
        # withWatermark rejects; the session tz is pinned UTC so the cast
        # preserves instants and the batch oracle still matches
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory_sink(
    df: DataFrame,
    prefix: str,
    output_mode: str,
    state_partitions: int = 8,
    no_data_batches: bool = False,
) -> str:
    """Execute a bounded stream to completion into a memory sink; returns
    the sink table name.

    ``state_partitions`` right-sizes the state store: a streaming
    aggregate creates one state-store instance PER shuffle partition
    per micro-batch, so running a few-thousand-key stream at the batch
    default (32) pays 4× the per-batch state overhead for nothing —
    measured 2–7× drain-time reduction at 8. At production scale this
    is the knob sized to key cardinality, set before the query starts
    (state partitioning is fixed for the life of a streaming query).

    ``no_data_batches`` (default off): availableNow appends a trailing
    EMPTY micro-batch after the last file batch so watermark-only
    progress can emit. Every drain here that needs watermark-driven
    emission gets it from a REAL sentinel batch (the staging protocol's
    far-future files), so the empty batch re-runs the whole stateful
    pipeline — state load, per-key iteration (13 s of Python-side
    re-iteration for the applyInPandasWithState sessionizer at sf0.1),
    commit — to emit nothing: measured 4.5 → 3.7 s on the full-outer
    drain, 18 → 5 s on the custom sessionizer, output row-identical
    across all 15 drains (and re-proven per run by the DuckDB parity
    suite). ``events_sessionize_stream`` is the one drain whose final
    session_window CLOSE genuinely needs the trailing batch (its stage
    has no post-sentinel batch left to observe the advanced watermark)
    — it passes True, as does the env-skipped transformWithState twin
    (untestable here, so semantics preserved)."""
    spark = df.sparkSession
    _STREAM_RUN[0] += 1
    name = f"{prefix}_{_STREAM_RUN[0]}"
    with bounded_drain_conf(
        spark, state_partitions=state_partitions, no_data_batches=no_data_batches
    ):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return name


def events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup run as a real job: stream the events
    table, drop duplicate (user_id, event_type) pairs with
    ``dropDuplicatesWithinWatermark``, drain to a memory sink
    (append mode — dedup emits rows as they survive), then count the
    surviving rows per event type.

    The watermark (90 days) exceeds the table's 30-day span, so no state
    expires during the bounded replay and the result is exactly the
    batch ``count(DISTINCT user_id)`` — which is the oracle. At scale
    the same plan runs unbounded with a business-chosen watermark
    bounding the state store; this is the streaming twin of
    ``dedup_exact``."""
    stream = _events_stream(spark, sf_dir)
    deduped = streaming_dedup(
        stream, ("user_id", "event_type"), ts_col="ts", watermark="90 days"
    )
    name = _run_to_memory_sink(deduped, "events_dedup_stream", "append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
        .orderBy("event_type")
    )


ORACLE_EVENTS_DEDUP_STREAM = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly event rollup executed as a real Structured Streaming
    job: file-source stream over the events table → windowed aggregate →
    memory sink, `availableNow` trigger (process everything, then stop).

    Complete output mode so every window is emitted when the bounded
    stream drains — the result is therefore identical to the batch
    `events_hourly` rollup and shares its DuckDB oracle. At scale the
    same plan runs unbounded with append mode + the watermark bounding
    state; availableNow is also Spark's recommended backfill mode."""
    stream = _events_stream(spark, sf_dir)
    counts = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    name = _run_to_memory_sink(counts, "events_hourly_stream", "complete")
    return (
        spark.table(name)
        .select(
            F.unix_micros("window_start").alias("hour_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_us", "event_type")
    )


# same result set as the batch rollup — the streaming execution is the
# thing under test, not different semantics
ORACLE_EVENTS_HOURLY_STREAM = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

def events_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join run as a real job: the events
    stream joined to the static customer dimension (user_id = custkey),
    aggregated per (segment, event_type).

    The static side is a plain batch DataFrame — Spark broadcasts it to
    every micro-batch, the canonical pattern for dimension enrichment of
    an unbounded stream (no state, no watermark needed for the join
    itself; the downstream aggregate uses complete mode here because the
    bounded replay drains fully). Oracle: the identical batch join SQL."""
    from ..session import load_tables

    stream = _events_stream(spark, sf_dir)
    cust = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        stream.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    name = _run_to_memory_sink(enriched, "events_enrich_stream", "complete")
    return spark.table(name).orderBy("c_mktsegment", "event_type")


ORACLE_EVENTS_ENRICH_STREAM = """
SELECT c_mktsegment, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


def docs_quality_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-quality scoring pass run as a real streaming job: a
    file-source stream over the documents table → per-doc quality score
    (the same pure-expression scorer the batch pass uses) → per-source
    aggregate in complete mode.

    This is the canonical 'curate as data lands' shape: no event-time
    column, so no watermark — complete-mode aggregation state is one row
    per source at any scale. Result is identical to the batch
    text_quality query, which is the oracle."""
    from ..functions.text import quality_score

    schema = _parquet_schema(spark, f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    scored = stream.select(
        "source", F.round(quality_score(F.col("text")), 4).alias("q")
    )
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("q"), 4).alias("avg_quality")
    )
    name = _run_to_memory_sink(agg, "docs_quality_stream", "complete")
    return spark.table(name).orderBy("source")


def _oracle_docs_quality_stream() -> str:
    from ..functions.text import ORACLE_TEXT_QUALITY

    return ORACLE_TEXT_QUALITY


def events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation as a real streaming job: the built-in
    ``session_window`` (dynamic-length windows merged on a 30-minute
    inactivity gap) over the bounded events stream, append mode.

    Append mode only emits sessions the watermark has CLOSED. Spark
    truncates the event-time watermark to milliseconds, so instead of
    reproducing that boundary exactly, both sides post-filter to
    sessions ending ≥ 2 s before max(ts): every such session is
    strictly inside the emitted set (watermark ≈ max − 1 s − <1 ms >
    max − 2 s), making the comparison deterministic regardless of the
    engine's watermark rounding. The oracle applies the same cutoff to
    a gaps-and-islands restatement (new session iff the gap to the
    previous event is >= 30 min, matching session_window's strict
    merge). State is bounded by the watermark; at scale this exact plan
    runs unbounded — the streaming twin of the batch
    ``events_sessionize``. The custom applyInPandasWithState variant
    (dynamic per-key gaps) is ``sessionize`` above, exercised by
    tests/test_streaming.py."""
    stream = _events_stream(spark, sf_dir)
    sess = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    # session_window close of the LAST sessions needs the trailing
    # no-data batch (this stage has no post-sentinel batch): keep it on
    name = _run_to_memory_sink(
        sess, "events_sessionize_stream", "append", no_data_batches=True
    )
    from ..session import load_tables

    max_us = (
        load_tables(spark, sf_dir, ("events",))["events"]
        .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))))
        .head()[0]
    )
    cutoff_us = max_us - 2_000_000
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n_events",
            "sum_value",
        )
        .filter(F.col("end_us") <= F.lit(cutoff_us))
        .orderBy("user_id", "start_us")
    )


ORACLE_EVENTS_SESSIONIZE_STREAM = """
WITH mx AS (SELECT max(ts) AS m FROM events),
marks AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
), agg AS (
  SELECT user_id, sid,
         min(ts) AS start_ts, max(ts) AS last_ts,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id,
       epoch_us(start_ts) AS start_us,
       epoch_us(last_ts + INTERVAL 30 MINUTE) AS end_us,
       n_events, sum_value
FROM agg, mx
WHERE last_ts + INTERVAL 30 MINUTE <= m - INTERVAL 2 SECOND
ORDER BY user_id, start_us
"""


def events_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join as a real job: the click stream joined
    to the purchase stream of the same user within 30 minutes after the
    click — the attribution-join shape, and the one streaming join class
    the stream-static enrich query doesn't cover.

    Both sides carry watermarks and the join condition carries the time
    bound, so Spark can expire join state (without the bound, stream-
    stream state grows forever). An INNER interval join emits every
    match as soon as both sides arrive — the watermark governs state
    cleanup, not emission — so a bounded availableNow replay emits
    exactly the batch join's rows and the oracle is the identical batch
    SQL, no cutoff gymnastics needed. Aggregated per user-bucket to keep
    the result small."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id"), F.col("ts").alias("click_ts"))
    )
    buys = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("ts").alias("buy_ts"),
            F.col("value"),
        )
    )
    joined = clicks.withWatermark("click_ts", "1 hour").join(
        buys.withWatermark("buy_ts", "1 hour"),
        (F.col("user_id") == F.col("buy_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    name = _run_to_memory_sink(joined, "events_join_stream", "append")
    return (
        spark.table(name)
        .groupBy((F.col("user_id") % 10).cast("int").alias("user_bucket"))
        .agg(
            F.count("*").alias("n_attributed"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("user_bucket")
    )


ORACLE_EVENTS_JOIN_STREAM = """
SELECT CAST(c.user_id % 10 AS INTEGER) AS user_bucket,
       count(*) AS n_attributed,
       round(sum(b.value), 2) AS attributed_value
FROM (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts AS buy_ts, value FROM events
      WHERE event_type = 'purchase') b
  ON c.user_id = b.user_id
 AND b.buy_ts >= c.click_ts
 AND b.buy_ts <= c.click_ts + INTERVAL 30 MINUTE
GROUP BY user_bucket
ORDER BY user_bucket
"""


def events_latest_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view — latest event per user, continuously
    upserted: the CDC/last-write-wins pattern (a serving table that
    always reflects each key's newest record), run as a real job.

    ``max_by`` over a zero-padded (ts, event_id) string key makes the
    'latest' election total and deterministic (event_id breaks exact-ts
    ties), so the drained view equals the batch arg_max — the oracle.
    Complete output mode: the state store IS the view (one row per user;
    key-bounded, the correct mode for an entity-state table). At scale
    the same aggregate runs unbounded and the sink upserts per batch."""
    stream = _events_stream(spark, sf_dir)
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    latest = stream.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_event_type"),
        F.max_by("value", key).alias("last_value"),
        F.max(F.unix_micros(F.col("ts"))).alias("last_ts_us"),
    )
    name = _run_to_memory_sink(latest, "events_latest_state_stream", "complete")
    return (
        spark.table(name)
        .select(
            "user_id",
            "last_event_type",
            F.round("last_value", 4).alias("last_value"),
            "last_ts_us",
        )
        .orderBy("user_id")
    )


ORACLE_EVENTS_LATEST_STATE = """
SELECT user_id,
       arg_max(event_type,
               lpad(epoch_us(ts)::varchar, 20, '0')
                 || lpad(event_id::varchar, 12, '0')) AS last_event_type,
       round(arg_max(value,
               lpad(epoch_us(ts)::varchar, 20, '0')
                 || lpad(event_id::varchar, 12, '0')), 4) AS last_value,
       max(epoch_us(ts)) AS last_ts_us
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def _single_parquet_file(spark: SparkSession, src: str) -> str:
    """Resolve a parquet TABLE path to ONE parquet file for the staging
    helpers (which copy the events table as a single mtime-ordered
    arrival file and pyarrow-read its schema/bounds). The harness
    fixtures ship single-file tables; a real corpus — and the 8×
    replicated soak corpus — is a DIRECTORY of part files, so
    consolidate those once per path into a scratch single file (cached
    per path; micro-corpora only — a production arrival feed stages
    per-file, never consolidates)."""
    import os

    if not os.path.isdir(src):
        return src
    parts = sorted(
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    if len(parts) == 1:
        return parts[0]
    return _consolidated(spark, tuple(parts))


@artifact
def _consolidated(spark: SparkSession, parts: tuple[str, ...]) -> str:
    """The part files rewritten as one scratch parquet file."""
    import os

    import pyarrow.parquet as pq

    out = os.path.join(scratch_dir("grebi_singlefile_"), "data.parquet")
    pq.write_table(pq.read_table(list(parts)), out)
    return out


@artifact
def _session_stage(spark: SparkSession, src: str) -> str:
    """Stage dir for the bounded-drain protocol: the events file plus
    two far-future sentinel files behind it, mtime-ordered so the file
    source replays them as three micro-batches. Built once per
    (session, source file)."""
    import datetime as _dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = _single_parquet_file(spark, src)  # directory-shaped tables stage too
    stage = scratch_dir("grebi_sessions_")
    shutil.copyfile(src, os.path.join(stage, "00_events.parquet"))
    sch = pq.read_schema(src)
    last_ts = max(pq.read_table(src, columns=["ts"])["ts"].to_pylist())
    for i, days in enumerate((365, 366)):
        row = {
            "event_id": [10**12 + i],
            "ts": [last_ts + _dt.timedelta(days=days)],
            "user_id": [-1],
            "event_type": ["sentinel"],
            "value": [0.0],
            "props": ["{}"],
        }
        tbl = pa.Table.from_pydict({f.name: row[f.name] for f in sch}, schema=sch)
        pq.write_table(tbl, os.path.join(stage, f"0{i + 1}_sentinel.parquet"))
    # oldest-first processing order (the source orders by mtime)
    for i, name in enumerate(
        ("00_events.parquet", "01_sentinel.parquet", "02_sentinel.parquet")
    ):
        os.utime(os.path.join(stage, name), (1_000_000 + i, 1_000_000 + i))
    return stage


def events_custom_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful sessionizer (applyInPandasWithState, event-
    time timeouts) run as a real streaming job over the events table —
    the operator pattern for semantics session_window can't express.

    Bounded-drain protocol: the events file is staged with two
    far-future sentinel files behind it (maxFilesPerTrigger=1 → three
    micro-batches). Sentinel batch 1 advances the watermark past every
    real session's (end + gap) timeout; sentinel batch 2 gives Spark
    the extra batch in which those event-time timeouts fire. Every real
    session therefore closes deterministically — either by an observed
    in-batch gap or by the watermark — and the result equals the batch
    gaps-and-islands SQL, which is the oracle. Sentinel keys are
    filtered out of the output."""
    src = f"{sf_dir}/events.parquet"
    stage = _session_stage(spark, src)
    schema = _parquet_schema(spark, src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = sessionize(stream)
    name = _run_to_memory_sink(sessions, "events_custom_session_stream", "append")
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


ORACLE_CUSTOM_SESSIONS = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events
), d AS (
  SELECT user_id, tus,
         CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
                OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
                   >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM o
), g AS (
  SELECT user_id, tus,
         sum(brk) OVER (PARTITION BY user_id ORDER BY tus
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(tus) AS session_start_us, max(tus) AS session_end_us,
       count(*) AS n_events
FROM g GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""


@artifact
def _late_stage(spark: SparkSession, src: str) -> str:
    """Stage dir proving watermark semantics, one file per micro-batch:

      batch 0  the events file          (builds window state; wm still 0)
      batch 1  far-future sentinel A    (wm jumps past every real window
                                         → state EVICTED, windows emitted)
      batch 2  replay of the first day  (late duplicates arriving after
                                         eviction → the engine MUST drop
                                         them; merged-into-live-state is
                                         no longer possible)
      batch 3  far-future sentinel B    (flushes sentinel A's window)

    The eviction-before-replay ordering matters: Spark only guarantees
    dropping late rows once the target window's state is gone — a late
    row for a still-live window is merged, not dropped."""
    import datetime as _dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = _single_parquet_file(spark, src)  # directory-shaped tables stage too
    stage = scratch_dir("grebi_late_")
    shutil.copyfile(src, os.path.join(stage, "00_events.parquet"))
    tbl = pq.read_table(src)
    ts = tbl["ts"].to_pylist()
    t_min, t_max = min(ts), max(ts)
    sch = pq.read_schema(src)

    def sentinel(i: int, days: int, name: str) -> None:
        row = {
            "event_id": [10**12 + i],
            "ts": [t_max + _dt.timedelta(days=days)],
            "user_id": [-1],
            "event_type": ["sentinel"],
            "value": [0.0],
            "props": ["{}"],
        }
        t2 = pa.Table.from_pydict({f.name: row[f.name] for f in sch}, schema=sch)
        pq.write_table(t2, os.path.join(stage, name))

    sentinel(0, 365, "01_sentinel_a.parquet")
    cutoff = t_min + _dt.timedelta(days=1)
    late = tbl.filter(pa.array([t < cutoff for t in ts]))
    pq.write_table(late, os.path.join(stage, "02_late_replay.parquet"))
    sentinel(1, 366, "03_sentinel_b.parquet")
    for i, name in enumerate(sorted(os.listdir(stage))):
        os.utime(os.path.join(stage, name), (1_000_000 + i, 1_000_000 + i))
    return stage


def events_late_data_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics PROVEN, not just configured: the
    stream replays the corpus's entire first day AFTER the watermark
    has advanced to the stream's end (file-per-batch staging makes the
    watermark's progression deterministic), runs the hourly windowed
    rollup in APPEND mode with a 1-hour watermark, and drains via
    far-future sentinels so every window closes.

    If the engine dropped no late rows, the first day's counts would
    double and the hash-check would fail; the oracle is the batch
    hourly rollup over the ORIGINAL events only. State is also bounded
    by the same watermark — this is the memory-safety contract an
    unbounded deployment relies on, exercised end-to-end.

    NB the sentinel rows flow THROUGH the aggregate (no pre-agg filter:
    a pushed-down filter would hide them from the EventTimeWatermark
    stats and the watermark would never advance); their own windows are
    removed from the drained table afterwards."""
    src = f"{sf_dir}/events.parquet"
    stage = _late_stage(spark, src)
    schema = _parquet_schema(spark, src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "event_type",
            "n_events",
        )
    )
    name = _run_to_memory_sink(counts, "events_late_data_stream", "append")
    return (
        spark.table(name)
        .filter(F.col("event_type") != "sentinel")
        .orderBy("hour_us", "event_type")
    )


ORACLE_LATE_DATA = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@artifact
def _outer_stage(spark: SparkSession, src: str) -> str:
    """Stage dir for the outer-join drain: the events file plus two
    far-future sentinel files each holding one CLICK and one PURCHASE
    row (user_id −1). The types must be real leg types — Catalyst
    pushes the legs' event_type filters into the parquet SCAN, below
    the EventTimeWatermark operator, so a row of any other type never
    reaches the watermark nodes and cannot advance them (observed:
    'sentinel'-typed rows left the final click un-evictable). Two
    sentinel batches: the first moves both watermarks past all real
    data, the second executes with that watermark and flushes the
    remaining null-extended rows."""
    import datetime as _dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = _single_parquet_file(spark, src)  # directory-shaped tables stage too
    stage = scratch_dir("grebi_outer_")
    shutil.copyfile(src, os.path.join(stage, "00_events.parquet"))
    sch = pq.read_schema(src)
    last_ts = max(pq.read_table(src, columns=["ts"])["ts"].to_pylist())
    for i, days in enumerate((365, 366)):
        row = {
            "event_id": [10**12 + 2 * i, 10**12 + 2 * i + 1],
            "ts": [last_ts + _dt.timedelta(days=days)] * 2,
            "user_id": [-1, -1],
            "event_type": ["click", "purchase"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
        tbl = pa.Table.from_pydict(
            {f.name: row[f.name] for f in sch}, schema=sch
        )
        pq.write_table(tbl, os.path.join(stage, f"0{i + 1}_sentinel.parquet"))
    for i, name in enumerate(
        ("00_events.parquet", "01_sentinel.parquet", "02_sentinel.parquet")
    ):
        os.utime(os.path.join(stage, name), (1_000_000 + i, 1_000_000 + i))
    return stage


def events_outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the join class whose
    semantics the inner join can't show: a click with NO purchase in its
    30-minute window must still emit (null-extended), and Spark only
    releases such rows once the WATERMARK proves no matching purchase
    can still arrive. A plain bounded drain would therefore hold every
    unmatched click in state forever and emit nothing; the sentinel
    staging protocol (``_outer_stage``: two far-future click+purchase
    files behind the events file, maxFilesPerTrigger=1) advances both
    watermarks past every click's window in batch 2, and batch 3
    executes with that watermark and flushes the null-extended rows
    deterministically. Sentinel rows (user_id −1) are dropped before
    the rollup. Result == the batch LEFT JOIN, the oracle."""
    src = f"{sf_dir}/events.parquet"
    stage = _outer_stage(spark, src)
    schema = _parquet_schema(spark, src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        stream.select("user_id", F.col("ts").alias("click_ts"), "event_type")
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )
    buys = (
        stream.select(
            F.col("user_id").alias("buy_user"),
            F.col("ts").alias("buy_ts"),
            "value",
            "event_type",
        )
        .withWatermark("buy_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("buy_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    name = _run_to_memory_sink(joined, "events_outer_join_stream", "append")
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)  # drop the watermark sentinels
        .groupBy((F.col("user_id") % 10).cast("int").alias("user_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("buy_ts").isNull().cast("long")).alias("n_unmatched"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias(
                "attributed_value"
            ),
        )
        .orderBy("user_bucket")
    )


ORACLE_OUTER_JOIN_STREAM = """
SELECT CAST(c.user_id % 10 AS INTEGER) AS user_bucket,
       count(*) AS n_rows,
       sum(CASE WHEN b.buy_ts IS NULL THEN 1 ELSE 0 END)::bigint
         AS n_unmatched,
       round(coalesce(sum(b.value), 0.0), 2) AS attributed_value
FROM (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT user_id AS buy_user, ts AS buy_ts, value FROM events
           WHERE event_type = 'purchase') b
  ON c.user_id = b.buy_user
 AND b.buy_ts >= c.click_ts
 AND b.buy_ts <= c.click_ts + INTERVAL 30 MINUTE
GROUP BY user_bucket
ORDER BY user_bucket
"""


def events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregate (2-hour windows advancing
    every hour): each event lands in two overlapping windows, so the
    state store holds window-count × key-count entries — the streaming
    semantics the tumbling rollup (``events_hourly_stream``) doesn't
    exercise (window replication happens map-side via Expand, state is
    still one entry per (window, key)).

    Complete mode on the bounded drain emits every window, so the
    result equals the batch two-starts-per-event expansion — the
    oracle. At scale the same plan runs append + watermark; windows
    age out of state ⌈window/slide⌉ = 2 slides after they close."""
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    name = _run_to_memory_sink(agg, "events_sliding_stream", "complete")
    return (
        spark.table(name)
        .select(
            F.unix_micros(F.col("w.start")).alias("win_us"),
            "event_type",
            "n_events",
        )
        .orderBy("win_us", "event_type")
    )


# epoch-aligned 2h/1h windows: event t belongs to windows starting at
# trunc_hour(t) - 1h and trunc_hour(t)
ORACLE_SLIDING_STREAM = """
WITH starts AS (
  SELECT event_type,
         unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                 date_trunc('hour', ts)]) AS ws
  FROM events
)
SELECT epoch_us(ws) AS win_us, event_type, count(*) AS n_events
FROM starts GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink with idempotent re-delivery — the
    exactly-once-by-construction pattern for sinks Spark has no native
    transactional writer for: each micro-batch overwrites its OWN
    batch-id-keyed parquet partition (`replaceWhere` semantics via
    partitioned overwrite), so a replayed batch rewrites the same files
    instead of double-appending. The drained sink directory is read
    back and aggregated; equality with the batch aggregate over the
    source table — the oracle — proves no loss and no duplication
    through the sink round-trip.

    maxFilesPerTrigger staging is unnecessary: one availableNow drain,
    batch ids assigned by the engine. At scale this is the pattern for
    JDBC/object-store sinks; the partition key would be
    (batch_id, shard)."""
    import os
    import shutil

    stream = _events_stream(spark, sf_dir)
    out_dir = scratch_dir("grebi_fes_")
    shutil.rmtree(out_dir, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    with bounded_drain_conf(spark, state_partitions=8):
        q = (
            stream.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                scratch_dir("grebi_fes_ckpt_"),
            )
            .start()
        )
        q.awaitTermination()

    written = spark.read.parquet(out_dir)
    result = (
        written.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )
    rows = result.collect()
    shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


ORACLE_FOREACHBATCH = """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def _has_protobuf() -> bool:
    """transformWithStateInPandas talks to the JVM state server over a
    protobuf protocol; the runtime isn't in this container (no network
    installs), so the operator registers only where it can run."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def events_tws_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, value-cents) via ``transformWithState``
    — Spark 4's arbitrary-stateful-processing API (the successor to
    applyInPandasWithState: typed state handles, timers, and state
    schema evolution; SPARK-46815). The processor keeps one ValueState
    per user and re-emits the cumulative row on every update — the
    running-counter / CDC-enrichment shape.

    ENVIRONMENT GATE: requires the ``protobuf`` runtime (the Python
    state-server protocol); registered in QUERIES only when importable.
    The semantics twin that always runs is
    ``events_custom_session_stream`` (applyInPandasWithState).

    transformWithState REQUIRES the RocksDB state store provider (state
    on disk, not executor heap — the production-cardinality path this
    repo proves result-safe in test_rocksdb_state_store_same_results);
    the provider is set for the duration of the drain and restored.

    Value arithmetic is integer cents (round(value*100) as bigint) so
    state accumulation is exact and the batch oracle bit-matches. Final
    read takes max(n) per key: the cumulative counters are monotone, so
    the last emission per key IS the total (single-batch drains emit
    once; multi-batch drains emit a row per batch and max() still
    selects the final state).
    """
    import pandas as pd  # noqa: F811 — Arrow batches cross as pandas
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (self._agg.get() or (0, 0)) if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]}
            )

        def close(self) -> None:
            pass

    stream = _events_stream(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType="user_id bigint, n_events bigint, sum_cents bigint",
        outputMode="Update",
        timeMode="None",
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(provider_key, None)
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # transformWithState timers are untestable here (env skip):
        # keep the trailing batch so semantics are exactly stock
        name = _run_to_memory_sink(out, "events_tws", "update", no_data_batches=True)
    finally:
        if saved is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, saved)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_cents").alias("sum_cents"),
        )
        .orderBy("user_id")
    )


ORACLE_TWS_RUNNING = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY user_id ORDER BY user_id
"""

def events_full_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completing the
    streaming join taxonomy (inner: events_join_stream, left outer:
    events_outer_join_stream): BOTH unmatched sides must emit once the
    watermark proves no partner can arrive — clicks that converted to
    nothing AND purchases no click preceded (the organic-purchase
    signal an attribution pipeline needs). Same sentinel staging
    protocol as the left-outer query (two far-future files advance both
    watermarks, batch 3 flushes the null-extended rows of both sides
    deterministically). Result == the batch FULL OUTER, the oracle.

    The per-bucket rollup keys on COALESCE of the two user columns —
    a full-outer output has no single non-null key side.
    """
    src = f"{sf_dir}/events.parquet"
    stage = _outer_stage(spark, src)
    schema = _parquet_schema(spark, src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        stream.select("user_id", F.col("ts").alias("click_ts"), "event_type")
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )
    buys = (
        stream.select(
            F.col("user_id").alias("buy_user"),
            F.col("ts").alias("buy_ts"),
            "value",
            "event_type",
        )
        .withWatermark("buy_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("buy_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    )
    name = _run_to_memory_sink(joined, "events_full_outer_stream", "append")
    key = F.coalesce(F.col("user_id"), F.col("buy_user"))
    return (
        spark.table(name)
        .filter(key >= 0)  # drop the watermark sentinels
        .groupBy((key % 10).cast("int").alias("user_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("user_id").isNotNull() & F.col("buy_ts").isNull()).cast("long")
            ).alias("n_clicks_unmatched"),
            F.sum(F.col("user_id").isNull().cast("long")).alias("n_buys_unmatched"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("total_value"),
        )
        .orderBy("user_bucket")
    )


ORACLE_FULL_OUTER_STREAM = """
SELECT CAST(coalesce(c.user_id, b.buy_user) % 10 AS INTEGER) AS user_bucket,
       count(*) AS n_rows,
       sum(CASE WHEN c.user_id IS NOT NULL AND b.buy_ts IS NULL
                THEN 1 ELSE 0 END)::bigint AS n_clicks_unmatched,
       sum(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END)::bigint
         AS n_buys_unmatched,
       round(coalesce(sum(b.value), 0.0), 2) AS total_value
FROM (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
FULL OUTER JOIN (SELECT user_id AS buy_user, ts AS buy_ts, value FROM events
                 WHERE event_type = 'purchase') b
  ON c.user_id = b.buy_user
 AND b.buy_ts >= c.click_ts
 AND b.buy_ts <= c.click_ts + INTERVAL 30 MINUTE
GROUP BY user_bucket
ORDER BY user_bucket
"""


# one drained checkpoint per (session, sf_dir) — the state is the artifact
@artifact
def _statestore_ckpt(spark: SparkSession, sf_dir: str) -> str:
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n_events"))
    ckpt = scratch_dir("grebi_ss_ckpt_")
    _STREAM_RUN[0] += 1
    with bounded_drain_conf(spark, state_partitions=8):
        q = (
            agg.writeStream.format("memory")
            .queryName(f"statestore_seed_{_STREAM_RUN[0]}")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return ckpt


def statestore_read_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store-as-a-table: drain a per-type streaming count into a
    checkpoint, then read the checkpoint's STATE back with Spark 4's
    ``statestore`` batch data source and report what the state holds —
    the state-inspection/debugging surface every production streaming
    deployment needs (what keys is my job carrying? is state skewed
    across partitions?), impossible before the state reader existed.

    The complete-mode aggregate's state is exactly the per-key running
    aggregate, so the state read must equal the batch GROUP BY — which
    is the oracle: this check proves the persisted state itself is
    correct, not just the sink output. Also surfaces the state's
    partition placement (n_partitions) — the skew canary.

    Scale shape: the state source plans one split per state-store
    partition and reads RocksDB/HDFS snapshot files directly — no
    running query needed, scales with the checkpoint, not the input.
    """
    state = spark.read.format("statestore").load(_statestore_ckpt(spark, sf_dir))
    return (
        state.groupBy(F.col("key.event_type").alias("event_type"))
        .agg(
            F.sum("value.count").alias("n_events"),
            F.countDistinct("partition_id").alias("n_partitions"),
        )
        .orderBy("event_type")
    )


ORACLE_STATESTORE = """
SELECT event_type,
       count(*) AS n_events,
       1 AS n_partitions
FROM events GROUP BY event_type ORDER BY event_type
"""


if _has_protobuf():  # pragma: no cover — env-dependent registration
    _TWS_EXTRA_QUERIES = {"events_tws_running_stats": events_tws_running_stats}
    _TWS_EXTRA_ORACLES = {"events_tws_running_stats": ORACLE_TWS_RUNNING}
    SKIPPED: dict[str, str] = {}
else:
    _TWS_EXTRA_QUERIES = {}
    _TWS_EXTRA_ORACLES = {}
    # surfaced in the bench record so an auto-skipped registration is
    # visible as a documented environment gap, not a silent omission
    SKIPPED = {
        "events_tws_running_stats": (
            "transformWithStateInPandas requires the protobuf package "
            "(state-server wire format); not installed in this container"
        )
    }


@artifact
def _dedup_probe_stage(spark: SparkSession, sf_dir: str) -> str:
    """Every fifth document, staged as two mtime-ordered arrival waves."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pdf = docs.filter(F.col("doc_id") % 5 == 0).toPandas()
    stage = scratch_dir("grebi_dedupstream_")
    for i, wave in enumerate((pdf[pdf.doc_id % 10 == 0], pdf[pdf.doc_id % 10 != 0])):
        path = os.path.join(stage, f"0{i}_wave.parquet")
        pq.write_table(pa.Table.from_pandas(wave, preserve_index=False), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    return stage


def docs_dedup_probe_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection AT ARRIVAL — the always-on crawl-ingest
    service run as a real Structured Streaming job, the streaming twin
    of ``dedup_incremental_probe``: arriving documents (doc_id % 5 = 0)
    land in two mtime-ordered waves (doc_id % 10 = 0, then % 10 = 5);
    each micro-batch computes its OWN LSH band keys (delta-sized,
    broadcast), probes the STORED posting index — seeded with the
    already-indexed corpus (% 5 ≠ 0), never re-shingled — verifies LSH
    candidates with exact shingle Jaccard over just the candidate docs,
    and then APPENDS its own band keys to the index, so wave 2 arrivals
    are probed against corpus ∪ wave 1 (a near-dup between two crawl
    increments is caught by the later one). Intra-batch duplicates are
    deliberately out of scope here — deduping WITHIN an increment is
    the batch operator's job (``dedup_minhash_lsh``); this operator's
    contract is increment-vs-everything-already-indexed.

    Exactly-once: both the per-batch result and the per-batch index
    append write to a batch-id-keyed directory with overwrite (the
    ``events_foreachbatch_sink`` idempotent-redelivery pattern), so a
    replayed micro-batch rewrites its own files instead of
    double-appending postings. Per-batch work: one stored-index scan
    (bucket-pruned at 100 TB with a (band,bkey)-bucketed index) joined
    BROADCAST against the arrival bands — the corpus side is never
    shuffled; verification shingles only candidate documents. Output:
    (new_doc, dup_of, jacc_pct ≥ 50) — the kill list each increment
    applies before its docs enter the training corpus.

    The ``toPandas`` below is the test harness's ARRIVAL SIMULATOR
    (staging the fixture's arrival slice as two mtime-ordered files so
    the file source replays them as ordered waves — driver-sized at
    bench scales); a production deployment points the same readStream
    at its real landing bucket / Kafka topic and stages nothing. The
    JOB's plan never collects anything corpus-sized."""
    import os
    import shutil

    from ..functions.dedup import (
        PROBE_JACC_PCT,
        _band_table,
        _probe_index_root,
        word_shingles,
    )
    from ..session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    stage = _dedup_probe_stage(spark, sf_dir)

    idx_root = scratch_dir("grebi_dedupidx_")
    out_dir = scratch_dir("grebi_dedupout_")
    shutil.rmtree(idx_root, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    # the stored posting index over the already-indexed corpus is the
    # SESSION's artifact (_probe_index_root — the same durable table
    # dedup_incremental_probe probes; identical content to the old
    # per-invocation _band_table(corpus) seed write, built once per
    # session instead of re-shingled per run, guide §1.2). The stream's
    # OWN appends stay in this invocation's scratch root: the base is
    # never mutated, so repeated runs and the batch probe can share it.
    base_root = _probe_index_root(spark, sf_dir)

    def stored_index_paths() -> list:
        own = sorted(
            os.path.join(idx_root, d)
            for d in os.listdir(idx_root)
            if d.startswith("batch=")
        ) if os.path.isdir(idx_root) else []
        return [base_root, *own]

    def shingle_rows(frame: DataFrame) -> DataFrame:
        return frame.select(
            "doc_id", F.explode(word_shingles(F.col("text"))).alias("s")
        )

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        new_bands = _band_table(batch_df).localCheckpoint()
        stored = spark.read.parquet(*stored_index_paths()).select(
            "doc_id", "band", "bkey"
        )
        cand = (
            stored.join(
                F.broadcast(
                    new_bands.select(
                        F.col("doc_id").alias("new_doc"), "band", "bkey"
                    )
                ),
                ["band", "bkey"],
            )
            .select("new_doc", F.col("doc_id").alias("dup_of"))
            .distinct()
            .localCheckpoint()
        )
        ids = (
            cand.select(F.col("new_doc").alias("doc_id"))
            .union(cand.select("dup_of"))
            .distinct()
        )
        sh = shingle_rows(docs.join(F.broadcast(ids), "doc_id")).persist()
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        inter = (
            cand.join(
                sh.select(F.col("doc_id").alias("new_doc"), "s"), "new_doc"
            )
            .join(sh.select(F.col("doc_id").alias("dup_of"), "s"), ["dup_of", "s"])
            .groupBy("new_doc", "dup_of")
            .agg(F.count("*").alias("ni"))
        )
        verified = (
            inter.join(
                sizes.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("na")),
                "new_doc",
            )
            .join(
                sizes.select(F.col("doc_id").alias("dup_of"), F.col("n").alias("nb")),
                "dup_of",
            )
            .select(
                "new_doc",
                "dup_of",
                F.expr("ni * 100 DIV (na + nb - ni)").alias("jacc_pct"),
            )
            .filter(F.col("jacc_pct") >= PROBE_JACC_PCT)
        )
        verified.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        sh.unpersist()
        # the arrivals join the index AFTER probing: idempotent
        # batch-keyed append, visible to every later micro-batch
        new_bands.write.mode("overwrite").parquet(f"{idx_root}/batch={batch_id}")

    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    with bounded_drain_conf(spark, state_partitions=8):
        q = (
            stream.writeStream.foreachBatch(probe_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", scratch_dir("grebi_dedupstream_ckpt_"))
            .start()
        )
        q.awaitTermination()

    result = (
        spark.read.parquet(out_dir)
        .select("new_doc", "dup_of", "jacc_pct")
        .orderBy("new_doc", "dup_of")
    )
    rows = result.collect()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(idx_root, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


def _oracle_dedup_probe_stream() -> str:
    # the incremental-probe oracle widened by arrival order: wave 1
    # (doc_id % 10 = 0) probes the corpus; wave 2 (% 10 = 5) probes
    # corpus ∪ wave 1 — never its own wave (intra-increment dedup is
    # the batch operator's contract)
    from ..functions.dedup import PROBE_JACC_PCT, _minhash_bands_cte

    return (
        _minhash_bands_cte()
        + f"""
, cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS dup_of
  FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
  WHERE n.doc_id % 5 = 0
    AND ( c.doc_id % 5 <> 0
          OR (n.doc_id % 10 = 5 AND c.doc_id % 10 = 0) )
), ss AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), sizes AS (
  SELECT doc_id, len(sh) AS n FROM shingled
), inter AS (
  SELECT cand.new_doc, cand.dup_of, count(*) AS ni
  FROM cand JOIN ss a ON a.doc_id = cand.new_doc
            JOIN ss b ON b.doc_id = cand.dup_of AND b.s = a.s
  GROUP BY 1, 2
)
SELECT i.new_doc, i.dup_of,
       (i.ni * 100) // (x.n + y.n - i.ni) AS jacc_pct
FROM inter i JOIN sizes x ON x.doc_id = i.new_doc
             JOIN sizes y ON y.doc_id = i.dup_of
WHERE (i.ni * 100) // (x.n + y.n - i.ni) >= {PROBE_JACC_PCT}
ORDER BY new_doc, dup_of
"""
    )


QUERIES = {
    "docs_dedup_probe_stream": docs_dedup_probe_stream,
    "events_late_data_stream": events_late_data_stream,
    "events_sliding_stream": events_sliding_stream,
    "events_outer_join_stream": events_outer_join_stream,
    "events_full_outer_stream": events_full_outer_stream,
    "events_foreachbatch_sink": events_foreachbatch_sink,
    "events_custom_session_stream": events_custom_session_stream,
    "events_latest_state_stream": events_latest_state_stream,
    "events_join_stream": events_join_stream,
    "events_sessionize_stream": events_sessionize_stream,
    "events_hourly_stream": events_hourly_stream,
    "events_dedup_stream": events_dedup_stream,
    "events_enrich_stream": events_enrich_stream,
    "docs_quality_stream": docs_quality_stream,
    "statestore_read_check": statestore_read_check,
    **_TWS_EXTRA_QUERIES,
}
ORACLES = {
    "docs_dedup_probe_stream": _oracle_dedup_probe_stream(),
    "events_late_data_stream": ORACLE_LATE_DATA,
    "events_sliding_stream": ORACLE_SLIDING_STREAM,
    "events_outer_join_stream": ORACLE_OUTER_JOIN_STREAM,
    "events_full_outer_stream": ORACLE_FULL_OUTER_STREAM,
    "events_foreachbatch_sink": ORACLE_FOREACHBATCH,
    "events_custom_session_stream": ORACLE_CUSTOM_SESSIONS,
    "events_latest_state_stream": ORACLE_EVENTS_LATEST_STATE,
    "events_join_stream": ORACLE_EVENTS_JOIN_STREAM,
    "events_sessionize_stream": ORACLE_EVENTS_SESSIONIZE_STREAM,
    "events_hourly_stream": ORACLE_EVENTS_HOURLY_STREAM,
    "events_dedup_stream": ORACLE_EVENTS_DEDUP_STREAM,
    "events_enrich_stream": ORACLE_EVENTS_ENRICH_STREAM,
    "docs_quality_stream": _oracle_docs_quality_stream(),
    "statestore_read_check": ORACLE_STATESTORE,
    **_TWS_EXTRA_ORACLES,
}
