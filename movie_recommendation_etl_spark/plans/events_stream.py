"""Event-stream-shaped batch queries (SURVEY.md §2.11 X1, §2.4 as-of): the
operations the reference never had but a general engine over an events table
needs — tumbling windows, session windows, and as-of joins.

Batch formulations here; the Structured Streaming twins (readStream +
watermark) live in movie_recommendation_etl_spark/streaming/. The batch and
streaming plans share the same F.window/session_window expressions, so
correctness established here transfers to the streaming path.

Scale notes: both window queries are one shuffle (groupBy on derived window +
key) with map-side partial aggregation; the as-of join is the union-sort
formulation from operators/joins.py — one shuffle on the key, no |L|x|R|
candidate blowup, AQE splits skewed users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.functions.numeric import dsum, sql_dsum
from movie_recommendation_etl_spark.operators.dedup import (
    dedup_keep_first,
    desc as dedup_desc,
)
from movie_recommendation_etl_spark.operators.joins import asof_join
from movie_recommendation_etl_spark.plans.registry import query
from movie_recommendation_etl_spark.sources.catalog import load_table


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window aggregate (F.window). Epoch-aligned 1h windows
    == date_trunc('hour') in the DuckDB oracle. Shared by the q30 suite arm
    and the streaming twin's batch expectation."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def gap_filled_hourly(events: DataFrame) -> DataFrame:
    """Densified hourly series per event_type: every (hour, type) cell of
    the [min, max] hour range appears, empty cells as 0 — the
    resample/gap-fill step time-series consumers need before rolling
    metrics, interpolation, or charting (a rolling average over a sparse
    series silently skips the quiet hours).

    Scale shape: the event stream is aggregated FIRST (the tumbling arm's
    bucket-level rows); the fill grid is ``sequence(min, max, 1h) ×
    collect_set(types)`` — bounded by the densification definition
    itself, never by the row count — and BOTH grid inputs come out of one
    pruned-column scan (a single global aggregate over ts + event_type).
    The left join runs on bucket-level rows, so at 100 TB the gap fill
    costs that one extra scan, not a re-shuffle of events.

    NULL event_type is EXCLUDED from densification (filtered explicitly
    here, `WHERE event_type IS NOT NULL` in the oracle grid): collect_set
    drops NULLs, and a NULL series can't be joined back by an equi join
    anyway — a NULL "type" isn't a series, it's missing data. Consumers
    who want the NULL bucket get it from tumbling_window_agg, which does
    emit it."""
    agg = tumbling_window_agg(events)
    # grid inputs (hour bounds + type list) come from ONE pruned scan of
    # events — deriving them from `agg` would physically re-execute the
    # tumbling shuffle twice more (bounds + the join's right side)
    meta = events.agg(
        F.min(F.date_trunc("hour", "ts")).alias("lo"),
        F.max(F.date_trunc("hour", "ts")).alias("hi"),
        F.collect_set("event_type").alias("types"),  # drops NULL, by design
    )
    grid = meta.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "window_start"
        ),
        "types",
    ).select("window_start", F.explode("types").alias("event_type"))
    return grid.join(agg, ["window_start", "event_type"], "left").select(
        "window_start",
        (F.col("window_start") + F.expr("INTERVAL 1 HOUR")).alias(
            "window_end"
        ),
        "event_type",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Sliding 1h windows every 30min (each event lands in 2 windows)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(events: DataFrame) -> DataFrame:
    """Gap-based session windows (F.session_window, 4h inactivity gap).
    Spark's session end = last event + gap."""
    return (
        events.groupBy(
            F.session_window("ts", "4 hours").alias("sw"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q30_window_agg_suite",
    oracle=f"""
    WITH tumb AS (
        SELECT 'tumbling' AS arm,
               date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
               event_type AS grp,
               count(*) AS n_events,
               {sql_dsum("value")} AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    ),
    expanded AS (
        SELECT e.*, unnest([
            time_bucket(INTERVAL '30 minutes', ts),
            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        ]) AS window_start
        FROM events e
    ),
    slid AS (
        SELECT 'sliding' AS arm, window_start,
               window_start + INTERVAL '1 hour' AS window_end,
               event_type AS grp,
               count(*) AS n_events,
               {sql_dsum("value")} AS sum_value
        FROM expanded
        WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
        GROUP BY window_start, event_type
    ),
    marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '4 hours'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, 1)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ),
    sess AS (
        SELECT 'session' AS arm,
               min(ts) AS window_start,
               max(ts) + INTERVAL '4 hours' AS window_end,
               CAST(user_id AS VARCHAR) AS grp,
               count(*) AS n_events,
               {sql_dsum("value")} AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    )
    SELECT * FROM tumb
    UNION ALL SELECT * FROM slid
    UNION ALL SELECT * FROM sess
    UNION ALL
    SELECT 'gapfill' AS arm, g.window_start,
           g.window_start + INTERVAL '1 hour' AS window_end,
           g.event_type AS grp,
           coalesce(tb.n_events, 0) AS n_events,
           coalesce(tb.sum_value, 0.0) AS sum_value
    FROM (
        SELECT h.window_start, t.event_type
        FROM (
            SELECT unnest(generate_series(
                (SELECT min(date_trunc('hour', ts)) FROM events),
                (SELECT max(date_trunc('hour', ts)) FROM events),
                INTERVAL '1 hour')) AS window_start
        ) h
        CROSS JOIN (SELECT DISTINCT event_type FROM events
                    WHERE event_type IS NOT NULL) t
    ) g
    LEFT JOIN tumb tb
      ON tb.window_start = g.window_start AND tb.grp = g.event_type
    UNION ALL
    SELECT 'tumbling_stream' AS arm, window_start, window_end, grp,
           n_events, sum_value
    FROM tumb
    UNION ALL
    SELECT 'session_stream' AS arm, window_start, window_end, grp,
           n_events, sum_value
    FROM sess
    """,
)
def q30_window_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window suite in ONE registry slot (r8 consolidation of
    q30_tumbling_window_agg + q31_session_window_agg + q45_sliding_window_agg
    — all three were window aggregates over the same events scan,
    discriminated here by the ``arm`` column; same playbook as the q40/q58
    suite merges). Arms:

    - ``tumbling``: 1h epoch-aligned F.window; oracle = date_trunc('hour').
    - ``sliding``: 1h windows every 30min (each event in 2 windows); the
      oracle expands each event into its candidate window starts and
      filters — exactly what Spark's window generator does physically.
    - ``session``: F.session_window with a 4h inactivity gap; the oracle is
      the classic gaps-and-islands rewrite (lag → new-session marker →
      running sum → group). Spark's session end = last event + gap.
    - ``gapfill`` (r12): the tumbling series DENSIFIED — every (hour,
      type) cell of the [min, max] range, empty cells as 0 (see
      gap_filled_hourly); the oracle replays it with generate_series ×
      DISTINCT types left-joined onto the tumbling CTE. At the gate SFs
      the grid genuinely has holes (sf0.001: 2732 of 3600 cells empty),
      so the fill itself is what hashes.

    - ``tumbling_stream`` / ``session_stream`` (r9): the tumbling and
      session arms' IDENTICAL expressions executed through the STREAMING
      engine (readStream → availableNow → memory sink, complete mode) —
      streaming oracle parity under the same hash gate, including merging
      session state across micro-batches; see _drain_streamed.

    Common schema (arm, window_start, window_end, grp, n_events, sum_value)
    with ``grp`` = event_type for the time-window arms and the user id for
    sessions. Each arm is one shuffle with map-side partial aggregation
    (session windows shuffle on user_id then merge adjacent sessions
    in-state); the union is plan-level only — no extra exchange.

    r11: the registry/oracle slot is unchanged (ONE hash gate over all
    five arms), but the two halves are separate functions
    (q30_batch_arms / q30_stream_arms) so they can be timed apart: the
    streaming drains' per-micro-
    batch fixed overhead (12-20 s/sample) drowned the batch window
    suite's sub-second signal inside one number, hiding any batch-plan
    regression in stream-trigger noise (r10 VERDICT #4)."""
    return q30_batch_arms(spark, sf_dir).unionByName(
        q30_stream_arms(spark, sf_dir)
    )


def _arm_common(df: DataFrame, arm: str, grp) -> DataFrame:
    return df.select(
        F.lit(arm).alias("arm"),
        F.col("window_start"),
        F.col("window_end"),
        grp.cast("string").alias("grp"),
        "n_events",
        "sum_value",
    )


def q30_batch_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q30 suite's BATCH half (tumbling/sliding/session) — not a
    registry slot; see q30_window_agg_suite, whose oracle gates it."""
    events = load_table(spark, sf_dir, "events")
    tumb = _arm_common(
        tumbling_window_agg(events), "tumbling", F.col("event_type")
    )
    slid = _arm_common(
        sliding_window_agg(events), "sliding", F.col("event_type")
    )
    sess = session_window_agg(events).select(
        F.lit("session").alias("arm"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        F.col("user_id").cast("string").alias("grp"),
        "n_events",
        "sum_value",
    )
    gapf = _arm_common(
        gap_filled_hourly(events), "gapfill", F.col("event_type")
    )
    return tumb.unionByName(slid).unionByName(sess).unionByName(gapf)


def q30_stream_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q30 suite's STREAMING half (the two real Structured Streaming
    drains) — not a registry slot; see q30_window_agg_suite.

    r19: the two drains are INDEPENDENT streaming queries (separate
    sources, separate uuid-named sinks, no shared state), but each
    ``_drain_streamed`` blocks on awaitTermination — running them
    sequentially serialized ~2 s of per-query trigger/startup latency
    behind another idle drain (optimization guide §2.6: actions are only
    sequential because driver code calls them sequentially). Two driver
    threads start both drains and the scheduler interleaves their
    micro-batches; each drained result is identical to the sequential
    run's, so the unioned hash is unchanged (the q30 oracle gates it)."""
    from concurrent.futures import ThreadPoolExecutor

    def _tumb() -> DataFrame:
        return _arm_common(
            _streamed_tumbling(spark, sf_dir),
            "tumbling_stream",
            F.col("event_type"),
        )

    def _sess() -> DataFrame:
        return _streamed_session(spark, sf_dir).select(
            F.lit("session_stream").alias("arm"),
            F.col("session_start").alias("window_start"),
            F.col("session_end").alias("window_end"),
            F.col("user_id").cast("string").alias("grp"),
            "n_events",
            "sum_value",
        )

    # Failure handling (r20, ADVICE r19): wait with FIRST_EXCEPTION so a
    # failed drain is NOTICED the moment it fails. The sibling drain is a
    # bounded availableNow run holding a temp source dir and a live
    # streaming query, so it is still awaited (bounded seconds) rather
    # than abandoned mid-flight — but when BOTH fail, both errors surface
    # as one ExceptionGroup instead of only the tumbling arm's.
    from concurrent.futures import FIRST_EXCEPTION, wait

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_tumb), pool.submit(_sess)]
        wait(futures, return_when=FIRST_EXCEPTION)
        wait(futures)
        excs = [e for f in futures if (e := f.exception()) is not None]
        if len(excs) == 1:
            raise excs[0]
        if excs:
            raise ExceptionGroup("both q30 streaming drains failed", excs)
        stream, sess_stream = futures[0].result(), futures[1].result()
    return stream.unionByName(sess_stream)


def _streamed_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling arm executed through the STREAMING engine — see
    _drain_streamed for the machinery and mode rationale."""
    return _drain_streamed(spark, sf_dir, tumbling_window_agg)


def _streamed_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-window arm through the STREAMING engine: merging
    session state ACROSS micro-batches is the hardest stateful path the
    engine has, so this arm forces it — the events table is rewritten
    into 4 files fed one per trigger, making every session that spans a
    file boundary a genuine cross-batch state merge (a single-batch drain
    would never execute that path while the gate claimed it did)."""
    return _drain_streamed(
        spark, sf_dir, session_window_agg, n_files=4, max_files_per_trigger=1
    )


def _drain_streamed(
    spark: SparkSession,
    sf_dir: str,
    build,
    *,
    n_files: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run ``build`` (a batch-defined aggregation builder — Spark's
    unified model applies it to a streaming frame unchanged) through the
    STREAMING engine (r8 VERDICT stretch: streaming oracle parity): a
    readStream source over the events table, drained with an availableNow
    trigger into a memory sink, returned as the finished result frame.
    Complete output mode (not append) because parity is the point —
    append would withhold every window newer than the final watermark,
    and this gate wants the streaming engine's FULL answer to hash-match
    the batch oracle. dsum keeps the value sums decimal-exact and
    order-independent across micro-batch state merges.

    Unique sink names make concurrent/repeated invocations safe; the
    memory table is copied off (localCheckpoint) and dropped before
    returning, so the session accumulates no sink views."""
    import os
    import shutil
    import tempfile
    import uuid

    from movie_recommendation_etl_spark.streaming.windows import (
        read_events_stream,
    )

    # the file-stream source lists a DIRECTORY; the testdata table is a
    # single parquet file — symlink it into a scratch dir (no copy).
    # abspath: a relative sf_dir (resolved against cwd by batch readers)
    # would otherwise produce a dangling symlink inside /tmp and an
    # empty-stream arm (r9 review).
    src_file = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stream_dir = tempfile.mkdtemp(prefix="spark_graft_q30_stream_")
    try:
        from pyspark.sql.utils import AnalysisException

        if n_files is not None:
            # multi-file rewrite: n_files files fed max_files_per_trigger
            # at a time = a controlled micro-batch count (the session arm
            # uses this to force cross-batch state merges)
            load_table(spark, sf_dir, "events").repartition(
                n_files
            ).write.mode("overwrite").parquet(stream_dir)
        else:
            try:
                # Probe with a batch read: earlier testdata generations
                # carry TIMESTAMP(NANOS) ts, which the stream's fixed
                # micros schema cannot convert (load_table's
                # _NANOS_TS_COLS fallback handles it batch-side only). A
                # nanos file fails schema conversion HERE, and the stream
                # then reads a micros REWRITE of the table instead — one
                # extra copy, paid only on legacy data.
                spark.read.parquet(src_file).schema
                os.symlink(
                    src_file, os.path.join(stream_dir, "events.parquet")
                )
            except AnalysisException:
                load_table(spark, sf_dir, "events").write.mode(
                    "overwrite"
                ).parquet(stream_dir)
        events = read_events_stream(
            spark, stream_dir, max_files_per_trigger=max_files_per_trigger
        )
        name = f"q30_stream_{uuid.uuid4().hex}"
        q = (
            build(events)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.table(name).localCheckpoint(eager=True)
        finally:
            spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@query(
    "q32_asof_click_to_error",
    oracle="""
    WITH errs_ranked AS (
        SELECT user_id, ts, event_id AS err_id, value AS err_value,
               row_number() OVER (
                   PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'error'
    ),
    errs AS (
        SELECT user_id, ts, err_id, err_value FROM errs_ranked WHERE rn = 1
    ),
    clicks AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.value, c.ts, e.err_id, e.err_value
    FROM clicks c
    ASOF LEFT JOIN errs e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def q32_asof_click_to_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY.md §2.4/J5): attach to every click the most recent
    prior-or-simultaneous error of the same user; clicks with no prior error
    keep NULLs (left semantics). Right side deduped to unique (user_id, ts)
    first so both engines pick the same match. Oracle: DuckDB ASOF LEFT JOIN.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_id"),
        F.col("value").alias("err_value"),
    )
    errors = dedup_keep_first(
        errors, ["user_id", "ts"], [dedup_desc("err_id")]
    )
    return asof_join(
        clicks, errors, on="user_id", left_ts="ts", right_ts="ts"
    )
