"""Structured Streaming queries registered in the driver contract.

Each callable runs a REAL stream — ``readStream`` file source over the
test parquet, AvailableNow trigger, memory sink — and returns the sink
table as an ordinary DataFrame, so the driver's DuckDB oracle checks the
streaming engine end-to-end (source ledger, watermark bookkeeping, state
store, sink) against a plain batch SQL statement.  Semantics note:
``complete`` output mode with AvailableNow processes the full input and
emits every window, which on a bounded input is exactly the batch
tumbling aggregation (SURVEY §2.11: the reference is batch-only; this is
the engine's forward-looking incremental form of the same operator).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_references_db_spark.queries import register
from wiki_references_db_spark.streaming.windows import windowed_event_counts
from wiki_references_db_spark.tables import table_path, table_schema

_DSUM = (
    "CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"
)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wiki_references_db_spark.tables import _pin_utc

    _pin_utc(spark)
    path = table_path(sf_dir, "events")
    schema = table_schema(spark, sf_dir, "events")
    if os.path.isdir(path):
        # Spark-written layout (degenerate-corpus sweeps, stress tool):
        # a directory of part files — point the file source at it.
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # Driver layout: a single file inside sf_dir; glob-filter it
        # out of the directory listing.
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    dtype = dict(stream.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # withWatermark requires TIMESTAMP; exact cast under the pinned-UTC
        # session (tables._pin_utc pins it for every registered query).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


@register(
    "stream_events_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_DSUM} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts computed by the STREAMING
    engine (file source -> window agg -> memory sink, AvailableNow) and
    hash-checked against the batch SQL oracle — the stream/batch
    equivalence the Structured Streaming model guarantees on bounded
    input."""
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_event_counts(_stream_events(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_sliding_counts",
    oracle=f"""
    WITH contrib AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               event_type, value
        FROM events
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_DSUM} AS total_value
    FROM contrib
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation (1 h window, 30 min slide):
    every event lands in exactly two overlapping windows, maintained
    concurrently in the state store.  The oracle materializes the same
    two window-start contributions per event in batch SQL (both engines
    align buckets on the epoch grid in UTC), so the overlap bookkeeping
    is value-hash-checked, not just row-counted."""
    name = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_event_counts(
            _stream_events(spark, sf_dir), "1 hour", slide="30 minutes"
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_join_clicks_views",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id
    FROM events v
    JOIN events c
      ON c.user_id = v.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
    """,
)
def stream_join_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks landing within 10 minutes after
    a view by the same user.  Both sides are watermarked and the join
    condition carries the event-time bound, so Spark can expire state —
    the exact shape a 100 TB clickstream attribution join needs (state
    per user bounded by the watermark + interval, shuffles keyed on
    user_id).  Append-mode memory sink; on bounded AvailableNow input
    the emitted set equals the batch interval join the oracle runs."""
    views = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (views.user_id == clicks.c_user_id)
        & (clicks.click_ts >= views.view_ts)
        & (clicks.click_ts <= views.view_ts + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("view_id", "click_id")
    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first occurrence of each
    (user_id, event_type) key emitted exactly once (``dropDuplicates``
    over the state store, append mode).  Projecting to the key columns
    makes the emitted SET deterministic regardless of arrival order, so
    the batch DISTINCT oracle hash-matches.  Note for unbounded runs:
    keep-all-keys state grows with key cardinality; the watermarked
    variant (``dropDuplicatesWithinWatermark``) trades exactness beyond
    the watermark horizon for bounded state."""
    keys = (
        _stream_events(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        keys.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_stateful_lifecycle",
    oracle="""
    SELECT event_type AS key,
           MIN(event_id) AS first_seen,
           MAX(event_id) AS last_seen,
           COUNT(*) AS appearance_count
    FROM events
    GROUP BY event_type
    """,
)
def stream_stateful_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-key first/last-seen + appearance count maintained in the state
    store across micro-batches — the streaming form of the citation
    lifecycle aggregation (A1, reference:api_v1.py:186-199).

    The update-mode memory sink holds one row per (key, micro-batch);
    folding it with min/max recovers the FINAL state regardless of how
    AvailableNow split the input (cumulative counts are monotone), which
    is what the batch oracle computes — so even this non-relational
    operator is full value-hash checked."""
    from wiki_references_db_spark.streaming.windows import stateful_lifecycle

    keyed = _stream_events(spark, sf_dir).select(
        F.col("event_type").alias("key"), F.col("event_id").alias("seq")
    )
    name = f"stream_lifecycle_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_lifecycle(keyed)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink = spark.table(name)
    return sink.groupBy("key").agg(
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
        F.max("appearance_count").alias("appearance_count"),
    )


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM flagged
    ),
    agg AS (
        SELECT user_id, sid,
               MIN(ts) AS s_start,
               MAX(ts) + INTERVAL '30 minutes' AS s_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id, n_events
    FROM agg
    WHERE s_end <= (SELECT MAX(ts) FROM events)
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (30-minute inactivity gap) per user —
    the state store merges overlapping candidate windows as events
    arrive, the scale form of sessionization (state per OPEN session
    only, evicted at the watermark; contrast the batch twin
    events_sessionize, which sorts full history per user).

    Emission semantics pinned by the oracle: append mode with a
    0-second watermark emits exactly the sessions whose end
    (last event + gap) is <= the max event time seen; the final
    still-open sessions stay in state, and the oracle's WHERE clause
    applies the same horizon.  Session merge uses a strict < gap
    comparison in Spark, mirrored by the oracle's lag() predicate."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    name = f"stream_session_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keeps a key's state only until the watermark passes its event time
    plus the delay — the 100 TB form of streaming dedup, where plain
    dropDuplicates' keep-all-keys state would grow without bound.  With
    the delay set beyond the test data's time span no state is evicted
    mid-run, so the emitted key set equals the batch DISTINCT oracle
    exactly; in production the delay is the dedup horizon."""
    keys = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "60 days")
        .select("ts", "user_id", "event_type")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"stream_dedup_wm_{uuid.uuid4().hex[:8]}"
    q = (
        keys.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_upsert_foreachbatch",
    oracle="""
    SELECT user_id, event_type, value AS last_value
    FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: a foreachBatch sink upserts each micro-batch
    into an accumulating keyed table — the parquet-era form of
    `MERGE INTO` for CDC/last-value materialization.  Within a batch
    the newest (ts, event_id) row per key survives; across batches the
    stored row loses to any newer arrival.  Because the winner is
    picked by a total order on (ts, event_id), the final table is
    IDENTICAL however AvailableNow slices the input — which is what
    lets the batch DISTINCT-ON oracle hash-check a genuinely stateful
    sink.  At scale foreachBatch writes to a keyed/bucketed table and
    this same merge is one co-located join per batch."""
    from pyspark.sql import Window

    state: dict[str, DataFrame] = {}

    def merge(batch: DataFrame, batch_id: int) -> None:
        prev = state.get("t")
        unioned = batch if prev is None else prev.unionByName(batch)
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            unioned.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # Materialize so the accumulated plan does not grow per batch
        # (same bounded-lineage trick as connected_components).
        state["t"] = merged.localCheckpoint(eager=True)

    src = _stream_events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    q = (
        src.writeStream.foreachBatch(merge)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # An empty source produces zero micro-batches, so foreachBatch never
    # ran: the accumulated table is an empty BATCH frame of the source
    # schema (src itself is a streaming frame and cannot be returned).
    result = state.get("t")
    if result is None:
        result = spark.createDataFrame([], src.schema)
    return result.select(
        "user_id", "event_type", F.col("value").alias("last_value")
    )


@register(
    "stream_enrich_static",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           {_DSUM} AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the one Structured Streaming join
    mode the family did not yet cover (stream_join_clicks_views is
    stream-stream): the event stream is joined against a bounded batch
    dimension (customer segment) and rolled up per (segment, type).

    Spark-first: a static side under a streaming join is re-planned per
    micro-batch as an ordinary broadcast hash join — no state store, no
    watermark needed for the join itself (only the aggregate holds
    state).  This is the 100 TB enrichment shape: the dim broadcasts,
    the stream never shuffles before the keyed aggregation.
    """
    from wiki_references_db_spark.tables import load_table

    static_dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    src = _stream_events(spark, sf_dir)
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        src.join(F.broadcast(static_dim), src.user_id == static_dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("total_value"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


from wiki_references_db_spark.queries.analytics import (  # noqa: E402
    _INCIDENT_BUCKET_US,
    _INCIDENT_HALF_US,
)


@register(
    "stream_incident_attribution",
    oracle=f"""
    WITH errors AS (
        SELECT event_id AS incident_id, epoch_us(ts) AS err_us
        FROM events WHERE event_type = 'error'
    ),
    purch AS (
        SELECT user_id, value, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.incident_id,
           COUNT(*) AS n_purchases,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR)
               AS DOUBLE) AS total_value
    FROM errors e JOIN purch p
      ON p.p_us >= e.err_us - {_INCIDENT_HALF_US}
     AND p.p_us <  e.err_us + {_INCIDENT_HALF_US}
    GROUP BY e.incident_id
    """,
)
def stream_incident_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketized interval join under Structured Streaming: the
    purchase STREAM is attributed to the +-5-minute windows of the
    (bounded, batch-side) error incidents — the live form of
    ``events_in_incident_windows`` an on-call dashboard would run.

    Spark-first: the static side (incidents exploded into the <=3
    5-minute buckets each window overlaps) is broadcast; the stream
    computes its own bucket key MAP-SIDE, so the only streaming join is
    a broadcast hash join on the bucket id followed by the exact
    containment filter — the stream never shuffles before the keyed
    aggregation, and no stream-stream state store is needed because
    the interval table is a dimension, not a stream."""
    from wiki_references_db_spark.tables import load_table

    # One definition of the blast radius / bucket width: the batch twin's
    # constants (queries/analytics.py) — tuning them there retunes the
    # live dashboard and all three oracle mirrors together.
    half = _INCIDENT_HALF_US
    bucket = _INCIDENT_BUCKET_US
    errors = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    us_b = F.unix_micros(F.col("ts"))
    windows = errors.select(
        F.col("event_id").alias("incident_id"),
        (us_b - F.lit(half)).alias("lo_us"),
        (us_b + F.lit(half)).alias("hi_us"),
    ).select(
        "incident_id",
        "lo_us",
        "hi_us",
        F.explode(
            F.sequence(
                F.floor(F.col("lo_us") / bucket),
                F.floor((F.col("hi_us") - 1) / bucket),
            )
        ).alias("bkt"),
    )
    src = _stream_events(spark, sf_dir)
    us_s = F.unix_micros(F.col("ts"))
    purch = src.filter(F.col("event_type") == "purchase").select(
        "value",
        us_s.alias("p_us"),
        F.floor(us_s / bucket).alias("bkt"),
    )
    name = f"stream_incident_{uuid.uuid4().hex[:8]}"
    # NO broadcast hint: the exploded window relation grows with the
    # corpus (n_errors x <=3 buckets) — the batch twin's docstring rules
    # the broadcast trick out for exactly that reason.  Left to the
    # planner, a small incident set broadcasts anyway (AQE) and a large
    # one falls back to a stream-static shuffle join on bkt.
    q = (
        purch.join(windows, "bkt")
        .filter(
            (F.col("p_us") >= F.col("lo_us")) & (F.col("p_us") < F.col("hi_us"))
        )
        .groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("total_value"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "stream_join_left_outer",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = v.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
    """,
)
def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits — with
    its click when one lands within 10 minutes, with NULL once the
    watermark proves no click can still arrive.  Null-side emission is
    what the inner join (stream_join_clicks_views) does not exercise:
    the state store holds each view until the GLOBAL watermark passes
    its join horizon, then emits the unmatched row exactly once.

    Bounded-replay flush, made deterministic: on a finite input the
    watermark never passes the last events' horizon, so their unmatched
    rows would sit in state forever; and outer-row eviction applies the
    watermark computed at the END of the PREVIOUS micro-batch, so a
    sentinel arriving in the final data batch only helps if another
    batch follows (the engine's closing no-data batch is asynchronous —
    observed racy under AvailableNow).  We therefore stage TWO sentinel
    files on a maxFilesPerTrigger=1 side source: batch N carries a
    far-future heartbeat pair (advances both sides' watermarks), batch
    N+1 carries a noop row whose only job is to BE a batch — eviction
    then runs with the advanced watermark, deterministically.  The
    heartbeat rows are filtered out of the result; an unbounded
    production stream needs none of this — time itself advances the
    watermark.  The driver-side max(ts) probe that positions the
    sentinel is bounded-replay scaffolding, not part of the production
    plan."""
    import glob as globmod
    import shutil
    import time as timemod

    from wiki_references_db_spark.tables import load_table

    import datetime as _dt

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).first()[0]
    if max_ts is None:  # zero-row corpus: any fixed instant flushes nothing
        max_ts = _dt.datetime(2000, 1, 1)

    base = _stream_events(spark, sf_dir)
    far = F.lit(max_ts) + F.expr("INTERVAL 2 HOURS")

    def _one_file(df, dest_dir, name, mtime):
        tmp = tempfile.mkdtemp(prefix="stream_lo_tmp_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = globmod.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    def _sentinel(rows, user_id):
        return spark.createDataFrame(
            rows, "event_id long, event_type string"
        ).select(
            "event_id",
            F.lit(user_id).cast("long").alias("user_id"),
            "event_type",
            far.alias("ts"),
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in base.schema.fields
                if f.name not in ("event_id", "user_id", "event_type", "ts")
            ],
        ).select(*[f.name for f in base.schema.fields])

    # TWO flush files, each a self-matching far-future view+click pair:
    # the file source's initial-snapshot ordering is not contractual, but
    # whichever pair lands first advances both watermarks, and the other
    # pair's batch then runs eviction with the advanced watermark — so
    # the flush is order-independent.
    sentinel_dir = tempfile.mkdtemp(prefix="stream_lo_sentinel_")
    now = timemod.time()
    _one_file(
        _sentinel([(-1, "view"), (-2, "click")], -999_990_000),
        sentinel_dir, "a_flush.parquet", now - 10,
    )
    _one_file(
        _sentinel([(-3, "view"), (-4, "click")], -999_990_001),
        sentinel_dir, "b_flush.parquet", now,
    )
    sent_stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sentinel_dir)
    )

    # ONE watermark node, applied BEFORE the view/click split: with a
    # watermark per branch, the two branches share the same source
    # instances and (observed empirically) the sentinel rows register at
    # only one branch's watermark node — the global min then never
    # advances and the tail views never flush.  Watermark metadata
    # propagates through the filters/projections below, so the join
    # still sees an event-time watermark on both inputs.
    full = base.unionByName(sent_stream).withWatermark("ts", "10 minutes")
    views = full.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = full.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = (
        views.join(
            clicks,
            (views.user_id == clicks.c_user_id)
            & (clicks.click_ts >= views.view_ts)
            & (clicks.click_ts <= views.view_ts + F.expr("INTERVAL 10 MINUTES")),
            "left_outer",
        )
        .filter(F.col("view_id") >= 0)  # drop the heartbeat's own row
        .select("view_id", "click_id")
    )
    name = f"stream_lo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(sentinel_dir, ignore_errors=True)
    return spark.table(name)


@register(
    "stream_join_then_window",
    oracle="""
    SELECT strftime(date_trunc('hour', v.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_attributed
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = v.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
    GROUP BY 1
    """,
)
def stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming: a stream-stream interval join feeding
    a tumbling-window aggregation in ONE query — two state stores, with
    the engine propagating the event-time watermark through the join so
    the downstream window can finalize (the multi-stateful pipeline
    Spark supports since 3.5; the shape every streaming attribution
    rollup needs).  Append mode end-to-end: a window emits exactly once,
    when the watermark proves it complete.

    Bounded-replay flush reuses the two-file heartbeat of
    stream_join_left_outer: the heartbeat pair advances the global
    watermark in its batch; the second file's batch then finalizes every
    real window.  The heartbeat's own joined row is filtered out
    BETWEEN the join and the aggregate — filters do not affect the
    watermark, which is exactly why the flush still works."""
    import datetime as _dt
    import glob as globmod
    import shutil
    import time as timemod

    from wiki_references_db_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).first()[0]
    if max_ts is None:
        max_ts = _dt.datetime(2000, 1, 1)

    base = _stream_events(spark, sf_dir)
    far = F.lit(max_ts) + F.expr("INTERVAL 4 HOURS")

    def _one_file(df, dest_dir, name, mtime):
        tmp = tempfile.mkdtemp(prefix="stream_jw_tmp_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = globmod.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    def _sentinel(rows, user_id):
        return spark.createDataFrame(
            rows, "event_id long, event_type string"
        ).select(
            "event_id",
            F.lit(user_id).cast("long").alias("user_id"),
            "event_type",
            far.alias("ts"),
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in base.schema.fields
                if f.name not in ("event_id", "user_id", "event_type", "ts")
            ],
        ).select(*[f.name for f in base.schema.fields])

    sentinel_dir = tempfile.mkdtemp(prefix="stream_jw_sentinel_")
    now = timemod.time()
    _one_file(
        _sentinel([(-1, "view"), (-2, "click")], -999_990_000),
        sentinel_dir, "a_flush.parquet", now - 10,
    )
    _one_file(
        _sentinel([(-3, "view"), (-4, "click")], -999_990_001),
        sentinel_dir, "b_flush.parquet", now,
    )
    sent_stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sentinel_dir)
    )

    # One watermark node BEFORE the split (see stream_join_left_outer).
    full = base.unionByName(sent_stream).withWatermark("ts", "10 minutes")
    views = full.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = full.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    attributed = (
        views.join(
            clicks,
            (views.user_id == clicks.c_user_id)
            & (clicks.click_ts >= views.view_ts)
            & (clicks.click_ts <= views.view_ts + F.expr("INTERVAL 10 MINUTES")),
            "inner",
        )
        .filter(F.col("view_id") >= 0)  # drop heartbeat pairs pre-agg
    )
    hourly = (
        attributed.groupBy(F.window("view_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_attributed",
        )
    )
    name = f"stream_jw_{uuid.uuid4().hex[:8]}"
    q = (
        hourly.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(sentinel_dir, ignore_errors=True)
    return spark.table(name)


@register(
    "stream_join_full_outer",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = v.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
    """,
)
def stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join: matched view/click pairs,
    views with no click, AND clicks attached to no view — both null
    sides emitted on watermark-proven absence, which doubles the state
    bookkeeping the left-outer variant exercises (each side's rows must
    be held until the watermark clears THEIR horizon).  Same
    deterministic two-file heartbeat flush and single pre-split
    watermark as stream_join_left_outer; the heartbeat pair matches
    itself and is filtered from the result."""
    import datetime as _dt
    import glob as globmod
    import shutil
    import time as timemod

    from wiki_references_db_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).first()[0]
    if max_ts is None:
        max_ts = _dt.datetime(2000, 1, 1)

    base = _stream_events(spark, sf_dir)
    far = F.lit(max_ts) + F.expr("INTERVAL 2 HOURS")

    def _one_file(df, dest_dir, name, mtime):
        tmp = tempfile.mkdtemp(prefix="stream_fo_tmp_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = globmod.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(dest_dir, name)
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    def _sentinel(rows, user_id):
        return spark.createDataFrame(
            rows, "event_id long, event_type string"
        ).select(
            "event_id",
            F.lit(user_id).cast("long").alias("user_id"),
            "event_type",
            far.alias("ts"),
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in base.schema.fields
                if f.name not in ("event_id", "user_id", "event_type", "ts")
            ],
        ).select(*[f.name for f in base.schema.fields])

    sentinel_dir = tempfile.mkdtemp(prefix="stream_fo_sentinel_")
    now = timemod.time()
    _one_file(
        _sentinel([(-1, "view"), (-2, "click")], -999_990_000),
        sentinel_dir, "a_flush.parquet", now - 10,
    )
    _one_file(
        _sentinel([(-3, "view"), (-4, "click")], -999_990_001),
        sentinel_dir, "b_flush.parquet", now,
    )
    sent_stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sentinel_dir)
    )

    full = base.unionByName(sent_stream).withWatermark("ts", "10 minutes")
    views = full.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = full.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = (
        views.join(
            clicks,
            (views.user_id == clicks.c_user_id)
            & (clicks.click_ts >= views.view_ts)
            & (clicks.click_ts <= views.view_ts + F.expr("INTERVAL 10 MINUTES")),
            "full_outer",
        )
        # Drop the heartbeat rows from either side (they match each
        # other, but filter both endpoints defensively).
        .filter(
            (F.col("view_id").isNull() | (F.col("view_id") >= 0))
            & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        )
        .select("view_id", "click_id")
    )
    name = f"stream_fo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_q_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(sentinel_dir, ignore_errors=True)
    return spark.table(name)


def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = table_path(sf_dir, "documents")
    schema = table_schema(spark, sf_dir, "documents")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _incr_dedup_oracle() -> str:
    from wiki_references_db_spark.queries.training import (
        _INCR_DEDUP_TAIL_SQL,
        _SHINGLE_CTE_SQL,
        _band_rows_cte_sql,
    )

    return _SHINGLE_CTE_SQL + _band_rows_cte_sql() + _INCR_DEDUP_TAIL_SQL


def _sink_has_parquet(sink: str) -> bool:
    """True iff the (possibly batch_id-partitioned) parquet sink holds
    at least one data file — os.walk because partitioned layouts nest
    files under batch_id=N/ directories."""
    for _root, _dirs, files in os.walk(sink):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _write_batch_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """The idempotent foreachBatch parquet sink: partition by batch_id
    and overwrite ONLY that partition (dynamic partition overwrite).
    foreachBatch is at-least-once — a retried micro-batch re-running
    this call REPLACES its earlier partial/complete output instead of
    appending a second copy, while committed batches' partitions are
    untouched.  Exactly-once per row by layout, not by luck
    (regression-tested in tests/test_stream_sink_idempotence.py)."""
    df.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(path)


@register("stream_dedup_vs_corpus", oracle=_incr_dedup_oracle())
def stream_dedup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dedup against a static corpus: the incoming
    document stream (docs with ``doc_id % 10 = 0`` stand in for the
    live crawl) is checked per micro-batch against the EXISTING
    corpus's MinHash band index — the streaming twin of
    ``dedup_incremental_batch`` and the shape an always-on ingestion
    pipeline runs: hash the delta, probe the index, verify candidates,
    sink the duplicate pairs; corpus x corpus and batch x batch pairs
    are never generated.

    Spark-first: ``foreachBatch`` is the right stateful boundary here —
    each micro-batch's dedup is independent (a new doc appears in
    exactly one batch and is compared only against the static index),
    so no cross-batch state store is needed at all, and inside the
    batch the full relational form (distinct candidates + two keyed
    aggregates) applies unrestricted, which pure streaming aggregation
    modes would disallow.  The file-source ledger gives exactly-once
    batches; the sink is parquet PARTITIONED BY batch_id with dynamic
    partition overwrite, so foreachBatch's at-least-once retries
    rewrite their own partition instead of double-emitting — the
    idempotent production sink discipline (here a scratch dir the
    query reads back).  At
    100 TB the static band index is a persisted table bucketed BY
    (band_id, band_key), making the per-batch probe shuffle-free on
    the corpus side — plan pinned in tests/test_bucketing.py
    (test_band_index_bucketed_probe_shuffles_only_delta: exactly one
    Exchange, on the delta side); per batch the work is linear in
    delta size."""
    from wiki_references_db_spark.queries.training import (
        _SHINGLES_FROM_TOKS,
        _TOKENS,
        _band_rows_spark,
        _docs_with_shingles,
    )

    # Static side, built once: the deduped corpus's band index and its
    # shingle relation (both derive from the shared shingle cache).
    corpus_ds = (
        _docs_with_shingles(spark, sf_dir)
        .filter(F.size("shingles") > 0)
        .filter(F.col("doc_id") % 10 != 0)
    )
    index = _band_rows_spark(corpus_ds).select(
        F.col("doc_id").alias("corpus_doc"), "band_id", "band_key"
    )
    corpus_rows = corpus_ds.select(
        F.col("doc_id").alias("corpus_doc"), F.explode("shingles").alias("shingle")
    )
    corpus_counts = corpus_ds.select(
        F.col("doc_id").alias("corpus_doc"), F.size("shingles").alias("nb")
    )

    out_dir = tempfile.mkdtemp(prefix="stream_dedup_sink_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ds_b = (
            batch_df.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", F.expr(_TOKENS).alias("toks"))
            .select("doc_id", F.expr(_SHINGLES_FROM_TOKS).alias("shingles"))
            .filter(F.size("shingles") > 0)
        )
        bands_b = _band_rows_spark(ds_b).select(
            F.col("doc_id").alias("new_doc"), "band_id", "band_key"
        )
        cand = (
            bands_b.join(index, ["band_id", "band_key"])
            .select("new_doc", "corpus_doc")
            .distinct()
        )
        ra = ds_b.select(
            F.col("doc_id").alias("new_doc"), F.explode("shingles").alias("shingle")
        )
        inter = (
            cand.join(ra, "new_doc")
            .join(corpus_rows, ["corpus_doc", "shingle"])
            .groupBy("new_doc", "corpus_doc")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        ca = ds_b.select(
            F.col("doc_id").alias("new_doc"), F.size("shingles").alias("na")
        )
        jaccard = F.col("n_common").cast("double") / (
            F.col("na") + F.col("nb") - F.col("n_common")
        )
        result = (
            inter.join(ca, "new_doc")
            .join(corpus_counts, "corpus_doc")
            .select("new_doc", "corpus_doc", jaccard.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.6)
        )
        _write_batch_idempotent(result, batch_id, os.path.join(out_dir, "pairs"))

    src = _stream_documents(spark, sf_dir)
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_stream_q_")
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Materialize the sink out of the scratch dirs before removing them
    # (sibling stream_* queries rmtree their replay scaffolding the same
    # way): localCheckpoint pins the rows in the block manager, so the
    # returned DataFrame no longer reads the deleted directory.
    import shutil

    sink = os.path.join(out_dir, "pairs")
    if _sink_has_parquet(sink):
        result = (
            spark.read.parquet(sink)
            .select("new_doc", "corpus_doc", "jaccard")
            .localCheckpoint(eager=True)
        )
    else:
        result = spark.createDataFrame(
            [], "new_doc bigint, corpus_doc bigint, jaccard double"
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


def _stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = table_path(sf_dir, "embeddings")
    schema = table_schema(spark, sf_dir, "embeddings")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def _stream_semdedup_oracle() -> str:
    from wiki_references_db_spark.queries.training import (
        _SEMDEDUP_ASSIGN_SQL,
        _SEMDEDUP_INC_TAU,
        _dot_sql,
    )

    return f"""
    WITH {_SEMDEDUP_ASSIGN_SQL.strip()},
    mem AS (
        SELECT a.vec_id, a.cell, e.embedding, n.nrm,
               e.vec_id % 10 = 3 AS in_batch
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN norms n ON n.vec_id = a.vec_id
    ),
    probe AS (
        SELECT b.vec_id, COUNT(*) AS n
        FROM mem b JOIN mem c ON b.cell = c.cell
                              AND b.in_batch AND NOT c.in_batch
        WHERE {_dot_sql("b.embedding", "c.embedding")} / (b.nrm * c.nrm)
              >= {_SEMDEDUP_INC_TAU}
        GROUP BY b.vec_id
    )
    SELECT m.vec_id, m.cell,
           COALESCE(p.n, 0) AS n_dup_neighbors,
           CAST(COALESCE(p.n, 0) > 0 AS INTEGER) AS is_dup
    FROM mem m LEFT JOIN probe p ON p.vec_id = m.vec_id
    WHERE m.in_batch
    ORDER BY m.vec_id
    """


@register("stream_semdedup_vs_corpus", oracle=_stream_semdedup_oracle())
def stream_semdedup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SemDeDup against a static corpus — the semantic twin
    of ``stream_dedup_vs_corpus`` (MinHash band index) and the
    streaming member of the SemDeDup triad (global
    ``dedup_semdedup_cells``, batch-incremental
    ``dedup_semdedup_incremental``).  The arriving vector stream
    (vec_id % 10 == 3 stands in for the live embed-and-ingest feed) is
    assigned per micro-batch to the shared coarse cells (broadcast
    centroids, map-side) and probed ONLY against same-cell CORPUS
    members; each batch vector is emitted once per committed batch
    with its qualifying-neighbor count and dup flag — and the sink is
    parquet partitioned by batch_id with dynamic partition overwrite,
    so an at-least-once foreachBatch retry rewrites its own partition
    rather than double-emitting (idempotence by layout, not by luck).

    Spark-first: ``foreachBatch`` is the right stateful boundary —
    each vector appears in exactly one micro-batch and is compared
    only against the static cell index, so no cross-batch state store
    is needed; inside the batch the full relational form (window
    argmax + equi-join + keyed count) applies unrestricted.  At 100 TB
    the static side is a persisted table bucketed BY cell, making the
    per-batch probe shuffle-free on the corpus side — plan pinned in
    tests/test_bucketing.py
    (test_cell_index_bucketed_probe_shuffles_only_delta: exactly one
    Exchange, on the delta side); per batch the work is linear in
    delta size."""
    from pyspark.sql import Window

    from wiki_references_db_spark.queries.training import (
        _IVF_CENT_MOD,
        _IVF_CENT_REM,
        _SEMDEDUP_INC_TAU,
        _semdedup_assign,
        _dot_expr,
        _norm_expr,
    )
    from wiki_references_db_spark.storage import persist_corpus

    e, assign = _semdedup_assign(
        spark,
        sf_dir,
        ("embedding", F.expr(_norm_expr("embedding")).alias("nrm")),
    )
    # Static cell index, built once and probed by every micro-batch:
    # corpus members only (DISK_ONLY, corpus-proportional; released by
    # the standard per-query clearCache()).  r14: embedding + nrm ride
    # out of the map-side assignment — no corpus equi-join.
    corpus = persist_corpus(
        assign.filter(~(F.col("vec_id") % 10 == 3)).select(
            F.col("cell").alias("cell_c"),
            F.col("embedding").alias("ec"),
            F.col("nrm").alias("nrm_c"),
        )
    )
    cents = e.filter(F.col("vec_id") % _IVF_CENT_MOD == _IVF_CENT_REM).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_cent"),
    )

    out_dir = tempfile.mkdtemp(prefix="stream_semdedup_sink_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.filter(F.col("vec_id") % 10 == 3).select(
            "vec_id",
            F.col("embedding").alias("eb"),
            F.expr(_norm_expr("embedding")).alias("nrm_b"),
        )
        cos = b.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "eb",
            "nrm_b",
            "cent_id",
            (
                F.expr(_dot_expr("eb", "ce")) / (F.col("nrm_b") * F.col("nrm_cent"))
            ).alias("cosine"),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cosine").desc(), F.col("cent_id")
        )
        memb = (
            cos.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("cent_id").alias("cell"), "eb", "nrm_b")
        )
        hits = (
            memb.join(corpus, F.col("cell") == F.col("cell_c"))
            .filter(
                F.expr(_dot_expr("eb", "ec")) / (F.col("nrm_b") * F.col("nrm_c"))
                >= _SEMDEDUP_INC_TAU
            )
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        result = (
            memb.select("vec_id", "cell")
            .join(hits, "vec_id", "left")
            .select(
                "vec_id",
                "cell",
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                    "n_dup_neighbors"
                ),
                (F.coalesce(F.col("n"), F.lit(0)) > 0).cast("int").alias(
                    "is_dup"
                ),
            )
        )
        _write_batch_idempotent(result, batch_id, os.path.join(out_dir, "rows"))

    src = _stream_embeddings(spark, sf_dir)
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_stream_q_")
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import shutil

    sink = os.path.join(out_dir, "rows")
    if _sink_has_parquet(sink):
        result = (
            spark.read.parquet(sink)
            .select("vec_id", "cell", "n_dup_neighbors", "is_dup")
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    else:
        result = spark.createDataFrame(
            [], "vec_id bigint, cell bigint, n_dup_neighbors bigint, is_dup int"
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


def _cdc_probe_oracle() -> str:
    from wiki_references_db_spark.queries.training import (
        _CDC_CHUNKROWS_CTE_SQL,
        _CDC_MIN_REPORT_LEN,
    )

    return f"""
    WITH {_CDC_CHUNKROWS_CTE_SQL},
    corpus_idx AS (
        SELECT DISTINCT md5(chunk) AS h FROM chunk_rows
        WHERE doc_id % 10 <> 0 AND length(chunk) >= {_CDC_MIN_REPORT_LEN}
    ),
    batch AS (
        SELECT doc_id AS new_doc, chunk, md5(chunk) AS h FROM chunk_rows
        WHERE doc_id % 10 = 0 AND length(chunk) >= {_CDC_MIN_REPORT_LEN}
    )
    SELECT b.new_doc, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN i.h IS NOT NULL THEN length(b.chunk)
                         ELSE 0 END) AS BIGINT) AS dup_chars
    FROM batch b LEFT JOIN corpus_idx i ON i.h = b.h
    GROUP BY b.new_doc
    """


@register("stream_cdc_chunks_vs_corpus", oracle=_cdc_probe_oracle())
def stream_cdc_chunks_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING content-defined-chunk dedup probe: each micro-batch of
    incoming documents (``doc_id % 10 = 0`` stands in for the live
    crawl) is CDC-chunked and probed against the EXISTING corpus's
    chunk-hash index, emitting per new document its chunk count, how
    many of its chunks already exist in the corpus, and the duplicated
    character volume — the per-document dedup-savings measure an
    always-on ingestion pipeline computes before deciding to store,
    deduplicate, or drop.  The streaming twin of ``dedup_cdc_chunks``
    exactly as ``stream_dedup_vs_corpus`` is the MinHash index's twin.

    Spark-first: ``foreachBatch`` again — per-batch work is
    independent (a new doc is chunked once and probed only against the
    static index; corpus x corpus and batch x batch pairs are never
    formed), so no cross-batch state store; inside the batch the probe
    is one broadcast/bucketed hash join against the distinct-hash
    index.  The sink is parquet partitioned by batch_id with dynamic
    partition overwrite (idempotent under foreachBatch's
    at-least-once retries, same discipline as every foreachBatch sink
    here).  At 100 TB the chunk index is a persisted table bucketed by
    hash, the probe shuffles only the delta, and index maintenance is
    append-only (new chunks union in)."""
    from wiki_references_db_spark.queries.training import (
        _CDC_MIN_REPORT_LEN,
        _cdc_chunk_rows,
    )
    from wiki_references_db_spark.tables import load_table

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    index = (
        _cdc_chunk_rows(corpus)
        .filter(F.length("chunk") >= _CDC_MIN_REPORT_LEN)
        .select(F.md5("chunk").alias("h"))
        .distinct()
    )

    out_dir = tempfile.mkdtemp(prefix="stream_cdc_sink_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = (
            _cdc_chunk_rows(batch_df.filter(F.col("doc_id") % 10 == 0))
            .filter(F.length("chunk") >= _CDC_MIN_REPORT_LEN)
            .select(
                F.col("doc_id").alias("new_doc"),
                F.length("chunk").alias("clen"),
                F.md5("chunk").alias("h"),
            )
        )
        probed = batch.join(
            index.select("h", F.lit(1).alias("hit")), "h", "left"
        )
        result = probed.groupBy("new_doc").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.sum(
                F.when(F.col("hit").isNotNull(), F.col("clen")).otherwise(0)
            )
            .cast("long")
            .alias("dup_chars"),
        )
        _write_batch_idempotent(result, batch_id, os.path.join(out_dir, "rows"))

    src = _stream_documents(spark, sf_dir)
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_stream_cdc_")
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import shutil

    sink = os.path.join(out_dir, "rows")
    if _sink_has_parquet(sink):
        result = (
            spark.read.parquet(sink)
            .select("new_doc", "n_chunks", "n_dup_chunks", "dup_chars")
            .localCheckpoint(eager=True)
        )
    else:
        result = spark.createDataFrame(
            [], "new_doc bigint, n_chunks bigint, n_dup_chunks bigint,"
            " dup_chars bigint"
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


# --------------------------------------------------------------------------
# Streaming distribution-drift probe (round 13): per-source one-vs-corpus
# KS over document lengths, accumulated as mergeable counts
# --------------------------------------------------------------------------

_DRIFT_ORACLE = """
    WITH s AS (
        SELECT source, n_chars AS v, COUNT(*) AS c
        FROM documents WHERE doc_id % 7 = 0 GROUP BY source, n_chars
    ),
    k AS (
        SELECT source, n_chars AS v, COUNT(*) AS c
        FROM documents WHERE doc_id % 7 <> 0 GROUP BY source, n_chars
    ),
    u AS (
        SELECT COALESCE(s.source, k.source) AS source,
               COALESCE(s.v, k.v) AS v,
               COALESCE(s.c, 0) AS cs,
               COALESCE(k.c, 0) AS cc
        FROM s FULL OUTER JOIN k ON k.source = s.source AND k.v = s.v
    ),
    cums AS (
        SELECT source, v,
               SUM(cs) OVER (PARTITION BY source ORDER BY v) AS cum_s,
               SUM(cc) OVER (PARTITION BY source ORDER BY v) AS cum_c,
               SUM(cs) OVER (PARTITION BY source) AS tot_s,
               SUM(cc) OVER (PARTITION BY source) AS tot_c
        FROM u
    ),
    diffs AS (
        SELECT source,
               CAST(tot_s AS BIGINT) AS n_stream_docs,
               CAST(tot_c AS BIGINT) AS n_corpus_docs,
               v,
               abs(CAST(cum_s AS DOUBLE) / tot_s
                   - CAST(cum_c AS DOUBLE) / tot_c) AS diff
        FROM cums WHERE tot_s > 0 AND tot_c > 0
    ),
    ranked AS (
        SELECT source, n_stream_docs, n_corpus_docs, v, diff,
               row_number() OVER (PARTITION BY source
                   ORDER BY diff DESC, v) AS rn
        FROM diffs
    )
    SELECT source, n_stream_docs, n_corpus_docs,
           diff AS ks_stat, v AS ks_at_value
    FROM ranked WHERE rn = 1
"""


@register("stream_length_drift_probe", oracle=_DRIFT_ORACLE)
def stream_length_drift_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distribution-drift monitor: each micro-batch of
    incoming documents (``doc_id % 7 = 0`` stands in for the live
    crawl — 7, not the usual 10, because the synthetic corpus assigns
    ``source = src{doc_id % 20}`` and a slice correlated with the
    source key would give every source an EMPTY stream or corpus side;
    7 is coprime with 20, so every source sees both) contributes its
    per-(source, length) COUNTS to the sink;
    after the stream drains, each source's accumulated length
    distribution is KS-tested against the STATIC corpus's distribution
    for the same source (``doc_id % 10 <> 0``) — "is today's crawl of
    source X still shaped like the corpus we trained on?".  The
    streaming twin of ``source_length_ks`` exactly as
    ``stream_cdc_chunks_vs_corpus`` twins ``dedup_cdc_chunks``.

    Spark-first, and the key design point: the KS statistic itself is
    NOT mergeable across micro-batches, but its sufficient statistic —
    the (source, value) count table — is, so the per-batch work is a
    tiny keyed count aggregation (no state store, no cross-batch
    shuffle) and the sup-over-CDFs is evaluated ONCE at read time over
    the summed counts.  That split makes the probe's output exactly
    batch-partition-invariant (counts add regardless of how the stream
    was chopped), which is what makes a full SQL oracle possible for a
    streaming query.  The sink is parquet partitioned by batch_id with
    dynamic partition overwrite (idempotent under foreachBatch's
    at-least-once retries).  At 100 TB the count table is
    value-DOMAIN-sized per source (a histogram, not a row set), the
    per-batch aggregation shuffles only the delta, and the final KS
    windows run over sources x distinct-lengths — independent of
    corpus row count."""
    from pyspark.sql import Window

    from wiki_references_db_spark.tables import load_table

    out_dir = tempfile.mkdtemp(prefix="stream_drift_sink_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.filter(F.col("doc_id") % 7 == 0)
            .groupBy("source", F.col("n_chars").alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        _write_batch_idempotent(counts, batch_id, os.path.join(out_dir, "rows"))

    src = _stream_documents(spark, sf_dir)
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_stream_drift_")
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import shutil

    sink = os.path.join(out_dir, "rows")
    if _sink_has_parquet(sink):
        stream_counts = (
            spark.read.parquet(sink)
            .groupBy("source", "v")
            .agg(F.sum("c").alias("cs"))
        )
    else:
        stream_counts = spark.createDataFrame(
            [], "source string, v bigint, cs bigint"
        )
    corpus_counts = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 != 0)
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    u = (
        stream_counts.join(corpus_counts, ["source", "v"], "full_outer")
        .select(
            "source",
            "v",
            F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
        )
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    cums = (
        u.withColumn("cum_s", F.sum("cs").over(wc))
        .withColumn("cum_c", F.sum("cc").over(wc))
        .withColumn("tot_s", F.sum("cs").over(wt))
        .withColumn("tot_c", F.sum("cc").over(wt))
    )
    diffs = cums.filter((F.col("tot_s") > 0) & (F.col("tot_c") > 0)).select(
        "source",
        F.col("tot_s").alias("n_stream_docs"),
        F.col("tot_c").alias("n_corpus_docs"),
        "v",
        F.abs(
            F.col("cum_s").cast("double") / F.col("tot_s")
            - F.col("cum_c").cast("double") / F.col("tot_c")
        ).alias("diff"),
    )
    rw = Window.partitionBy("source").orderBy(F.col("diff").desc(), F.col("v"))
    result = (
        diffs.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            "n_stream_docs",
            "n_corpus_docs",
            F.col("diff").alias("ks_stat"),
            F.col("v").alias("ks_at_value"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


# --------------------------------------------------------------------------
# Streaming SimHash probe: lexical-fingerprint member of the
# stream-vs-corpus probe family (exact MinHash / SemDeDup / CDC twins)
# --------------------------------------------------------------------------


def _simhash_probe_oracle() -> str:
    from wiki_references_db_spark.queries.training import (
        _HAMMING64_SQL,
        _SIMHASH_BLOCK_CAP,
        _SIMHASH_FP_CTE_SQL,
        _SIMHASH_HAM_K,
    )

    return f"""
    WITH {_SIMHASH_FP_CTE_SQL.strip()},
    ckept AS (
        SELECT b, blk FROM blocks WHERE doc_id % 10 <> 0
        GROUP BY b, blk HAVING COUNT(*) <= {_SIMHASH_BLOCK_CAP}
    ),
    cand AS (
        SELECT DISTINCT nb.doc_id AS new_doc, cb.doc_id AS corpus_doc,
                        nb.f AS fa, cb.f AS fb
        FROM blocks nb
        JOIN blocks cb ON cb.b = nb.b AND cb.blk = nb.blk
        JOIN ckept k ON k.b = cb.b AND k.blk = cb.blk
        WHERE nb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0
    ),
    ham AS (
        SELECT new_doc, corpus_doc, {_HAMMING64_SQL} AS hamming FROM cand
    )
    SELECT new_doc, corpus_doc, hamming FROM ham
    WHERE hamming <= {_SIMHASH_HAM_K}
    """


@register("stream_simhash_vs_corpus", oracle=_simhash_probe_oracle())
def stream_simhash_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SimHash near-dup probe against a static corpus — the
    lexical-fingerprint member of the stream-vs-corpus family
    (``stream_dedup_vs_corpus`` probes the MinHash band index,
    ``stream_semdedup_vs_corpus`` the semantic cells,
    ``stream_cdc_chunks_vs_corpus`` the chunk-hash index).  Arriving
    documents (``doc_id % 10 = 0``) are fingerprinted per micro-batch
    with the SAME map-only higher-order-function chain as the batch
    query, probed against the corpus's pigeonhole block index (4 x
    16-bit blocks), and candidate pairs are Hamming-verified exactly —
    pigeonhole banding makes the probe lossless at distance <=
    ``_SIMHASH_HAM_K`` (up to the documented boilerplate bucket cap on
    the corpus side; a corpus bucket of size 1 still pairs, so only the
    cap filters — there is no >= 2 requirement as in the batch join).

    Scale shape: the block index is built ONCE and at 100 TB is a
    persisted table bucketed by (b, blk) so the per-batch probe
    shuffles only the delta; batch x batch and corpus x corpus pairs
    are never generated, and per-batch work is linear in delta size
    times bucket occupancy (n_corpus / 2^16 per block)."""
    from wiki_references_db_spark.queries.training import (
        _fp_halves,
        _HAMMING64_INT_SPARK,
        _SIMHASH_BLOCK_CAP,
        _SIMHASH_HAM_K,
        _simhash_over,
    )
    from wiki_references_db_spark.storage import persist_corpus
    from wiki_references_db_spark.tables import load_table

    _block_expr = (
        "transform(sequence(0, 3), i -> struct(i AS b,"
        " substring(simhash64, i * 16 + 1, 16) AS blk))"
    )

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    cfp = persist_corpus(
        _simhash_over(corpus).select("doc_id", "simhash64", *_fp_halves())
    )
    cblocks = cfp.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("ha").alias("ha_b"),
        F.col("hb").alias("hb_b"),
        F.explode(F.expr(_block_expr)).alias("e"),
    ).select("corpus_doc", "ha_b", "hb_b", "e.b", "e.blk")
    ckept = (
        cblocks.groupBy("b", "blk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _SIMHASH_BLOCK_CAP)
        .select("b", "blk")
    )
    index = cblocks.join(ckept, ["b", "blk"])

    out_dir = tempfile.mkdtemp(prefix="stream_simhash_sink_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        nfp = _simhash_over(
            batch_df.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
        ).select("doc_id", "simhash64", *_fp_halves())
        nblocks = nfp.select(
            F.col("doc_id").alias("new_doc"),
            F.col("ha").alias("ha_a"),
            F.col("hb").alias("hb_a"),
            F.explode(F.expr(_block_expr)).alias("e"),
        ).select("new_doc", "ha_a", "hb_a", "e.b", "e.blk")
        cand = (
            nblocks.join(index, ["b", "blk"])
            .select("new_doc", "corpus_doc", "ha_a", "hb_a", "ha_b", "hb_b")
            .distinct()
        )
        result = (
            cand.withColumn("hamming", F.expr(_HAMMING64_INT_SPARK))
            .filter(F.col("hamming") <= _SIMHASH_HAM_K)
            .select("new_doc", "corpus_doc", "hamming")
        )
        _write_batch_idempotent(result, batch_id, os.path.join(out_dir, "pairs"))

    src = _stream_documents(spark, sf_dir)
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_stream_q_")
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import shutil

    sink = os.path.join(out_dir, "pairs")
    if _sink_has_parquet(sink):
        result = (
            spark.read.parquet(sink)
            .select("new_doc", "corpus_doc", "hamming")
            .localCheckpoint(eager=True)
        )
    else:
        result = spark.createDataFrame(
            [], "new_doc bigint, corpus_doc bigint, hamming bigint"
        )
    cfp.unpersist()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


# --------------------------------------------------------------------------
# Streaming perceptron scorer: the train-on-corpus / score-the-stream
# member of the classifier family (train -> serve -> stream symmetry)
# --------------------------------------------------------------------------


def _perc_stream_oracle() -> str:
    from wiki_references_db_spark.queries.pipeline_extra import (
        _FEAT_SQL,
        _LABEL_POS_SQL,
        _perc_ctes_sql,
    )
    from wiki_references_db_spark.queries.training import _TOKENS_SQL

    return f"""
    WITH {_perc_ctes_sql(" WHERE doc_id % 10 <> 0")},
    sfeat AS (
        SELECT doc_id, {_FEAT_SQL.strip().format(t=_TOKENS_SQL)},
               CASE WHEN {_LABEL_POS_SQL}
                    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT s.doc_id,
           wc.w1*x1 + wc.w2*x2 + wc.w3*x3 + wc.w4*x4 + wc.b AS margin,
           CASE WHEN wc.w1*x1 + wc.w2*x2 + wc.w3*x3 + wc.w4*x4 + wc.b > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred,
           s.y AS label
    FROM sfeat s, wc
    """


@register("stream_perceptron_scores", oracle=_perc_stream_oracle())
def stream_perceptron_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING perceptron scoring: train the exact integer quality
    classifier ONCE on the static corpus slice (``doc_id % 10 != 0``,
    the same three unrolled full-batch iterations as
    ``perceptron_quality_train``), then score arriving documents
    (``doc_id % 10 = 0``) per micro-batch against the frozen weights —
    the train -> serve -> stream deployment loop of a bootstrapped
    quality filter, as one checked query.  Emits one row per streamed
    document: the raw integer margin, the thresholded prediction
    (positive iff margin > 0), and the weak label.

    Scale shape: training touches the corpus once per iteration and
    finishes BEFORE the stream starts, leaving five integers on the
    driver; each micro-batch is then a map-only projection with those
    weights inlined as literals, so per-batch cost is linear in delta
    size and independent of corpus size, with no corpus-side work (and
    no join) at all after training."""
    from wiki_references_db_spark.queries.pipeline_extra import (
        _doc_features,
        _perc_margin_sql,
        _perceptron_loop,
    )
    from wiki_references_db_spark.storage import persist_corpus
    from wiki_references_db_spark.tables import load_table

    corpus_feat = persist_corpus(
        _doc_features(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % 10 != 0
            )
        )
    )
    weights = _perceptron_loop(corpus_feat)[-1][2:]
    corpus_feat.unpersist()

    out_dir = tempfile.mkdtemp(prefix="stream_perc_sink_")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bf = _doc_features(
            batch_df.filter(F.col("doc_id") % 10 == 0), with_id=True
        )
        margin = _perc_margin_sql(weights)
        scored = bf.selectExpr(
            "doc_id",
            f"{margin} AS margin",
            f"CAST(IF({margin} > 0, 1, 0) AS BIGINT) AS pred",
            "y AS label",
        )
        _write_batch_idempotent(scored, batch_id, os.path.join(out_dir, "s"))

    src = _stream_documents(spark, sf_dir)
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_stream_q_")
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import shutil

    sink = os.path.join(out_dir, "s")
    if _sink_has_parquet(sink):
        result = (
            spark.read.parquet(sink)
            .select("doc_id", "margin", "pred", "label")
            .localCheckpoint(eager=True)
        )
    else:
        result = spark.createDataFrame(
            [], "doc_id bigint, margin bigint, pred bigint, label bigint"
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result
