"""Registry entries that execute REAL Structured Streaming queries.

Every other streaming feature is verified in pytest against batch twins
(tests/test_streaming.py); this module routes one end-to-end streaming
plan through the driver's oracle gate so the streaming engine itself —
file-source micro-batching, watermarking, foreachBatch upsert sink —
earns a CORRECTNESS row, not just its batch-equivalent expression tree.

Reference parity: the reference engine is batch-only (SURVEY.md §1.4);
streaming is part of the beyond-reference surface (SURVEY.md §2.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_map_reduce_spark.operators._scratch import in_scratch
from parallel_map_reduce_spark.registry import register
from parallel_map_reduce_spark.streaming import windowed


@register(
    "streaming_tumbling_counts",
    """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY window_start, event_type
""",
)
def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts computed by the STREAMING engine: the events
    parquet is consumed as a file-source stream (availableNow), aggregated
    with a watermark in update mode, and landed through the idempotent
    foreachBatch upsert sink into a parquet table keyed on
    (window_start, event_type). The returned DataFrame reads that table,
    so the driver's value-hash covers the whole streaming path — source
    schema probe, micro-batch aggregation state, sink merge — against the
    same DuckDB oracle as the batch twin ``events_tumbling_window``.

    Scale posture: identical to the production pattern — the upsert sink
    rewrites only keys present in each micro-batch (anti-join + union,
    no driver collect), and watermark eviction bounds aggregation state
    to the late-data horizon, so an unbounded stream runs in constant
    state. The sink table is re-derived per call (fresh temp dir), which
    keeps the registered query deterministic and idempotent.
    """
    # Oracle-gate configuration: the horizon must exceed the events
    # table's full time span so eviction can NEVER drop a late row even
    # if the source arrives as many unordered files/micro-batches — the
    # oracle is a full-history batch GROUP BY. Production uses a finite
    # horizon (late-data eviction itself is pytest-covered,
    # tests/test_streaming.py).
    counts = windowed.tumbling_counts(
        windowed.stream_events(spark, sf_dir), watermark="3650 days"
    )
    return _run_stream(counts, "update", ["window_start", "event_type"])


def _drain(
    stream_df: DataFrame, run_dir: str, mode: str, key_cols: list[str] | None = None
) -> DataFrame:
    """Run a streaming plan to completion (availableNow) into a fresh
    parquet table under ``run_dir`` and return that table as a batch
    frame; only the output mode and its sink vary:

    - ``update``: the idempotent foreachBatch upsert on ``key_cols``;
    - ``append``: the native parquet file sink (each emitted row is
      final — the output mode of stream-stream joins);
    - ``complete``: a foreachBatch overwrite, so once the source drains
      the table holds the final full aggregate.

    availableNow terminates on its own once the source drains; no
    timeout — a bounded wait that ignores awaitTermination's False
    return would hand a partially-written sink to the oracle's hash."""
    target = os.path.join(run_dir, "table")
    w = stream_df.writeStream.outputMode(mode)
    if mode == "update":
        w = w.foreachBatch(
            lambda df, _bid: windowed.upsert_batch(df, target, key_cols)
        )
    elif mode == "complete":
        w = w.foreachBatch(
            lambda df, _bid: df.write.mode("overwrite").parquet(target)
        )
    else:
        w = w.format("parquet").option("path", target)
    w.trigger(availableNow=True).option(
        "checkpointLocation", os.path.join(run_dir, "ckpt")
    ).start().awaitTermination()
    return stream_df.sparkSession.read.parquet(target)


def _run_stream(
    stream_df: DataFrame, mode: str, key_cols: list[str] | None = None
) -> DataFrame:
    """_drain in a scratch directory of its own (operators/_scratch.py):
    repeated or concurrent runs (bench, pytest, the oracle gate) never
    share a sink, the result is materialized before the sink and
    checkpoint are deleted, and a failed query leaves no directory
    behind."""
    return in_scratch(
        "stream_sink", lambda run_dir: _drain(stream_df, run_dir, mode, key_cols)
    )


@register(
    "streaming_running_user_totals",
    """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY user_id
""",
)
def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL streaming operator under the driver's oracle:
    per-user cumulative (count, total) maintained in the state store by
    ``applyInPandasWithState`` (streaming/windowed.running_user_totals),
    emitted in update mode through the upsert sink keyed on user_id.
    After the availableNow run drains the source, each user's final
    upserted row is their complete running total — which must equal the
    plain batch GROUP BY the DuckDB oracle computes. This is the one
    operator class Spark SQL cannot express declaratively (arbitrary
    per-key Python state machines); the driver row proves the state
    plumbing, not just the arithmetic.

    Scale posture: state is one (long, double) pair per user — bounded
    per key and watermark-evictable; the pandas update function sees
    Arrow batches per group, never the driver."""
    # Same oracle-gate horizon rationale as streaming_tumbling_counts.
    totals = windowed.running_user_totals(
        windowed.stream_events(spark, sf_dir), watermark="3650 days"
    )
    return _run_stream(totals, "update", ["user_id"])


@register(
    "streaming_sliding_means",
    """
WITH bucketed AS (
  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000)
           AS window_start,
         event_type, value
  FROM events
),
expanded AS (
  SELECT window_start, event_type, value FROM bucketed
  UNION ALL
  SELECT window_start - INTERVAL 30 MINUTE, event_type, value FROM bucketed
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM expanded
GROUP BY window_start, event_type
""",
)
def q_streaming_sliding_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows through the real streaming engine: 1-hour windows
    every 30 minutes (each event lands in exactly two overlapping
    windows), aggregated with a watermark in update mode and landed via
    the idempotent upsert sink keyed on (window_start, event_type) —
    same engine path as streaming_tumbling_counts but exercising the
    overlapping-window state layout. The DuckDB oracle expands each
    event into its two covering windows with integer epoch-microsecond
    arithmetic (window starts are 30-minute multiples since the epoch,
    exactly Spark's window() alignment) and replays the aggregate.

    Scale posture: overlapping windows multiply state rows by
    size/slide (2x here) — that ratio, not the stream length, is the
    state cost; watermark eviction still bounds it to the horizon.
    """
    means = windowed.sliding_means(
        windowed.stream_events(spark, sf_dir), watermark="3650 days"
    )
    # The oracle hashes the mergeable (count, sum) pair; avg_value stays a
    # library-surface column (its division lands on round-4 boundaries
    # where cross-engine summation-order ulps flip the last digit).
    out = _run_stream(means, "update", ["window_start", "event_type"])
    return out.select("window_start", "event_type", "n_events", "sum_value")


@register(
    "streaming_stream_stream_join",
    """
SELECT p.event_id AS purchase_id,
       p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       v.event_id AS view_id,
       CAST(v.ts AS TIMESTAMP) AS view_ts
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.ts < p.ts
 AND v.ts >= p.ts - INTERVAL 60 MINUTE
WHERE p.event_type = 'purchase'
  AND v.event_type = 'view'
""",
)
def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join through the real engine: purchases and
    views are two streaming projections of the same file-source stream,
    joined on user with a 60-minute event-time band, run availableNow in
    append mode into a fresh parquet sink (append is the join's native
    mode — an inner match is final when emitted). Cross-micro-batch
    matches must come out of the join STATE STORE — a purchase in batch
    N joins views buffered from batches < N — so the driver's value-hash
    against the batch self-join oracle proves the buffered-state path,
    not just the join predicate. Batch twin of the same shape:
    ``interval_join_event_pairs``.

    Scale posture: both sides carry watermarks and the join condition
    bounds event-time distance, so state is evicted past
    (watermark + band) and an unbounded run holds a bounded buffer;
    the oracle-gate horizon is set beyond the table's span so no match
    can be lost to eviction (eviction itself is pytest-covered)."""
    pairs = windowed.stream_stream_purchase_view_join(
        windowed.stream_events(spark, sf_dir),
        band="60 minutes",
        watermark="3650 days",
    )
    return _run_stream(pairs, "append")


@register(
    "streaming_dedup_user_totals",
    """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY user_id
""",
)
def q_streaming_dedup_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once REDELIVERY DEDUP through the real streaming engine:
    the events file is staged TWICE (two paths, same bytes — an
    at-least-once upstream re-delivering the whole feed) and consumed
    one file per micro-batch, so the second delivery arrives in a later
    batch and must be eliminated by dropDuplicatesWithinWatermark state
    carried ACROSS batches, not within-batch hashing. The deduped
    stream feeds a per-user aggregate landed via the upsert sink; the
    DuckDB oracle is the single-delivery batch GROUP BY — the hash
    matches only if every one of the redelivered rows was dropped.

    Scale posture: dedup state is one entry per event_id inside the
    watermark horizon (evicted past it, O(events/horizon) not
    O(stream)); the aggregate state is one pair per user. This is the
    standard idempotency front-end every production streaming pipeline
    places before its aggregates.
    """
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))

    def redeliver(run_dir: str) -> DataFrame:
        stage = os.path.join(run_dir, "feed")
        os.makedirs(stage)
        os.symlink(src, os.path.join(stage, "delivery_1.parquet"))
        os.symlink(src, os.path.join(stage, "delivery_2.parquet"))
        ev = windowed.stream_events_dir(
            spark, stage, probe_path=src, max_files_per_trigger=1
        )
        totals = (
            windowed.deduped_events(ev, watermark="3650 days")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
        return _drain(totals, run_dir, "update", ["user_id"])

    return in_scratch("stream_sink", redeliver)


# Session oracle reuses the SAME lag/cumsum CTE as the batch twin
# events_session_windows (queries_sessions._SESSION_CTE) — one
# definition of the gap rule for both registrations.
from parallel_map_reduce_spark.operators.queries_sessions import (  # noqa: E402
    _GAP_US,
    _SESSION_CTE,
)


@register(
    "streaming_session_windows",
    _SESSION_CTE
    + f"""
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + {_GAP_US} AS session_end_us,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sess
GROUP BY user_id, session_seq
""",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows through the real streaming engine — the third
    window type (after tumbling and sliding) to earn an engine-path
    CORRECTNESS row: per-user sessions closing after 30 minutes of
    inactivity, computed by the native session_window aggregation and
    landed via a foreachBatch overwrite sink. The oracle replays the gap
    rule with the same lag/cumsum CTE the batch twin uses.

    Output mode: session-window aggregations reject update mode
    (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION — a merge can move a
    session's key, which no upsert key survives), so this runs in
    COMPLETE mode: every micro-batch rewrites the full session table and
    the last batch is the complete merged answer. Production session
    pipelines instead emit in APPEND mode after watermark finalization —
    that semantics (and cross-batch merging) is pytest-covered in
    tests/test_streaming.py; this row proves the engine's session-window
    state layout end to end under the driver's value hash.

    Scale posture: session state per (user, open session) only, merged
    in the state store, watermark-evicted once closed; unbounded streams
    hold state proportional to concurrently-open sessions (and ship in
    append mode after finalization rather than complete-mode rewrite)."""
    sessions = windowed.session_window_stats(
        windowed.stream_events(spark, sf_dir),
        gap="30 minutes",
        watermark="3650 days",
    )
    return _run_stream(sessions, "complete")


from parallel_map_reduce_spark.operators import textstats as _textstats
from parallel_map_reduce_spark.operators.queries_llm import (
    _QC_LR,
    _QC_ROUNDS,
    _quality_classifier_sql,
)
from parallel_map_reduce_spark.sources.tables import load_table


@register(
    "streaming_quality_filter",
    _quality_classifier_sql(_QC_ROUNDS, _QC_LR, score_docs=True),
)
def q_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH-TRAIN / STREAM-SERVE — the deployment shape of the trained
    quality filter: the classifier fits on the batch corpus (the
    nightly model job, textstats.train_quality_classifier with
    return_weights), then every arriving document is scored by the
    STREAMING engine — the documents table consumed as a file-source
    stream (the second table to earn a streaming source), features +
    sigmoid applied as stateless projections with the trained weights
    as plan literals, landed through an append parquet sink. Stateless
    inference is exactly what makes the answer independent of
    micro-batching, and the driver's value-hash PROVES it: the oracle
    is the same unrolled-descent-then-score SQL as the batch
    quality_classifier_filter, so any divergence between the streamed
    scores and the batch scores (or any training-weight ulp) would
    hash-mismatch. At 100 TB this is one model fit plus a
    constant-state stream — no aggregation state at all."""
    docs = load_table(spark, sf_dir, "documents")
    w = _textstats.train_quality_classifier(
        docs, rounds=_QC_ROUNDS, lr=_QC_LR, return_weights=True
    )
    scored = _textstats.apply_quality_classifier(
        windowed.stream_documents(spark, sf_dir), w
    )
    return _run_stream(scored, "append")
