"""Streaming event-time windows (SURVEY.md §2.9 T4) and dead-letter split
(T6).

The reference has no event-time windows; these are the engine extensions
on top of the same event stream: tumbling / sliding / session aggregation
with watermarked late-data handling, runnable in genuine streaming mode
(exercised in tests with a file source + memory sink).

Dead-letter split: the reference HALTS the whole stream on the first
malformed event (vulcan/vulcan.go:88-106, fixture terminator
cmd/graph-vulcan-assets/testdata/messages.json:205-213). The engine's
documented deviation routes bad rows to a dead-letter output with a reason
instead, keeping the stream alive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_vulcan_assets_spark.plans.temporal import reject_reason
from graph_vulcan_assets_spark.tables import bounded_times, finite_values, micros128


def _sum_value_micros():
    # integer-micros before the sum: streaming partial aggregates merge in
    # a different order than the batch plan, so a raw-double sum could
    # round differently between the two — which would make the
    # streaming≡batch equivalence tests (and q_time_tumbling's oracle)
    # flaky near .005 boundaries
    # 128-bit accumulator (tables.micros128): streaming state merges
    # partial sums across micro-batches, so the accumulated total hits
    # the int64 edge long before any single batch does
    micros = micros128("value")
    return F.round(F.sum(micros) / 1000000.0, 2).alias("sum_value")


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window; works on batch and streaming frames.

    Corrupt-measure contract — DROP-ROW (one of TWO distinct contracts in
    the streaming layer, ADVICE r6): a non-quantizable measure
    (NaN/Inf/1e308) drops the whole row via :func:`tables.finite_values`,
    so it is excluded from ``n`` as well — same as the batch windowed
    aggregates (q_time_tumbling) and incremental.batch_aggregate. The
    SESSIONIZER (stateful.py) uses the other contract:
    COUNT-AS-ZERO (the event still counts, its value contributes 0) —
    session membership is positional, so dropping the row would also
    move session boundaries. The micros cast would die on a corrupt
    sample under ANSI; one bad sensor reading must not kill (or skew) a
    long-running stream.

    Event-time domain: BOUNDED ([tables.BOUNDED_TS_LO, BOUNDED_TS_HI)) —
    streaming watermark/state arithmetic breaks near the representable
    edges, and window structs emit derived instants (tables.py domain
    note). The batch q_time_tumbling takes the full representable domain
    (it emits only window starts)."""
    src = bounded_times(finite_values(events))
    src = src.withWatermark("ts", watermark) if src.isStreaming else src
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _sum_value_micros())
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame, window: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    # count-only — no value quantization, so no corrupt-measure gate: a
    # NaN sample still counts as an event here, exactly like count(*).
    # The event-TIME domain gate still applies: the emitted window starts
    # come from ts, and out-of-domain times break watermark arithmetic
    src = bounded_times(events)
    src = src.withWatermark("ts", "2 hours") if src.isStreaming else src
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "event_type",
            "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after `gap` of silence.

    Corrupt-measure contract: DROP-ROW, like :func:`tumbling_counts` (it
    sums value micros too) — NOT the sessionizers' count-as-zero contract;
    this operator is engine-managed (session_window), so it has no
    per-event positional state for a zeroed value to preserve. Bounded
    event-time domain: session_window emits end = last event + gap,
    which crosses datetime.max near year 9999."""
    src = bounded_times(finite_values(events))
    src = src.withWatermark("ts", "2 hours") if src.isStreaming else src
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"), _sum_value_micros())
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n",
            "sum_value",
        )
    )


def dead_letter_split(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a raw message frame into (valid, dead_letter-with-reason).

    The gate is ``plans.temporal.reject_reason``, the one ``decode_events``
    applies, so the valid half is exactly the rows the decode keeps;
    malformed input is dead-lettered with a reason, never a crash.
    """
    tagged = raw.withColumn("reject_reason", reject_reason())
    valid = tagged.where(F.col("reject_reason").isNull()).drop("reject_reason")
    dead = tagged.where(F.col("reject_reason").isNotNull())
    return valid, dead
