"""Streaming window aggregations (T4) and dead-letter split (T6)."""

from __future__ import annotations

import pytest

from graph_vulcan_assets_spark.plans import fixtures
from graph_vulcan_assets_spark.plans.temporal import RAW_SCHEMA, decode_events
from graph_vulcan_assets_spark.streaming import windows
from graph_vulcan_assets_spark.tables import load_table


@pytest.mark.parametrize(
    "fn,name",
    [
        (windows.tumbling_counts, "tumbling"),
        (windows.sliding_counts, "sliding"),
        (windows.session_counts, "session"),
    ],
)
def test_streaming_windows_match_batch(spark, sf_dir, tmp_path, fn, name):
    """Run the same windowed aggregation in batch mode and in genuine
    streaming mode (file source, complete output to a memory sink): the
    final streaming result must equal the batch result."""
    events = load_table(spark, sf_dir, "events")
    batch_rows = {tuple(r) for r in fn(events).collect()}

    # stream the same rows from parquet files
    src_dir = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        fn(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(f"win_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {tuple(r) for r in spark.sql(f"SELECT * FROM win_{name}").collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_dead_letter_split(spark):
    msgs = fixtures.golden_messages()
    raw = spark.createDataFrame(msgs, schema=RAW_SCHEMA)
    valid, dead = windows.dead_letter_split(raw)
    reasons = {r["seq"]: r["reject_reason"] for r in dead.collect()}
    # fixture seqs 10 (major version 1), 11 (missing identifier header),
    # 12 (malformed key) must be rejected with matching reasons
    assert reasons[10].startswith("unsupported version")
    assert reasons[11] == "missing metadata entry: identifier"
    assert reasons[12].startswith("malformed message key")
    assert set(reasons) == {10, 11, 12}
    assert valid.count() == len(msgs) - 3
    # one gate: the decode keeps exactly the rows the split calls valid
    assert sorted(r.seq for r in decode_events(raw).collect()) == sorted(
        r.seq for r in valid.collect()
    )


def test_dead_letter_gate_survives_malformed_input(spark):
    """Round-4 hardening: under ANSI mode a non-numeric major version
    crashed the stream (CAST_INVALID_INPUT), a duplicated header key
    crashed it (DUPLICATED_MAP_KEY via map_from_entries), and a NULL key
    fell through a NULL predicate into the VALID stream. All three must
    dead-letter with a reason — never crash, never pass."""
    from graph_vulcan_assets_spark.streaming.windows import dead_letter_split

    rows = [
        ("t1/asset-a", [("version", "v0.1.2"), ("type", "H"), ("identifier", "x")]),
        ("t1/asset-b", [("version", "vX.1.2"), ("type", "H"), ("identifier", "x")]),
        (
            "t1/asset-c",
            [
                ("version", "v0.1.2"),
                ("version", "v9.9.9"),  # duplicate header: LAST wins
                ("type", "H"),
                ("identifier", "x"),
            ],
        ),
        (None, [("version", "v0.1.2"), ("type", "H"), ("identifier", "x")]),
    ]
    df = spark.createDataFrame(
        rows, "key string, metadata array<struct<key:string,value:string>>"
    )
    valid, dead = dead_letter_split(df)
    assert [r.key for r in valid.collect()] == ["t1/asset-a"]
    reasons = {r.key: r.reject_reason for r in dead.collect()}
    assert reasons["t1/asset-b"] == "unsupported version: vX.1.2"
    assert reasons["t1/asset-c"] == "unsupported version: v9.9.9"
    assert reasons[None] == "malformed message key: <null>"


def test_windowed_aggregates_survive_corrupt_measures(spark, sf_dir, tmp_path):
    """Round-6 advice fix pinned: a NaN/±Inf/1e308 ``value`` sample must
    not kill a windowed stream (the micros cast in _sum_value_micros dies
    under ANSI without the gate) — and the streaming result must still
    equal the batch result on the SAME dirty frame, because both forms
    run the identical gated expression."""
    from pyspark.sql import functions as F

    # checkpoint: limit() re-executes per job and may pick DIFFERENT rows
    # each time — the clean/dirty comparison needs one pinned snapshot
    events = (
        load_table(spark, sf_dir, "events").limit(200).localCheckpoint(eager=True)
    )
    poison = events.limit(4).select(
        (F.col("event_id") + 900000).alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        F.array(
            F.lit(float("nan")),
            F.lit(float("inf")),
            F.lit(float("-inf")),
            F.lit(1e308),
        )[F.pmod("event_id", F.lit(4)).cast("int")].alias("value"),
        "props",
    )
    dirty = events.unionByName(poison).localCheckpoint(eager=True)

    for fn, name in (
        (windows.tumbling_counts, "h_tumbling"),
        (windows.session_counts, "h_session"),
    ):
        batch_rows = {tuple(r) for r in fn(dirty).collect()}
        # the gate dropped exactly the poison rows, nothing else: the
        # clean frame aggregates identically
        assert batch_rows == {tuple(r) for r in fn(events).collect()}

        src_dir = str(tmp_path / f"src_{name}")
        dirty.write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(dirty.schema).parquet(src_dir)
        q = (
            fn(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        stream_rows = {
            tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert stream_rows == batch_rows
        assert len(stream_rows) > 0
