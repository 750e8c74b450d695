"""Incremental streaming: maintained aggregates, stream-stream joins,
watermarked dedup. Each is proven against its batch equivalent."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from graph_vulcan_assets_spark.streaming import incremental
from graph_vulcan_assets_spark.tables import load_table


def _write_batches(events, out_dir: str, n_batches: int = 3) -> None:
    """Split events into n parquet files so availableNow replays them as
    separate micro-batches (maxFilesPerTrigger=1)."""
    for i in range(n_batches):
        events.where(F.pmod("event_id", F.lit(n_batches)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/b{i}")


def _stream_from(spark, events, src_glob: str):
    return (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
    )


def test_maintained_aggregate_equals_batch_recompute(spark, sf_dir, tmp_path):
    """After streaming N micro-batches through foreachBatch maintenance,
    the state table equals a from-scratch batch aggregation — the
    incremental merge loses nothing at any batch boundary."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    _write_batches(events, src)
    # sanity: the replay really is multiple files/micro-batches
    assert len(glob.glob(src + "/b*/part-*.parquet")) == 3

    stream = _stream_from(spark, events, src + "/b*")
    q = incremental.maintain_aggregate(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.read_aggregate_state(spark, str(tmp_path / "state")).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.batch_aggregate(events).collect()
    }
    assert got == want and len(got) > 0


def test_maintenance_is_incremental_across_restart(spark, sf_dir, tmp_path):
    """Stop after the first run, add a new batch file, restart with the
    same checkpoint: only the NEW batch merges (no double counting)."""
    events = load_table(spark, sf_dir, "events")
    first = events.where(F.pmod("event_id", F.lit(2)) == 0)
    second = events.where(F.pmod("event_id", F.lit(2)) == 1)
    src = str(tmp_path / "src")
    first.coalesce(1).write.mode("overwrite").parquet(src + "/b0")

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    stream = _stream_from(spark, events, src + "/b*")
    incremental.maintain_aggregate(stream, state, ckpt).awaitTermination(120)

    second.coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    stream2 = _stream_from(spark, events, src + "/b*")
    incremental.maintain_aggregate(stream2, state, ckpt).awaitTermination(120)

    got = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.read_aggregate_state(spark, state).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.batch_aggregate(events).collect()
    }
    assert got == want


def test_aggregate_merge_redelivery_and_crash_are_safe(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-merged
    batch_id must be a no-op (without the guard the partial double-counts
    into the totals permanently), and a crash mid-write — a state version
    dir without its marker — must leave the previous state intact, with
    the redelivered batch re-merging cleanly over it."""
    import os
    import shutil

    events = load_table(spark, sf_dir, "events")
    state = str(tmp_path / "state")
    half = events.where(F.pmod("event_id", F.lit(2)) == 0)

    incremental.merge_aggregate_state(spark, state, incremental.batch_aggregate(half), 0)
    once = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.read_aggregate_state(spark, state).collect()
    }
    # redelivery of batch 0: must not double-count
    incremental.merge_aggregate_state(spark, state, incremental.batch_aggregate(half), 0)
    again = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.read_aggregate_state(spark, state).collect()
    }
    assert again == once

    # crash window: batch=1's data landed but its marker didn't — the live
    # view must still be batch 0's, and the re-applied batch 1 must
    # produce exactly the full total (merged once)
    other = events.where(F.pmod("event_id", F.lit(2)) == 1)
    partial = incremental.batch_aggregate(other)
    partial.write.mode("overwrite").parquet(os.path.join(state, "batch=1"))  # no marker
    # the same crash at the version path the state is read from
    partial.write.mode("overwrite").parquet(os.path.join(state, "batch=1", "bucket=0"))
    assert {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.read_aggregate_state(spark, state).collect()
    } == once
    incremental.merge_aggregate_state(spark, state, partial, 1)
    got = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.read_aggregate_state(spark, state).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_micros"])
        for r in incremental.batch_aggregate(events).collect()
    }
    assert got == want
    shutil.rmtree(state, ignore_errors=True)


def _partial(spark, n):
    """A one-group partial aggregate: ``n`` rows of value 1.0."""
    from decimal import Decimal

    return spark.createDataFrame(
        [("view", n, Decimal(n * 1000000))],
        "event_type string, n bigint, sum_micros decimal(38,0)",
    )


def test_aggregate_state_refuses_old_layout(spark, tmp_path):
    """A state dir of the old whole-table layout (an acknowledged
    ``batch=N`` holding the parquet files directly, no ``bucket=`` version)
    is refused: read as-is it would come back empty and silently restart
    the totals."""
    import os

    import pytest

    state = str(tmp_path / "state")
    partial = _partial(spark, 3)
    partial.write.parquet(os.path.join(state, "batch=0"))
    os.makedirs(os.path.join(state, "_applied"))
    with open(os.path.join(state, "_applied", "0"), "w") as f:
        f.write("ok")
    with pytest.raises(ValueError, match="old whole-table state layout"):
        incremental.read_aggregate_state(spark, state)
    with pytest.raises(ValueError, match="old whole-table state layout"):
        incremental.merge_aggregate_state(spark, state, partial, 1)


def test_aggregate_state_keeps_two_acknowledged_versions(spark, tmp_path):
    """After merges 0, 2 and 3, with batch 1's crashed write left behind
    unacknowledged at ``batch=1/bucket=0``, only the two newest
    acknowledged versions remain on disk, and the totals count each
    merged batch once."""
    import os

    state = str(tmp_path / "state")
    incremental.merge_aggregate_state(spark, state, _partial(spark, 1), 0)
    _partial(spark, 10).write.parquet(os.path.join(state, "batch=1", "bucket=0"))
    incremental.merge_aggregate_state(spark, state, _partial(spark, 100), 2)
    incremental.merge_aggregate_state(spark, state, _partial(spark, 1000), 3)
    assert sorted(d for d in os.listdir(state) if d.startswith("batch=")) == [
        "batch=2",
        "batch=3",
    ]
    [row] = incremental.read_aggregate_state(spark, state).collect()
    assert (row.n, row.sum_micros) == (1101, 1101000000)


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """view→purchase conversion join: streaming result (two watermarked
    file streams) equals the same join run in batch."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    _write_batches(events, src, n_batches=2)

    batch = incremental.join_within(events, events)
    want = {(r["l_id"], r["r_id"]) for r in batch.collect()}

    l_stream = _stream_from(spark, events, src + "/b*")
    r_stream = _stream_from(spark, events, src + "/b*")
    q = (
        incremental.join_within(l_stream, r_stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["l_id"], r["r_id"])
        for r in spark.sql("SELECT l_id, r_id FROM ss_join").collect()
    }
    assert got == want and len(got) > 0


def test_dedup_within_watermark_drops_replays(spark, sf_dir, tmp_path):
    """Replay the same micro-batch twice (at-least-once delivery): the
    watermarked dedup emits each event_id exactly once."""
    events = load_table(spark, sf_dir, "events").limit(500)
    src = str(tmp_path / "src")
    events.coalesce(1).write.mode("overwrite").parquet(src + "/b0")
    # duplicate delivery: same rows, second file
    events.coalesce(1).write.mode("overwrite").parquet(src + "/b1")

    stream = _stream_from(spark, events, src + "/b*")
    q = (
        incremental.dedup_within_watermark(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_wm").collect()]
    assert len(ids) == len(set(ids)) == events.count()


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static join: every micro-batch row is enriched with the dim
    attributes exactly as the batch join computes them (the static side
    needs no state store and stays broadcast)."""
    from graph_vulcan_assets_spark.tables import load_table as lt

    events = load_table(spark, sf_dir, "events")
    customer = lt(spark, sf_dir, "customer")
    src = str(tmp_path / "src")
    _write_batches(events, src, n_batches=2)

    want = {
        (r["event_id"], r["segment"])
        for r in incremental.enrich_with_dim(events, customer)
        .select("event_id", "segment")
        .collect()
    }

    stream = _stream_from(spark, events, src + "/b*")
    q = (
        incremental.enrich_with_dim(stream, customer)
        .select("event_id", "segment")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_enrich")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not terminate in time"
    got = {
        (r["event_id"], r["segment"])
        for r in spark.sql("SELECT event_id, segment FROM ss_enrich").collect()
    }
    assert got == want and len(got) > 0


def test_maintained_hll_equals_batch_recompute(spark, sf_dir, tmp_path):
    """Sketch state maintained over K micro-batches equals the one-shot
    sketch over all rows — the streaming face of
    tests/test_sketches.py's merge identity."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from graph_vulcan_assets_spark.operators.sketches import (
        hll_leaf_sketches,
        hll_rollup,
    )
    from graph_vulcan_assets_spark.streaming.incremental import (
        maintain_hll,
        read_hll_state,
    )
    from graph_vulcan_assets_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    for i in range(3):
        e.where(F.pmod(F.col("event_id"), 3) == i).coalesce(1).write.parquet(
            _os.path.join(src, f"f{i}")
        )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_os.path.join(src, "*"))
    )
    q = maintain_hll(stream, str(tmp_path / "state"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    state = read_hll_state(spark, str(tmp_path / "state"))
    # roll the maintained leaves up to event_type and compare against the
    # single-pass recompute over the full table
    maintained = {
        (r["event_type"],): r["approx_distinct"]
        for r in hll_rollup(
            state.select("event_type", "day", "sketch", "n_rows"),
            ["event_type"],
        ).collect()
    }
    direct = {
        (r["event_type"],): r["approx_distinct"]
        for r in hll_rollup(
            hll_leaf_sketches(
                e.withColumn("day", F.to_date("ts")), ["event_type", "day"], "user_id"
            ),
            ["event_type"],
        ).collect()
    }
    assert maintained == direct
    # row conservation through the merge
    assert state.agg(F.sum("n_rows")).collect()[0][0] == e.count()


# ---------------------------------------------------------------------------
# Delta-join view maintenance
# ---------------------------------------------------------------------------


def test_delta_join_equals_full_recompute(spark, sf_dir):
    from graph_vulcan_assets_spark.streaming.incremental import maintain_join_view
    from graph_vulcan_assets_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey"
    )
    # split both inputs into 3 uneven append batches
    ab = [e.where(F.col("event_id") % 3 == i) for i in range(3)]
    bb = [o.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    view = maintain_join_view(ab, bb, ["user_id"])
    full = e.join(o, "user_id")
    got = sorted(tuple(r) for r in view.collect())
    want = sorted(tuple(r) for r in full.collect())
    assert got == want and len(want) > 0


def test_delta_join_term_disjointness(spark):
    # overlapping keys across batches must not double-count: every view
    # row corresponds to exactly one (a-row, b-row) pair
    from graph_vulcan_assets_spark.streaming.incremental import maintain_join_view

    a = spark.createDataFrame([(1, "a1"), (1, "a2"), (2, "a3")], "k long, av string")
    b = spark.createDataFrame([(1, "b1"), (2, "b2"), (1, "b3")], "k long, bv string")
    ab = [a.where("av = 'a1'"), a.where("av != 'a1'")]
    bb = [b.where("bv = 'b3'"), b.where("bv != 'b3'")]
    view = maintain_join_view(ab, bb, ["k"])
    got = sorted((r.k, r.av, r.bv) for r in view.collect())
    want = sorted((r.k, r.av, r.bv) for r in a.join(b, "k").collect())
    assert got == want


def test_batch_aggregate_survives_corrupt_measures(spark, sf_dir):
    """Round-6 advice fix pinned: one NaN/Inf/1e308 sample inside a
    micro-batch must not kill the maintained-aggregate partial (ANSI
    micros cast) — and must not poison the partial's sums, which would
    corrupt the merged state FOREVER. NULL values still pass the gate:
    the row counts, the sum skips it."""
    # checkpoint: limit() re-executes per job and may pick DIFFERENT rows
    # each time — the clean/dirty comparison needs one pinned snapshot
    events = (
        load_table(spark, sf_dir, "events").limit(100).localCheckpoint(eager=True)
    )
    clean = {tuple(r) for r in incremental.batch_aggregate(events).collect()}

    poison = events.limit(3).select(
        (F.col("event_id") + 900000).alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        F.array(F.lit(float("nan")), F.lit(float("inf")), F.lit(1e308))[
            F.pmod("event_id", F.lit(3)).cast("int")
        ].alias("value"),
        "props",
    )
    nullrow = events.limit(1).select(
        (F.col("event_id") + 950000).alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        F.lit(None).cast("double").alias("value"),
        "props",
    )
    dirty = events.unionByName(poison).unionByName(nullrow)
    got = {r["event_type"]: r for r in incremental.batch_aggregate(dirty).collect()}

    for et, n, s in ((r[0], r[1], r[2]) for r in clean):
        extra = 1 if nullrow.where(F.col("event_type") == et).count() else 0
        assert got[et]["n"] == n + extra  # NULL row counts, poison rows don't
        assert got[et]["sum_micros"] == s  # sums are byte-identical to clean
