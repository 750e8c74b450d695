"""Temporal-graph replay tests.

1. Golden scenario: hand-verifiable final state (the engine's analogue of
   the reference's end-to-end golden test, main_test.go:158-372).
2. Equivalence property: for random adversarial event sequences, the
   distributed batch replay must equal the sequential interpreter exactly
   (order-insensitive, natural keys, surrogate ids ignored — matching the
   reference's comparison strategy, main_test.go:374-392).
"""

from __future__ import annotations

import datetime

import pytest

from graph_vulcan_assets_spark.plans import fixtures, interpreter
from graph_vulcan_assets_spark.plans.temporal import RAW_SCHEMA, replay_raw

UNEXPIRED = datetime.datetime(9999, 12, 12, 23, 59, 59)


def state_from_replay(spark, messages):
    raw = spark.createDataFrame(messages, schema=RAW_SCHEMA)
    out = replay_raw(raw)
    assets = {
        (r["type"], r["identifier"]): (r["first_seen"], r["last_seen"], r["expiration"])
        for r in out["assets"].collect()
    }
    teams = {r["identifier"]: r["name"] for r in out["teams"].collect()}
    owns = {
        (r["type"], r["asset_identifier"], r["team_id"]): (r["start_time"], r["end_time"])
        for r in out["owns"].collect()
    }
    edges = {
        (r["child_type"], r["child_identifier"], r["parent_type"], r["parent_identifier"]): (
            r["first_seen"],
            r["last_seen"],
            r["expiration"],
        )
        for r in out["parent_of"].collect()
    }
    return assets, teams, owns, edges


def state_from_interpreter(messages):
    st = interpreter.run(messages)
    assets = {
        k: (a.first_seen, a.last_seen, a.expiration) for k, a in st.assets.items()
    }
    teams = dict(st.teams)
    owns = {
        (at, idn, t): (o.start_time, o.end_time) for (at, idn, t), o in st.owns.items()
    }
    edges = {k: (e.first_seen, e.last_seen, e.expiration) for k, e in st.edges.items()}
    return assets, teams, owns, edges


def ts(minutes):
    return datetime.datetime(2024, 3, 1) + datetime.timedelta(minutes=minutes)


def test_golden_scenario(spark):
    msgs = fixtures.golden_messages()
    assets, teams, owns, edges = state_from_replay(spark, msgs)

    arn1 = "arn:aws:iam::000000000001:root"
    arn2 = "arn:aws:iam::000000000002:root"
    arn3 = "arn:aws:iam::000000000003:root"

    # teams: t9/ghost never created (tombstones don't create teams)
    assert teams == {
        "t1": "Team One",  # name from the LAST refresh (seq 7)
        "t2": "Team Two",
        "t3": "Team Three",
    }

    # h1: created at 0, expired at 25, resurrected at 30 — first_seen kept
    assert assets[("Hostname", "h1.example.com")] == (ts(0), ts(30), UNEXPIRED)
    # h2: alive, untouched by the no-op tombstone from nonexistent t9
    assert assets[("Hostname", "h2.example.com")] == (ts(10), ts(10), UNEXPIRED)
    # img: expired twice — re-expire advances times (main.go re-runs update)
    assert assets[("DockerImage", "img:latest")] == (ts(60), ts(70), ts(70))
    # AWS account vertices: last_seen advances on each annotation refresh
    assert assets[("AWSAccount", arn1)] == (ts(0), ts(15), UNEXPIRED)
    assert assets[("AWSAccount", arn2)] == (ts(10), ts(10), UNEXPIRED)
    assert assets[("AWSAccount", arn3)] == (ts(60), ts(60), UNEXPIRED)
    # the version-gated asset never materialized
    assert ("Hostname", "v1.example.com") not in assets
    assert ("Hostname", "ghost.example.com") not in assets

    # owns: t1/h1 resurrected at 30 with ORIGINAL start_time 0
    assert owns[("Hostname", "h1.example.com", "t1")] == (ts(0), None)
    # t2/h1 ended at 25
    assert owns[("Hostname", "h1.example.com", "t2")] == (ts(5), ts(25))
    assert owns[("Hostname", "h2.example.com", "t1")] == (ts(10), None)
    # end_time re-advances on the second tombstone (owns upsert is
    # unconditional for the tombstoning team, main.go:300-317)
    assert owns[("DockerImage", "img:latest", "t3")] == (ts(60), ts(70))

    # edges: h1→arn1 expired at 25 (cascade), NOT resurrected by the
    # annotation-free refresh at 30
    assert edges[("Hostname", "h1.example.com", "AWSAccount", arn1)] == (
        ts(0), ts(25), ts(25),
    )
    assert edges[("Hostname", "h2.example.com", "AWSAccount", arn2)] == (
        ts(10), ts(10), UNEXPIRED,
    )
    # img edge: expired at 65; the second tombstone at 70 SKIPS the
    # already-expired edge (expiration sticks at 65)
    assert edges[("DockerImage", "img:latest", "AWSAccount", arn3)] == (
        ts(60), ts(65), ts(65),
    )


def test_golden_matches_interpreter(spark):
    msgs = fixtures.golden_messages()
    assert state_from_replay(spark, msgs) == state_from_interpreter(msgs)


@pytest.mark.parametrize("seed", [1, 2, 3, 7, 42])
def test_random_equivalence(spark, seed):
    msgs = fixtures.random_messages(seed)
    assert state_from_replay(spark, msgs) == state_from_interpreter(msgs)


@pytest.mark.slow
def test_adversarial_equivalence_100_streams(spark):
    """Round-2 verdict item #6: the replay ≡ interpreter property over
    ≥100 generated streams featuring long resurrection chains,
    interleaved multi-owner expiry, and same-timestamp seq ties (the
    fixed golden fixture covers each pattern once; these cover their
    interleavings)."""
    from graph_vulcan_assets_spark.plans.temporal import tuned_for_batch

    for seed in range(100, 200):
        msgs = fixtures.adversarial_messages(seed, n=40)
        with tuned_for_batch(spark, len(msgs)):
            got = state_from_replay(spark, msgs)
        want = state_from_interpreter(msgs)
        assert got == want, f"replay diverges from interpreter at seed={seed}"


def test_decode_survives_poison_messages(spark):
    """Round-4 hardening: under ANSI mode a non-numeric semver major
    (CAST_INVALID_INPUT) or a duplicated header key (DUPLICATED_MAP_KEY
    via map_from_entries) crashed decode — in streaming that poisons the
    micro-batch permanently, since the checkpoint replays the same
    message on every restart. Both must be gate-dropped (bad version) or
    decoded last-wins (duplicate headers), never crash."""
    from graph_vulcan_assets_spark.plans import fixtures
    from graph_vulcan_assets_spark.plans.temporal import RAW_SCHEMA, decode_events

    good = fixtures.refresh_msg(1, 0, "t1", "Team One", "Hostname", "ok.example.com")
    bad_ver = fixtures.refresh_msg(
        2, 1, "t1", "Team One", "Hostname", "bad.example.com", version="vX.2.0"
    )
    dup_hdr = fixtures.refresh_msg(3, 2, "t1", "Team One", "Hostname", "dup.example.com")
    # duplicate 'version' header, LAST wins (v9 → gate-dropped)
    dup_hdr["metadata"] = dup_hdr["metadata"] + [{"key": "version", "value": "v9.0.0"}]
    dup_ok = fixtures.refresh_msg(4, 3, "t1", "Team One", "Hostname", "dup2.example.com")
    dup_ok["metadata"] = [{"key": "version", "value": "v9.9.9"}] + dup_ok["metadata"]

    df = spark.createDataFrame([good, bad_ver, dup_hdr, dup_ok], schema=RAW_SCHEMA)
    decoded = decode_events(df)
    idents = sorted(r.identifier for r in decoded.collect())
    assert idents == ["dup2.example.com", "ok.example.com"]


def test_small_batch_coalesce_keeps_large_input_parallelism(spark):
    """The narrow coalesce of a replay's input applies only when
    ``tuned_for_batch`` LOWERED the partition count for a small batch. An
    input with more partitions than ``spark.sql.shuffle.partitions`` and
    enough rows that ``batch_shuffle_partitions`` saturates keeps every
    scan partition, as does any input outside ``tuned_for_batch``."""
    from graph_vulcan_assets_spark.plans.temporal import (
        batch_shuffle_partitions,
        coalesce_small_batch,
        tuned_for_batch,
    )

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = 2 * session
    large = spark.range(0, session * 2500, 1, wide)
    n_large = large.count()
    assert batch_shuffle_partitions(n_large, session) == session  # saturated
    with tuned_for_batch(spark, n_large):
        assert coalesce_small_batch(large).rdd.getNumPartitions() == wide
    assert coalesce_small_batch(large).rdd.getNumPartitions() == wide

    small = spark.range(0, 1000, 1, wide)
    with tuned_for_batch(spark, small.count()):
        assert coalesce_small_batch(small).rdd.getNumPartitions() == 4
