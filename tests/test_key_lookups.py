"""Key lookups over streaming state open only their key's bucket.

``TemporalGraphStream.read_state()`` pins each table's ``{bucket: live
version}`` map, and ``InventoryAPI`` routes natural-key lookups through
it: the key's bucket is ``bucketstore.key_bucket``, computed on the
driver, and must equal the writers' ``bucket_of``. These tests pin that
parity, that a pruned lookup returns exactly the rows (and order) of the
unpruned one, that it opens only its bucket, that it reads the snapshot
it was built on, and how many Spark jobs it runs.
"""

from __future__ import annotations

import datetime
import itertools
import re

import pytest

from graph_vulcan_assets_spark.plans import fixtures
from graph_vulcan_assets_spark.plans.api import InventoryAPI
from graph_vulcan_assets_spark.plans.fixtures import AWS_ANNOTATION_KEY, refresh_msg
from graph_vulcan_assets_spark.plans.temporal import RAW_SCHEMA
from graph_vulcan_assets_spark.sources.bucketstore import bucket_of, key_bucket
from graph_vulcan_assets_spark.streaming.ingest import TemporalGraphStream

N_BUCKETS = 4
ACCOUNT = ("AWSAccount", "arn:aws:iam::000000000001:root")
_groups = itertools.count()


def _jobs_in(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"key-lookup-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


# ---- hash parity ----------------------------------------------------------

STRINGS = [
    "", "a", "ab", "abc",  # 0 and 1-3 bytes
    "abcd", "abcdefg",  # 4-7
    "abcdefgh", "h1.example.com", "x" * 31,  # 8-31
    "y" * 32, "z" * 33, "w" * 64, "dockerimage-1346.example.com/" * 3,  # >= 32
    "é", "naïve", "日本語のホスト名", "emoji 🚀 host",  # non-ASCII
    "arn:aws:iam::000000000001:root", "arn:aws:iam::123456789012:role/service-role/x",
]


def test_key_bucket_equals_bucket_of(spark):
    rows = [(a, b) for a in STRINGS for b in STRINGS[::3]]
    df = spark.createDataFrame(rows, "a string, b string")
    for n in (1, 7, 32):
        got = df.select(
            "a", "b",
            bucket_of(("a",), n).alias("one"),
            bucket_of(("a", "b"), n).alias("two"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            assert key_bucket((r["a"],), n) == r["one"], (r["a"], n)
            assert key_bucket((r["a"], r["b"]), n) == r["two"], (r["a"], r["b"], n)


def test_key_bucket_launches_no_job(spark):
    buckets, jobs = _jobs_in(spark, lambda: [key_bucket((s, "t"), 32) for s in STRINGS])
    assert jobs == []
    assert all(0 <= b < 32 for b in buckets)


# ---- a two-commit stream --------------------------------------------------

def _fanout(seq0: int) -> list[dict]:
    """Eight hosts under ACCOUNT, so its children span several buckets."""
    return [
        refresh_msg(seq0 + i, 100 + i, "t4", "Team Four", "Hostname",
                    f"fan-{i}.example.com", [(AWS_ANNOTATION_KEY, "000000000001")])
        for i in range(8)
    ]


def _apply(spark, stream, msgs, batch_id):
    stream.apply_batch(spark.createDataFrame(msgs, schema=RAW_SCHEMA), batch_id)


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    msgs = fixtures.golden_messages()
    s = TemporalGraphStream(spark, str(tmp_path_factory.mktemp("keyed") / "state"), n_buckets=N_BUCKETS)
    _apply(spark, s, msgs[:8], 0)
    _apply(spark, s, msgs[8:] + _fanout(100), 1)
    return s


LOOKUPS = [
    ("assets", ("Hostname", "h1.example.com")),
    ("assets", ("DockerImage", "img:latest")),  # expired
    ("assets", ("Hostname", "absent.example.com")),
    ("owners", ("Hostname", "h1.example.com")),
    ("owners", ("DockerImage", "img:latest")),
    ("owners", ("Hostname", "absent.example.com")),
    ("parents", ("Hostname", "h1.example.com")),
    ("parents", ("Hostname", "fan-3.example.com")),
    ("parents", ("Hostname", "absent.example.com")),
    ("children", ACCOUNT),
    ("children", ("AWSAccount", "arn:aws:iam::000000000003:root")),  # expired edge
    ("children", ("AWSAccount", "arn:aws:iam::999999999999:root")),
    ("teams", ("t1",)),
    ("teams", ("absent",)),
]

# table whose bucket a lookup opens, and the key columns of its rows
TABLE_OF = {"assets": "assets", "owners": "owns", "parents": "parent_of", "teams": "teams"}
_FILE = re.compile(r"/(\w+)/batch=\d+/bucket=(\d+)/[^/]+$")


def _call(api, kind, key):
    return getattr(api, kind)(*key)


def _opened(df) -> set[tuple[str, int]]:
    out = set()
    for f in df.inputFiles():
        m = _FILE.search(f)
        assert m, f
        out.add((m.group(1), int(m.group(2))))
    return out


@pytest.mark.parametrize("kind,key", LOOKUPS)
def test_pruned_lookup_matches_unpruned(spark, stream, kind, key):
    state = stream.read_state()
    pruned, whole = InventoryAPI(state), InventoryAPI(dict(state))
    assert pruned.pinned is not None and whole.pinned is None
    df = _call(pruned, kind, key)
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in _call(whole, kind, key).collect()]

    opened = _opened(df)
    if kind == "children":
        rows = df.collect()
        # exactly the child buckets parent_idx points to; the fan-out
        # account's children span several of them
        want = {("parent_of", key_bucket((r["child_type"], r["child_identifier"]), N_BUCKETS))
                for r in rows}
        assert opened == want
        if key == ACCOUNT:
            assert len(rows) >= 8 and len(want) > 1
        return
    table = TABLE_OF[kind]
    bucket = key_bucket(key, N_BUCKETS)
    assert {b for t, b in opened if t == table} == (
        {bucket} if bucket in state.versions[table] else set()
    )
    # owners joins the team names from the whole teams table
    assert {t for t, _ in opened} <= ({table, "teams"} if kind == "owners" else {table})


def test_pruned_lookup_with_filters_and_pages(spark, stream):
    state = stream.read_state()
    pruned, whole = InventoryAPI(state), InventoryAPI(dict(state))
    h1 = ("Hostname", "h1.example.com")
    at = datetime.datetime(2024, 3, 1, 0, 3)
    pairs = [
        (pruned.assets(*h1, valid_at=at), whole.assets(*h1, valid_at=at)),
        (pruned.children(*ACCOUNT, page=1, size=3), whole.children(*ACCOUNT, page=1, size=3)),
        (pruned.owners(*h1, page=0, size=1), whole.owners(*h1, page=0, size=1)),
    ]
    for p, w in pairs:
        assert [tuple(r) for r in p.collect()] == [tuple(r) for r in w.collect()]
    assert pairs[0][0].count() == 1 and pairs[1][0].count() == 3


def test_key_lookup_job_budget(spark, stream):
    """asset, parents and teams lookups are one Spark job each; owners
    (plus the teams broadcast) and children at most two. A full-table
    sorted lookup ran three (four for owners)."""
    api = InventoryAPI(stream.read_state())
    budget = {"assets": 1, "parents": 1, "teams": 1, "owners": 2, "children": 2}
    keys = {
        "assets": ("Hostname", "h1.example.com"),
        "parents": ("Hostname", "h1.example.com"),
        "teams": ("t1",),
        "owners": ("Hostname", "h1.example.com"),
        "children": ACCOUNT,
    }
    for kind, key in keys.items():
        rows, jobs = _jobs_in(spark, lambda: _call(api, kind, key).collect())
        assert rows, kind
        assert len(jobs) <= budget[kind], (kind, jobs)


# ---- the pinned snapshot -----------------------------------------------------

def test_lookup_reads_pinned_snapshot_until_pruned(spark, tmp_path):
    stream = TemporalGraphStream(spark, str(tmp_path / "state"), n_buckets=N_BUCKETS)
    _apply(spark, stream, fixtures.golden_messages(), 0)
    key = ("Hostname", "h2.example.com")
    api = InventoryAPI(stream.read_state())
    before = [tuple(r) for r in api.assets(*key).collect()]
    assert before

    def touch(batch_id):
        msg = refresh_msg(100 + batch_id, 100 + batch_id, "t1", "Team One", *key)
        _apply(spark, stream, [msg], batch_id)

    touch(1)  # changes the key's last_seen
    after = [tuple(r) for r in InventoryAPI(stream.read_state()).assets(*key).collect()]
    assert after != before
    assert [tuple(r) for r in api.assets(*key).collect()] == before
    assert api.teams("t1").count() == 1

    touch(2)  # keep=2: the pinned version of the key's bucket is pruned
    with pytest.raises(ValueError, match="pruned"):
        api.assets(*key)
    # unrelated buckets the snapshot pinned are still readable
    other = next(
        (r["type"], r["identifier"])
        for r in InventoryAPI(stream.read_state()).assets().collect()
        if key_bucket((r["type"], r["identifier"]), N_BUCKETS) != key_bucket(key, N_BUCKETS)
    )
    assert len(api.assets(*other).collect()) == 1


def test_children_after_index_compaction(spark, tmp_path):
    """``compact_parent_index`` keeps the pointers of live edges only, so
    over a compacted index ``children`` cannot prune: an expired edge
    must still be returned, and a pin of the old index must not read the
    rebuilt one."""
    stream = TemporalGraphStream(spark, str(tmp_path / "state"), n_buckets=N_BUCKETS)
    _apply(spark, stream, fixtures.golden_messages(), 0)
    key = ("AWSAccount", "arn:aws:iam::000000000003:root")
    before = InventoryAPI(stream.read_state())
    stream.compact_parent_index()
    # the index pinned before the rebuild is gone, not silently rewritten
    with pytest.raises(ValueError, match="replaced"):
        before.children(*key)
    state = stream.read_state()
    whole = InventoryAPI(dict(state)).children(*key).collect()
    assert whole and all(r["expiration"].year < 9999 for r in whole)
    assert InventoryAPI(state).children(*key).collect() == whole
