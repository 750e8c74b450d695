"""BucketTable: a keyed, MERGE-able, time-travelable parquet table store —
the no-extra-jars answer to a Delta/Iceberg upsert sink.

The reference's whole write side is keyed upserts into an external store
(inventory/inventory.go: create-or-update per asset/team/edge). Spark's
parquet sink alone can only append or overwrite, so round 1/2 emulated
MERGE with a full outer-join + full-snapshot rewrite — O(table) per
batch. This module owns the bucket-version layout and its one commit
protocol. Its module-level functions (``bucket_of``, meta I/O, marker
listing, ``live_versions``, ``table_versions``, ``read_live``,
``acknowledge``) are the state I/O of every versioned store in the
package: ``BucketTable``, the streaming entity sink
(streaming/ingest.TemporalGraphStream, which commits several tables under
one marker) and the maintained aggregate and HLL sketch states
(streaming/incremental, one bucket each):

- rows live in ``bucket=B`` partitions, B = pmod(xxhash64(key), N) —
  co-partitioned by key, so a MERGE touches only the buckets the batch's
  keys hash into;
- each write creates ``batch=N/bucket=B`` VERSION dirs; the live view
  (``read_live``) resolves, per bucket, to the newest committed version.
  Nothing is rewritten in place — writers never corrupt readers (snapshot
  isolation, the same idea as a Delta transaction log, with the
  filesystem listing as the log);
- commits are marker-last (``acknowledge``): a crash mid-write leaves
  orphan versions that readers never see and a re-run overwrites;
- ``read(version=V)`` time-travels to any retained commit;
- superseded versions are pruned per bucket by the same ``acknowledge``
  step (keep the last ``keep_versions`` commits' view).

MERGE semantics: ``upsert(batch)`` = insert-or-replace by key (the
reference's create-or-update). ``delete(keys)`` removes rows. Both are
O(touched buckets). Updates-as-functions (MERGE WHEN MATCHED THEN UPDATE
SET ...) compose as read-modify-upsert over the touched slice.

At 100 TB: N scales with the table (buckets ≈ table_bytes /
target_bucket_bytes); the per-bucket listing stays a filesystem metadata
operation. The real production swap is Delta MERGE (jars absent here,
re-checked every round); the API is deliberately MERGE-shaped so the
swap is mechanical.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# ---- the bucket-version layout ------------------------------------------
# Shared by every versioned store (module docstring). A table dir holds
# ``batch=N/bucket=B`` version dirs; which N are committed is the caller's
# marker listing.

def bucket_of(cols, n_buckets: int) -> Column:
    """Deterministic bucket id of a row: pmod(xxhash64(key), N)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)).cast("int")


def load_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_meta.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def save_meta(path: str, meta: dict) -> None:
    """Atomic replace: a crash leaves the old meta or the new, never half."""
    target = os.path.join(path, "_meta.json")
    with open(target + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(target + ".tmp", target)


def list_markers(marker_dir: str, as_of: int | None = None) -> list[int]:
    """Sorted ids of the commit markers in ``marker_dir``, up to ``as_of``."""
    ids = sorted(int(f) for f in os.listdir(marker_dir) if f.isdigit())
    return [c for c in ids if as_of is None or c <= as_of]


def _version_dirs(path: str) -> list[tuple[int, str]]:
    if not os.path.isdir(path):
        return []
    return [
        (int(d.split("=", 1)[1]), os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("batch=")
    ]


def _bucket_ids(version_dir: str) -> list[int]:
    return [
        int(bd.split("=", 1)[1])
        for bd in os.listdir(version_dir)
        if bd.startswith("bucket=")
    ]


def live_versions(path: str, committed: set[int]) -> dict[int, int]:
    """bucket id → newest COMMITTED version that wrote it. Orphan versions
    of crashed (unmarked) attempts are invisible."""
    out: dict[int, int] = {}
    for v, d in _version_dirs(path):
        if v not in committed:
            continue
        for b in _bucket_ids(d):
            if b not in out or v > out[b]:
                out[b] = v
    return out


def table_versions(path: str, as_of: int | None = None) -> dict[int, int]:
    """bucket id → live version of a BucketTable dir (markers in
    ``path/_commits``), as of commit ``as_of``."""
    return live_versions(path, set(list_markers(os.path.join(path, "_commits"), as_of)))


def read_live(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    committed: list[int],
    buckets: set[int] | None = None,
) -> DataFrame:
    """The live view of a table dir: per bucket, its newest ``committed``
    version. With ``buckets``, only those buckets' dirs are opened. No
    live bucket → a typed empty frame."""
    paths = [
        os.path.join(path, f"batch={v}", f"bucket={b}")
        for b, v in sorted(live_versions(path, set(committed)).items())
        if buckets is None or b in buckets
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def prune_versions(path: str, committed: list[int], keep: int) -> None:
    """Per bucket, keep the newest ``keep`` committed versions; drop older
    ones, orphans older than the newest commit, and version dirs left
    with no bucket. Without pruning, storage grows O(commits × table)."""
    if not committed:
        return
    newest = max(committed)
    committed = set(committed)
    per_bucket: dict[int, list[int]] = defaultdict(list)
    for v, d in _version_dirs(path):
        if v not in committed:
            if v < newest:
                shutil.rmtree(d, ignore_errors=True)
            continue
        for b in _bucket_ids(d):
            per_bucket[b].append(v)
    for b, vs in per_bucket.items():
        for v in sorted(vs)[:-keep]:
            shutil.rmtree(
                os.path.join(path, f"batch={v}", f"bucket={b}"), ignore_errors=True
            )
    for v, d in _version_dirs(path):
        if v < newest and not _bucket_ids(d):
            shutil.rmtree(d, ignore_errors=True)


def acknowledge(
    marker_dir: str, version: int, table_dirs: list[str], keep: int, body: str = "ok"
) -> None:
    """Commit ``version`` of every table in ``table_dirs``: write its
    marker (holding ``body``) LAST, so a crash anywhere before leaves only
    orphan versions that readers ignore and a re-run overwrites; then
    prune each table dir to ``keep`` committed versions per bucket."""
    with open(os.path.join(marker_dir, str(version)), "w") as f:
        f.write(body)
    committed = list_markers(marker_dir)
    for d in table_dirs:
        prune_versions(d, committed, keep)


class BucketTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        n_buckets: int = 32,
        keep_versions: int = 2,
        bucket_cols: list[str] | None = None,
    ):
        """``bucket_cols`` (default: the key) chooses which key PREFIX the
        bucket hash uses. A proper prefix lets point lookups on that
        prefix prune to one bucket while the full key still governs
        upsert/delete identity — the secondary-index layout."""
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.keep_versions = keep_versions
        os.makedirs(os.path.join(path, "_commits"), exist_ok=True)
        meta = load_meta(path)
        if meta is not None:
            # layout properties are frozen at creation: changing the
            # bucket count or key would re-home existing rows
            self.n_buckets = int(meta["n_buckets"])
            self.key_cols = list(meta["key_cols"])
            self.bucket_cols = list(meta.get("bucket_cols", self.key_cols))
            self._schema = StructType.fromJson(json.loads(meta["schema"]))
        else:
            self.n_buckets = n_buckets
            self.bucket_cols = list(bucket_cols) if bucket_cols else list(key_cols)
            if not set(self.bucket_cols) <= set(self.key_cols):
                raise ValueError("bucket_cols must be a subset of key_cols")
            self._schema = None

    # ---- metadata -------------------------------------------------------
    def commits(self, as_of: int | None = None) -> list[int]:
        return list_markers(os.path.join(self.path, "_commits"), as_of)

    def _commit_buckets(self) -> dict[int, set[int] | None]:
        """Commit id → the buckets that commit wrote (recorded in the
        marker since round 4; legacy 'ok' markers → None = unknown)."""
        d = os.path.join(self.path, "_commits")
        out: dict[int, set[int] | None] = {}
        for c in list_markers(d):
            try:
                with open(os.path.join(d, str(c))) as fh:
                    out[c] = set(json.load(fh)["buckets"])
            except (ValueError, KeyError, TypeError):
                out[c] = None
        return out

    def _check_time_travel(self, version: int, buckets: set[int] | None) -> None:
        """Raise if the as-of-``version`` view is no longer faithful: some
        bucket's needed version dir was pruned (``keep_versions``) or
        compacted away. Without this check a time-travel read silently
        resolves pruned buckets to EMPTY — and a change-feed consumer
        diffing against that empty before-image misses deletes/updates
        (stale secondary indexes were the observed symptom). Skipped when
        any in-range commit predates bucket recording (legacy markers)."""
        recorded = self._commit_buckets()
        expected: dict[int, int] = {}
        for c in sorted(k for k in recorded if k <= version):
            wrote = recorded[c]
            if wrote is None:
                return  # legacy marker in range: cannot verify, keep old behavior
            for b in wrote:
                expected[b] = c  # ascending → ends at newest write ≤ version
        if buckets is not None:
            expected = {b: v for b, v in expected.items() if b in buckets}
        actual = self._bucket_versions(as_of=version)
        pruned = sorted(b for b, v in expected.items() if actual.get(b) != v)
        if pruned:
            raise ValueError(
                f"version {version} is outside the retained history: buckets "
                f"{pruned[:8]}{'…' if len(pruned) > 8 else ''} lost their "
                f"as-of version to pruning/compaction (keep_versions="
                f"{self.keep_versions}); full-resync the consumer instead"
            )

    def _bucket_col(self):
        return bucket_of(self.bucket_cols, self.n_buckets)

    def _bucket_versions(self, as_of: int | None = None) -> dict[int, int]:
        return table_versions(self.path, as_of)

    # ---- reads ----------------------------------------------------------
    def read(self, version: int | None = None, buckets: set[int] | None = None) -> DataFrame:
        """Current table (or the view as of commit ``version``); with
        ``buckets``, only those buckets are opened (the pruned-read path a
        key-scoped MERGE uses). A ``version`` outside the retained history
        raises ValueError instead of silently serving an empty view for
        pruned buckets (see ``_check_time_travel``)."""
        if version is not None:
            self._check_time_travel(version, buckets)
        if self._schema is None:
            raise ValueError("empty BucketTable has no schema yet")
        return read_live(
            self.spark, self.path, self._schema, self.commits(as_of=version), buckets
        )

    def _touched(self, keyed: DataFrame) -> set[int]:
        return {
            r[0]
            for r in keyed.select(self._bucket_col().alias("b")).distinct().collect()
        }

    # ---- writes ---------------------------------------------------------
    def _commit(self, content: DataFrame, version: int, touched: set[int] | None = None) -> None:
        base = os.path.join(self.path, f"batch={version}")
        (
            content.withColumn("bucket", self._bucket_col())
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(base)
        )
        if touched is not None:
            # a touched bucket whose new content is EMPTY (every row
            # deleted) emits no partition dir — without an explicit empty
            # version, the previous version would stay live and the
            # deleted rows would resurface. An empty dir is a valid
            # zero-file parquet read under an explicit schema.
            for b in touched:
                os.makedirs(os.path.join(base, f"bucket={b}"), exist_ok=True)
        save_meta(
            self.path,
            {
                "n_buckets": self.n_buckets,
                "key_cols": self.key_cols,
                "bucket_cols": self.bucket_cols,
                "schema": self._schema.json(),
            },
        )
        # the marker records the buckets this version wrote (read back from
        # the landed dirs — exact, including explicit empty buckets) so
        # time-travel reads can detect a pruned-away as-of view
        acknowledge(
            os.path.join(self.path, "_commits"),
            version,
            [self.path],
            self.keep_versions,
            body=json.dumps({"buckets": sorted(_bucket_ids(base))}),
        )

    def upsert(self, batch: DataFrame) -> int:
        """MERGE: insert-or-replace rows by key. Touches only the buckets
        the batch's keys hash into; bystander rows in those buckets pass
        through; every other bucket's files are untouched. Returns the new
        commit id. The batch must be key-unique (dedupe upstream —
        matching Delta MERGE, which errors on multiple source matches)."""
        if self._schema is None:
            self._schema = batch.schema
        version = (self.commits()[-1] + 1) if self.commits() else 0
        touched = self._touched(batch)
        if version == 0:
            self._commit(batch, version, touched)
            return version
        self._commit(self.merge_plan(batch, touched=touched), version, touched)
        return version

    def merge_plan(self, batch: DataFrame, touched: set[int] | None = None) -> DataFrame:
        """The MERGE dataflow :meth:`upsert` commits, as an unexecuted
        DataFrame (plan-audit surface): read ONLY the touched buckets,
        anti-join out rows the batch replaces (batch keys broadcast), union
        the batch. Scale shape: cost is O(touched buckets), the join never
        shuffles the store side."""
        if touched is None:
            touched = self._touched(batch)
        survivors = self.read(buckets=touched).join(
            F.broadcast(batch.select(self.key_cols).distinct()),
            self.key_cols,
            "left_anti",
        )
        return survivors.unionByName(batch)

    def delete(self, keys: DataFrame) -> int:
        """MERGE WHEN MATCHED THEN DELETE: remove rows whose key appears in
        ``keys``. O(touched buckets), same commit protocol."""
        version = (self.commits()[-1] + 1) if self.commits() else 0
        touched = self._touched(keys)
        current = self.read(buckets=touched)
        remaining = current.join(
            F.broadcast(keys.select(self.key_cols).distinct()),
            self.key_cols,
            "left_anti",
        )
        self._commit(remaining, version, touched)
        return version

    # ---- maintenance ----------------------------------------------------
    def compact(self) -> int:
        """Rewrite the live view as one fresh full commit.

        Incremental MERGEs leave each bucket's current version holding the
        whole bucket (versions supersede, they don't stack), but BUCKETS
        written by different commits fragment across batch dirs and every
        touched bucket carries up to ``keep_versions`` historical copies.
        Compaction writes the complete current view as a single new
        version of every bucket, after which pruning retires the scatter.
        Time travel before the compaction point is forfeited — the same
        trade a Delta VACUUM makes. Returns the compaction commit id."""
        version = (self.commits()[-1] + 1) if self.commits() else 0
        self._commit(self.read(), version, touched=set(range(self.n_buckets)))
        return version


# ---- change data feed ---------------------------------------------------

def _non_key_struct(df: DataFrame, key_cols: list[str], alias: str):
    vals = [c for c in df.columns if c not in key_cols]
    return F.struct(*[F.col(c) for c in vals]).alias(alias)


def _changed_buckets(table: "BucketTable", since: int, until: int | None) -> set[int]:
    v1 = table._bucket_versions(as_of=since)
    v2 = table._bucket_versions(as_of=until)
    return {b for b in set(v1) | set(v2) if v1.get(b) != v2.get(b)}


def _changes(table: "BucketTable", since: int, until: int | None = None) -> DataFrame:
    """Row-level diff between two committed views — the Delta
    change-data-feed analogue.

    Returns one row per key whose value differs between the view as of
    ``since`` and the view as of ``until`` (default: current):
    ``(*key_cols, change_type ∈ {insert, update, delete}, before, after)``
    with before/after as structs of the non-key columns (NULL on the
    missing side).

    Scale shape: only buckets whose resolved version DIFFERS between the
    two commits are opened (`_changed_buckets`) — a CDC consumer after a
    small MERGE reads the touched slice, never the table. The diff itself
    is one full-outer equi-join on the key, co-partitioned by the same
    key hash both sides.

    Like ``read(version=)``, faithful only within the pruning window
    (``keep_versions``) and forfeited across a ``compact()``.
    """
    changed = _changed_buckets(table, since, until)
    if not changed:
        empty = table.read(buckets=set())  # typed empty frame
        return empty.select(
            *table.key_cols,
            F.lit("insert").alias("change_type"),
            _non_key_struct(empty, table.key_cols, "before"),
            _non_key_struct(empty, table.key_cols, "after"),
        ).where(F.lit(False))
    old = table.read(version=since, buckets=changed)
    new = table.read(version=until, buckets=changed)
    o = old.select(
        *table.key_cols, _non_key_struct(old, table.key_cols, "before")
    )
    n = new.select(
        *table.key_cols, _non_key_struct(new, table.key_cols, "after")
    )
    j = o.join(n, table.key_cols, "full_outer")
    change = (
        F.when(F.col("before").isNull(), "insert")
        .when(F.col("after").isNull(), "delete")
        .otherwise("update")
    )
    return (
        j.where(
            F.col("before").isNull()
            | F.col("after").isNull()
            # eqNullSafe: a rewrite to the identical value is NOT a change
            | ~F.col("before").eqNullSafe(F.col("after"))
        )
        .select(*table.key_cols, change.alias("change_type"), "before", "after")
    )


BucketTable.changes = _changes
BucketTable._changed_buckets = _changed_buckets


def _purge(table: "BucketTable", keys: DataFrame) -> int:
    """Right-to-be-forgotten erase: physically remove ``keys`` from EVERY
    retained version, history included.

    ``delete()`` removes keys from the LIVE view, but the rows survive on
    disk in the retained historical versions until pruning retires them —
    compliant retention cannot wait for that. ``purge`` first runs a
    normal ``delete`` commit (so the live view and the commit log record
    the erasure), then rewrites, in place, every surviving
    ``batch=*/bucket=B`` dir of every touched bucket with the keys
    anti-joined out.

    This is a maintenance operation with VACUUM-like semantics, not a
    snapshot-isolated commit: concurrent readers of a bucket-version
    being swapped can observe a missing dir for an instant. It is
    idempotent — a crash mid-purge leaves some versions cleaned and some
    not, and re-running finishes the job (the delete commit is already
    durable, so the live view is correct throughout).

    Scale shape: work is O(touched buckets × retained versions); every
    other bucket's files are untouched (byte-identical, test-pinned).
    Returns the delete commit id.
    """
    # materialize the key set BEFORE mutating anything: the caller's
    # frame is typically a lazy read of THIS table ("purge user X's
    # rows"), and both the delete commit and the per-version rewrites
    # below invalidate the files its plan points at
    keys = keys.select(table.key_cols).distinct().localCheckpoint(eager=True)
    version = table.delete(keys)
    touched = table._touched(keys)
    key_set = F.broadcast(keys)
    for _, d in sorted(_version_dirs(table.path)):
        for b in touched:
            bdir = os.path.join(d, f"bucket={b}")
            if not os.path.isdir(bdir) or not os.listdir(bdir):
                continue
            cleaned = (
                table.spark.read.schema(table._schema)
                .parquet(bdir)
                .join(key_set, table.key_cols, "left_anti")
            )
            # tmp name must NOT start with "bucket=" — a crash that leaves
            # it behind would otherwise break the bucket-dir listing parse
            tmp = os.path.join(d, f"_purge_tmp_{b}")
            cleaned.write.mode("overwrite").parquet(tmp)
            # drop parquet job-commit droppings so the swapped-in dir
            # contains only data files (matching _commit's output)
            for junk in os.listdir(tmp):
                if junk.startswith("_") or junk.startswith("."):
                    os.remove(os.path.join(tmp, junk))
            shutil.rmtree(bdir)
            os.replace(tmp, bdir)
    return version


BucketTable.purge = _purge


def _apply_changes(table: "BucketTable", feed: DataFrame) -> int | None:
    """CDC consumer side: replay a ``changes()`` feed into this table.

    Inserts/updates become one MERGE upsert (the ``after`` struct provides
    the row), deletes one keyed delete — so a replica follows a source at
    O(touched buckets) per applied window, the same cost profile the feed
    was produced with. Returns the last commit id, or None if the feed
    was empty. Feed windows must be applied in order (they compose; see
    tests/test_bucketstore_cdf.py::test_chained_windows_compose).
    """
    upserts = feed.where(F.col("change_type") != "delete").select(
        *table.key_cols, "after.*"
    )
    deletes = feed.where(F.col("change_type") == "delete").select(*table.key_cols)
    version: int | None = None
    if not upserts.isEmpty():
        version = table.upsert(upserts)
    if not deletes.isEmpty():
        version = table.delete(deletes)
    return version


BucketTable.apply_changes = _apply_changes


def bitemporal_as_of(
    table: "BucketTable",
    system_version: int | None,
    valid_at,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Bitemporal point query: rows as the store KNEW them at commit
    ``system_version`` (transaction time), restricted to those VALID at
    instant ``valid_at`` (business time).

    The two time axes answer different questions and auditors need both:
    "what did we believe on version N" (time travel — late corrections
    invisible) × "what was true in the world at t" (validity interval
    covers the probe, q_valid_at semantics with a NULL-open end).
    Transaction-time resolution is the store's per-bucket version lookup
    (reads only the resolved snapshot files); business time is an
    ordinary pushed-down filter on the validity columns — nothing here
    costs more than the underlying time-travel read.
    """
    snap = table.read(version=system_version)
    probe = F.lit(valid_at)
    return snap.where(
        (F.col(valid_from_col) <= probe)
        & (F.col(valid_to_col).isNull() | (F.col(valid_to_col) > probe))
    )
