"""Structured Streaming ingestion of the asset event stream.

Reference behavior re-expressed (SURVEY.md §2.9):
- at-least-once delivery with offset-commit-after-processing
  (stream/kafka/kafka.go:31-51,98-104) → checkpointed micro-batches plus an
  IDEMPOTENT foreachBatch sink (an already-applied batch_id is skipped), so
  replays after a crash converge to the same state — effective
  exactly-once on the state tables.
- strictly sequential per-key processing (kafka.go:69-105) → events within
  a micro-batch are ordered by `seq` inside the replay; the seeded state
  carries pseudo-events below every real seq, so cross-batch order is
  preserved exactly.
- tombstone / cascade semantics: identical code path as batch — the
  micro-batch's decoded events are unioned with seed events derived from
  the persisted state and run through plans.temporal.replay_from_events.

Scale notes: incremental compute AND state I/O are O(micro-batch), not
O(state). The state layout is ``sources/bucketstore``'s bucket-version
store, shared with ``BucketTable``: each state table is hash-bucketed by
its natural key (``bucketstore.bucket_of``), every write is a
``batch=N/bucket=B`` version dir, and the live view of a table is, per
bucket, its newest ACKNOWLEDGED version (``bucketstore.read_live``).
What this module adds is one commit marker for all tables
(``_applied/N``, written last by ``bucketstore.acknowledge``), so a batch
commits atomically across them. A micro-batch
- reads ONLY the buckets its touched keys hash into,
- seeds ONLY the state rows whose entity keys the batch touches (each row
  of the touched buckets is flagged by a broadcast left join on the
  batch's key set, and the flagged rows are materialized as one local
  checkpoint), replays that bounded subset, unions the same-bucket
  remainder back (a pure columnar copy),
- and rewrites ONLY those buckets, as version dirs of one parquet file
  each (the materialized state is hash-partitioned on (table, bucket)
  before the writes).
The decode, the touched-key lookups and the split run under the
session's own confs. The replay runs under ``tuned_for_batch``'s
small-batch confs, sized by what it replays: the whole batch for the
bootstrap commit (no batch acknowledged yet), the decoded batch plus the
seeded rows for a later commit, whose inputs are checkpoints by then.
The state write runs under the session's confs again. Untouched buckets
are never read, never rewritten — their files stay byte-identical across
batches (test-pinned). A crash mid-write leaves only ignored orphan
versions and the redelivered batch re-applies against the previous
acknowledged view (at-least-once → idempotent, matching
kafka.go:98-104). Edges are bucketed by their CHILD endpoint; buckets
holding edges whose PARENT endpoint is touched are located through
``PARENT_IDX``, an append-only (parent key → child bucket) pointer table
bucketed by parent key — so the lookup is also O(batch), and nothing in
the micro-batch path reads state proportional to total state size. A
state dir with acknowledged batches must carry that index (every writer
since it was introduced does); one without it is refused.
On a real deployment the versioned buckets become a Delta/Iceberg MERGE —
the seed/replay logic is unchanged, only the state I/O swaps. All state
transforms are joins/windows on entity keys; state size is O(live
entities), not O(event history).

Kafka wiring (untestable in this environment, no broker): see
`kafka_reader()` — the standard readStream.format("kafka") with
includeHeaders; the fixture file-stream exercises the identical
decode→seed→replay→write path.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graph_vulcan_assets_spark.log import get_logger
from graph_vulcan_assets_spark.plans.temporal import (
    RAW_SCHEMA,
    UNEXPIRED,
    coalesce_small_batch,
    decode_events,
    events_from_decoded,
    replay_from_events,
    split_tagged_state,
    tag_union_state,
    tuned_for_batch,
)
from graph_vulcan_assets_spark.sources.bucketstore import (
    PinnedState,
    acknowledge,
    bucket_of,
    list_markers,
    load_meta,
    read_live,
    save_meta,
)

STATE_TABLES = ("assets", "teams", "owns", "parent_of")

# Natural key of each state table — the hash-bucketing key. parent_of is
# bucketed by its CHILD endpoint (a row must map to exactly one bucket);
# parent-side touches are located through PARENT_IDX (below).
BUCKET_KEYS: dict[str, tuple[str, ...]] = {
    "assets": ("type", "identifier"),
    "teams": ("identifier",),
    "owns": ("type", "asset_identifier"),
    "parent_of": ("child_type", "child_identifier"),
}

# Secondary index: distinct (parent key → child-side bucket) pairs, itself
# bucketed by the PARENT key (same hash as assets, so a touched asset's
# index bucket is already in the touched set). Lets a micro-batch locate
# every edge bucket reachable from a touched PARENT endpoint by reading
# O(batch) index buckets instead of key-scanning all of parent_of.
# Entries are append-only (edge rows are never deleted, only expired, so a
# pointer can never go stale) and merged per touched index bucket on write.
PARENT_IDX = "parent_idx"
BUCKET_KEYS[PARENT_IDX] = ("parent_type", "parent_identifier")
# marker file in the PARENT_IDX dir of a compacted index (live edges only)
_LIVE_ONLY = "_live_edges_only"

_log = get_logger("streaming.ingest")


def kafka_reader(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    username: str | None = None,
    password: str | None = None,
) -> DataFrame:
    """Kafka source matching the reference consumer's contract.

    Reference: subscribe + poll with headers, earliest reset
    (stream/kafka/kafka.go:64-106, cmd/graph-vulcan-assets/main.go:45-49);
    SCRAM-SHA-256 over SASL_SSL when credentials are set, plaintext
    otherwise (main.go:51-56). The (partition, offset) pair maps to the
    replay's `seq` ordering key. Not exercised in tests (no broker in the
    image) — the file stream drives the same downstream pipeline.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("includeHeaders", "true")
    )
    if username and password:
        jaas = (
            "org.apache.kafka.common.security.scram.ScramLoginModule required "
            f'username="{username}" password="{password}";'
        )
        reader = (
            reader.option("kafka.security.protocol", "SASL_SSL")
            .option("kafka.sasl.mechanism", "SCRAM-SHA-256")
            .option("kafka.sasl.jaas.config", jaas)
        )
    raw = reader.load()
    return raw.select(
        (F.col("partition").cast("long") * F.lit(1 << 40) + F.col("offset")).alias("seq"),
        F.col("timestamp").alias("ts"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.expr(
            "transform(headers, h -> struct(h.key as key, cast(h.value as string) as value))"
        ).alias("metadata"),
    )


class TemporalGraphStream:
    """Incremental state maintenance over a stream of raw messages.

    `annotation_key` mirrors cfg.AWSAccountAnnotationKey; `fault` is a
    test hook invoked before each batch commit (raise to simulate a crash
    between processing and offset commit — kafka_test.go:136-211's
    crash/replay scenario).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        annotation_key: str | None = None,
        fault=None,
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.annotation_key = annotation_key
        self.fault = fault
        os.makedirs(os.path.join(state_dir, "_applied"), exist_ok=True)
        meta = load_meta(state_dir)
        if meta is not None:
            # bucket count is a storage-layout property: once written it
            # must stay fixed across restarts or rows change buckets
            self.n_buckets = int(meta["n_buckets"])
            self._schemas = {
                t: StructType.fromJson(json.loads(s)) for t, s in meta["schemas"].items()
            }
        else:
            self.n_buckets = n_buckets
            self._schemas = {}
        if self._applied_batches() and PARENT_IDX not in self._schemas:
            raise ValueError(
                f"{state_dir} has acknowledged batches but _meta.json records "
                f"no {PARENT_IDX} schema: it was not written by this sink; "
                "rebuild the state by replaying the event stream"
            )
        # complete any index compaction interrupted by a crash (the swap
        # protocol below is recoverable from every window)
        self._finish_index_compaction()

    # ---- state I/O (layout: sources/bucketstore) --------------------------
    def _applied_batches(self) -> list[int]:
        return list_markers(os.path.join(self.state_dir, "_applied"))

    def _read_buckets(self, table: str, bucket_ids: set[int] | None) -> DataFrame:
        """Assemble a state table from its live bucket versions; with
        ``bucket_ids`` given, read ONLY those buckets (the O(batch) read
        path — untouched buckets are never opened)."""
        return read_live(
            self.spark,
            os.path.join(self.state_dir, table),
            self._schemas[table],
            self._applied_batches(),
            bucket_ids,
        )

    def read_state(self) -> PinnedState | None:
        """The four state tables as of the newest acknowledged batch, as a
        ``bucketstore.PinnedState``: a dict of full-table frames that
        also pins every table's ``{bucket: live version}`` map,
        ``PARENT_IDX`` included, and ``n_buckets``, so a key lookup
        (``plans.api.InventoryAPI``) opens only its key's bucket of this
        snapshot. ``PARENT_IDX`` is left out of the pin once
        ``compact_parent_index`` has dropped the pointers of expired edges:
        it no longer finds every edge of a parent. None before the first
        acknowledged batch."""
        applied = self._applied_batches()
        if not applied:
            return None
        schemas = dict(self._schemas)
        if os.path.exists(os.path.join(self.state_dir, PARENT_IDX, _LIVE_ONLY)):
            del schemas[PARENT_IDX]
        return PinnedState(
            self.spark, self.state_dir, schemas, applied, self.n_buckets, STATE_TABLES
        )

    def _tagged_bucket(self) -> Column:
        """Bucket id of a row of the tagged state union
        (`tag_union_state`), by its table's bucket key."""
        out = None
        for t in STATE_TABLES:
            hit = F.col("__table") == t
            b = bucket_of(BUCKET_KEYS[t], self.n_buckets)
            out = F.when(hit, b) if out is None else out.when(hit, b)
        return out

    def _with_bucket(self, df: DataFrame, table: str) -> DataFrame:
        return df.withColumn("bucket", bucket_of(BUCKET_KEYS[table], self.n_buckets))

    def _index_pairs(self, parent_of: DataFrame) -> DataFrame:
        """(parent key → child bucket) pointers for edge rows, repeats
        included (`_write_index` drops them)."""
        return parent_of.select(
            "parent_type",
            "parent_identifier",
            bucket_of(BUCKET_KEYS["parent_of"], self.n_buckets).alias("child_bucket"),
        )

    def _write_index(self, pairs: DataFrame, path: str) -> None:
        """Write distinct index pointers under ``path``. The dedupe's
        shuffle is hash-partitioned on the bucket column itself (one of
        the dedupe's keys, so Spark plans no second exchange), which puts
        each index bucket in one partition and one file."""
        (
            self._with_bucket(pairs, PARENT_IDX)
            .repartition("bucket")
            .distinct()
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(path)
        )

    def _write_state(self, state: dict[str, DataFrame], batch_id: int) -> None:
        """Write each table's (touched-bucket) content as a new
        ``batch=N/bucket=B`` version per present bucket — O(touched
        buckets), never O(state). The live view resolves per bucket to the
        newest acknowledged version, so buckets absent from this batch
        keep serving their prior files untouched. Each bucket's rows of
        ``state`` sit in one partition (the tagged checkpoint in
        `_apply_batch_inner`), so each version is one file."""
        for t in STATE_TABLES:
            df = state[t]
            if t not in self._schemas:
                self._schemas[t] = df.schema
            (
                self._with_bucket(df, t)
                .write.partitionBy("bucket")
                .mode("overwrite")
                .parquet(os.path.join(self.state_dir, t, f"batch={batch_id}"))
            )
        # maintain PARENT_IDX: every edge row written this batch must have
        # its (parent → child-bucket) pointer indexed. Pointers from the
        # new edge content are merged (union + distinct) with the prior
        # content of exactly the index buckets those pointers hash into —
        # bounded by the batch's edge content, never all of parent_of.
        new_pairs = self._index_pairs(state["parent_of"])
        if PARENT_IDX in self._schemas:
            idx_buckets = {
                r[0]
                for r in new_pairs.select(
                    bucket_of(BUCKET_KEYS[PARENT_IDX], self.n_buckets)
                ).distinct().collect()
            }
            merged = self._read_buckets(PARENT_IDX, idx_buckets).unionByName(new_pairs)
        else:
            merged = new_pairs
            self._schemas[PARENT_IDX] = new_pairs.schema
        self._write_index(
            merged, os.path.join(self.state_dir, PARENT_IDX, f"batch={batch_id}")
        )
        save_meta(
            self.state_dir,
            {
                "n_buckets": self.n_buckets,
                "schemas": {t: sch.json() for t, sch in self._schemas.items()},
            },
        )
        # marker written last: a crash mid-write leaves the batch
        # unacknowledged, and it is re-applied on restart against the
        # previous acknowledged view (at-least-once → idempotent, matching
        # kafka.go:98-104's commit-after-process). Per bucket, the newest
        # TWO acknowledged versions are kept, so that redelivered batch
        # still finds every bucket's previous version to re-apply against.
        acknowledge(
            os.path.join(self.state_dir, "_applied"),
            batch_id,
            [os.path.join(self.state_dir, t) for t in (*STATE_TABLES, PARENT_IDX)],
            keep=2,
        )

    # ---- index compaction (maintenance) ---------------------------------
    def _index_staging_dir(self) -> str:
        return os.path.join(self.state_dir, PARENT_IDX + ".compact")

    def _finish_index_compaction(self) -> None:
        """Complete (or discard) a staged index swap. Crash windows:
        staging without its ``_ready`` marker is a half-written rebuild —
        discarded; staging WITH the marker is a committed rebuild whose
        swap didn't finish — the swap is redone idempotently (the marker
        travels with the renamed dir and is cleared last, so the live
        index is never left missing or partial)."""
        staging = self._index_staging_dir()
        live_dir = os.path.join(self.state_dir, PARENT_IDX)
        if os.path.exists(os.path.join(staging, "_ready")):
            shutil.rmtree(live_dir, ignore_errors=True)
            os.rename(staging, live_dir)
        elif os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)
        leftover = os.path.join(live_dir, "_ready")
        if os.path.exists(leftover):
            os.remove(leftover)

    def compact_parent_index(self) -> None:
        """Bound PARENT_IDX growth: rebuild the index from LIVE edges only
        (VERDICT r3 #5). The per-batch index write is append-only (union +
        distinct), so pointers whose edges have ALL expired accumulate
        forever — on a long-lived deployment the index would grow with
        distinct (parent, child-bucket) pairs EVER seen, not currently
        live. Dropping expired-only pointers is safe because parent-side
        lookups exist solely to find edges a parent touch could mutate,
        and a parent touch can only EXPIRE live edges — edge creation and
        resurrection are child-keyed (the child bucket is already in the
        touched set), and their state write re-adds the pointer.

        Maintenance op: O(total edge state), run between micro-batches on
        whatever cadence fan-out demands — never on the per-batch path.
        The swap is staged and marker-committed: a crash at any point
        leaves either the old index fully live or the rebuild fully
        committed (recovery in __init__ finishes the swap); the live index
        is never partial.
        """
        self._finish_index_compaction()
        if not self._applied_batches():
            return
        live = self._read_buckets("parent_of", None).where(
            F.col("expiration") == F.lit(UNEXPIRED).cast("timestamp")
        )
        rebuilt = self._index_pairs(live)
        staging = self._index_staging_dir()
        shutil.rmtree(staging, ignore_errors=True)
        # versioned as the newest acknowledged batch: per-bucket resolution
        # picks it now, and any later batch id supersedes its touched
        # buckets exactly as with a normal write
        newest = self._applied_batches()[-1]
        self._write_index(rebuilt, os.path.join(staging, f"batch={newest}"))
        # travels with the swap: from now on the index misses expired edges
        open(os.path.join(staging, _LIVE_ONLY), "w").close()
        with open(os.path.join(staging, "_ready"), "w") as f:
            f.write("ok")
        self._finish_index_compaction()
        _log.info("parent index compacted to live-edge pointers")

    # ---- incremental application ---------------------------------------
    def apply_batch(self, raw_batch: DataFrame, batch_id: int) -> None:
        applied = self._applied_batches()
        if batch_id in applied:
            # replayed micro-batch after recovery: idempotent skip
            _log.info("batch %d already applied, skipping (idempotent replay)", batch_id)
            return

        if applied:
            # incremental commit: its inputs are materialized under the
            # session's confs, then replayed under batch-scaled ones
            self._apply_incremental(raw_batch, batch_id)
            return
        # bootstrap commit, a replay from scratch: scale initial shuffle
        # partitions to the batch size and drop AQE for small batches —
        # the replay is many small shuffles, and per-partition + per-stage
        # fixed cost dominates (temporal.tuned_for_batch)
        with tuned_for_batch(self.spark, raw_batch.count()):
            # a small batch's map side narrows to the batch-scaled
            # partition count; a large one keeps its scan parallelism
            ev = events_from_decoded(coalesce_small_batch(self._decode(raw_batch)))
            cached: list[DataFrame] = []
            new_state = self._materialize(replay_from_events(ev, cached), cached)
            self._commit(new_state, batch_id)

    def _touched_buckets(self, touched_assets: DataFrame, touched_teams: DataFrame) -> dict[str, set[int]]:
        """Bucket ids each state table must read+rewrite for this batch.

        assets/owns share the asset-key bucket function; teams use the
        team id. parent_of rows are bucketed by child endpoint, so
        child-side touches map directly; parent-side touches resolve
        through PARENT_IDX — a touched parent's index bucket is its asset
        bucket (same key, same hash), so the lookup reads O(batch) index
        buckets, and the pointed-to child buckets join the edge set. The
        hash is ``bucketstore.bucket_of`` on the same key columns the
        state tables are bucketed by. The collects are bounded by
        n_buckets — scalar-sized; the asset and team buckets share one.
        """
        nb = self.n_buckets
        key_buckets = touched_assets.select(
            F.lit(True).alias("is_asset"),
            bucket_of(("asset_type", "identifier"), nb).alias("b"),
        ).unionByName(
            touched_teams.select(
                F.lit(False).alias("is_asset"),
                bucket_of(("team_id",), nb).alias("b"),
            )
        )
        ab: set[int] = set()
        tb: set[int] = set()
        for is_asset, b in key_buckets.distinct().collect():
            (ab if is_asset else tb).add(b)
        eb = set(ab)
        p_keys = F.broadcast(
            touched_assets.select(
                F.col("asset_type").alias("parent_type"),
                F.col("identifier").alias("parent_identifier"),
            )
        )
        idx = self._read_buckets(PARENT_IDX, ab)
        eb |= {
            r[0]
            for r in idx.join(p_keys, ["parent_type", "parent_identifier"], "left_semi")
            .select("child_bucket")
            .distinct()
            .collect()
        }
        return {"assets": ab, "teams": tb, "owns": ab, "parent_of": eb}

    def _decode(self, raw_batch: DataFrame) -> DataFrame:
        if self.annotation_key is not None:
            return decode_events(raw_batch, self.annotation_key)
        return decode_events(raw_batch)

    def _apply_incremental(self, raw_batch: DataFrame, batch_id: int) -> None:
        """O(batch) incremental commit: read ONLY the buckets this
        micro-batch's keys hash into, seed ONLY the state rows whose
        entity keys the batch touches; same-bucket bystander rows pass
        through into the rewritten bucket version (a straight columnar
        copy), and every other bucket is neither read nor written.

        Everything the replay consumes is materialized first, under the
        session's own confs: the decoded batch (parsed once; the touched
        keys and the replay events both derive from it) and the split of
        the touched buckets (`split_state_by_touched`, one checkpoint).
        The replay then plans over those blocks alone, so it runs under
        ``tuned_for_batch`` sized by its input (decoded plus seeded rows),
        as the bootstrap's does; a small batch that touches a hot parent
        with many edges gets the partitions its seeds need."""
        decoded = self._decode(raw_batch).localCheckpoint(eager=True)
        touched_assets, touched_teams = touched_keys(events_from_decoded(decoded))
        touched_assets = touched_assets.localCheckpoint(eager=True)
        touched_teams = touched_teams.localCheckpoint(eager=True)
        buckets = self._touched_buckets(touched_assets, touched_teams)
        state = {t: self._read_buckets(t, buckets[t]) for t in STATE_TABLES}
        seeded, untouched = split_state_by_touched(state, touched_assets, touched_teams)
        # the replay's input rows, counted in one query over the blocks
        n_rows = decoded.select().union(tag_union_state(seeded).select()).count()
        with tuned_for_batch(self.spark, n_rows):
            # the blocks' map side narrows to the batch-scaled partition
            # count, as the bootstrap's input does
            ev = events_from_decoded(coalesce_small_batch(decoded))
            seeds = seed_events({t: coalesce_small_batch(df) for t, df in seeded.items()})
            cached: list[DataFrame] = []
            replayed = replay_from_events(
                {k: seeds[k].unionByName(ev[k]) for k in ev}, cached
            )
            new_state = self._materialize(
                {
                    t: untouched[t].select(replayed[t].columns).unionByName(replayed[t])
                    for t in STATE_TABLES
                },
                cached,
            )
        self._commit(new_state, batch_id)

    def _materialize(
        self, state: dict[str, DataFrame], cached: list[DataFrame]
    ) -> dict[str, DataFrame]:
        """Fused eager local checkpoint of a commit's new state: the four
        tables materialize as ONE tagged-union job (shared replay frames
        computed once, one scheduling pass instead of four) and the
        lineage is cut so plans don't grow across batches; the per-table
        writes are cheap filters over the checkpointed blocks.
        Hash-partitioning the union on (table, bucket) first puts each
        bucket of each table in ONE partition, so every bucket version is
        written as one file without a shuffle per write. Once the blocks
        hold the state, the frames the replay cached (``cached``) are
        released, dependents first: left cached, every micro-batch would
        add entries to the session's cache."""
        tagged = (
            tag_union_state(state)
            .repartition(F.col("__table"), self._tagged_bucket())
            .localCheckpoint(eager=True)
        )
        for df in reversed(cached):
            df.unpersist()
        return split_tagged_state(tagged)

    def _commit(self, new_state: dict[str, DataFrame], batch_id: int) -> None:
        if self.fault is not None:
            self.fault(batch_id)  # crash injection point (pre-commit)
        self._write_state(new_state, batch_id)
        _log.info("batch %d applied and committed", batch_id)

    # ---- stream wiring --------------------------------------------------
    def run_file_stream(self, input_dir: str, checkpoint_dir: str):
        """Fixture-file source: each JSON file becomes one micro-batch."""
        raw = (
            self.spark.readStream.schema(RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(input_dir)
        )
        return (
            raw.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def run_with_retry(
    start_stream,
    retry_seconds: float,
    max_attempts: int = 10,
) -> None:
    """Restart-on-failure loop matching the reference's outer retry
    (cmd/graph-vulcan-assets/main.go:71-91): on stream failure, wait
    `retry_seconds` and restart from the same checkpoint; a zero retry
    duration re-raises immediately (RETRY_DURATION=0 ⇒ exit on error).

    `start_stream` is a zero-arg callable returning a StreamingQuery
    (e.g. lambda: stream.run_file_stream(input_dir, ckpt)).
    """
    import time as _time

    attempts = 0
    while True:
        attempts += 1
        try:
            q = start_stream()
            q.awaitTermination()
            return
        except Exception as exc:
            if retry_seconds == 0 or attempts >= max_attempts:
                raise
            # main.go:86-90 logs the error and sleeps before restarting
            _log.error("stream failed (attempt %d): %s — retrying in %.1fs", attempts, exc, retry_seconds)
            _time.sleep(retry_seconds)


def touched_keys(ev: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """The entity keys a micro-batch can possibly affect.

    Asset keys come from refreshes (including the exploded AWSAccount
    parents) and tombstones; team ids from refresh team events and
    tombstone keys. Every downstream mutation is reachable only from
    these: owns pairs are keyed by a touched asset, the tombstone cascade
    (main.go:331-361) is one hop and expires only edges with a touched
    endpoint, and new edges are created only between two touched assets
    (child refresh + its AWSAccount annotation).
    """
    assets = (
        ev["asset_refresh"]
        .select("asset_type", "identifier")
        .unionByName(ev["tombstones"].select("asset_type", "identifier"))
        .distinct()
    )
    teams = (
        ev["team_events"]
        .select("team_id")
        .unionByName(ev["tombstones"].select("team_id"))
        .distinct()
    )
    return assets, teams


def split_state_by_touched(
    state: dict[str, DataFrame],
    touched_assets: DataFrame,
    touched_teams: DataFrame,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """Partition every state table into (touched → seed+replay, untouched
    → pass through).

    Every row is flagged in one pass: one broadcast left join per key side
    against the micro-batch's (distinct) touched keys, so a row meets at
    most one key per side and is neither duplicated nor dropped; an edge
    is touched when EITHER endpoint is, two joins OR'd, never an OR-join.
    The four flagged tables are materialized as ONE tagged local
    checkpoint (`tag_union_state`, one job plus its broadcasts), and both
    halves are filters over it: what plans on top of them — the seeded
    replay — sees a scan of checkpointed blocks, not the joins against
    state read from disk."""
    seed = "__seed"

    def flag(df: DataFrame, keys: DataFrame, on: list[str], name: str = seed) -> DataFrame:
        return df.join(F.broadcast(keys.withColumn(name, F.lit(True))), on, "left")

    a_keys = touched_assets.select(F.col("asset_type").alias("type"), "identifier")
    assets = flag(state["assets"], a_keys, ["type", "identifier"])

    t_keys = touched_teams.select(F.col("team_id").alias("identifier"))
    teams = flag(state["teams"], t_keys, ["identifier"])

    o_keys = touched_assets.select(
        F.col("asset_type").alias("type"),
        F.col("identifier").alias("asset_identifier"),
    )
    owns = flag(state["owns"], o_keys, ["type", "asset_identifier"])

    c_keys = touched_assets.select(
        F.col("asset_type").alias("child_type"),
        F.col("identifier").alias("child_identifier"),
    )
    p_keys = touched_assets.select(
        F.col("asset_type").alias("parent_type"),
        F.col("identifier").alias("parent_identifier"),
    )
    edges = flag(
        flag(state["parent_of"], c_keys, ["child_type", "child_identifier"], "__child"),
        p_keys,
        ["parent_type", "parent_identifier"],
        "__parent",
    ).withColumn(seed, F.col("__child") | F.col("__parent"))

    flagged = {"assets": assets, "teams": teams, "owns": owns, "parent_of": edges}
    tagged = tag_union_state(
        # a row no key matched carries a NULL flag
        {t: df.withColumn(seed, F.coalesce(seed, F.lit(False))) for t, df in flagged.items()},
        extra=(seed,),
    ).localCheckpoint(eager=True)
    return (
        split_tagged_state(tagged.where(F.col(seed))),
        split_tagged_state(tagged.where(~F.col(seed))),
    )


def seed_events(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Convert persisted state tables back into pseudo-events.

    Seeds sit at seq −2 (creation) and −1 (latest touch / expiry), below
    every real seq, so the replay reconstructs exactly the sequential
    state the tables encode:
    - asset first_seen → refresh@−2; active assets with a later last_seen
      get refresh@−1; expired assets get a FORCED expire@−1 (bypasses the
      existence guards — the guards were already checked when the expiry
      originally happened).
    - owns start_time → activate@−2 (start_time preservation,
      main.go:199-218); ended owns get a forced pair-expire@−1.
    - edges likewise; forced edge expires enter the candidate pool so a
      later real expiry correctly skips the already-expired edge
      (main.go:338,354).
    """
    assets, teams, owns, edges = (
        state["assets"],
        state["teams"],
        state["owns"],
        state["parent_of"],
    )
    unexpired = F.lit(UNEXPIRED).cast("timestamp")

    a = assets.select(
        F.col("type").alias("asset_type"),
        "identifier",
        "first_seen",
        "last_seen",
        (F.col("expiration") != unexpired).alias("expired"),
    )
    asset_refresh = a.select(
        F.lit(-2).cast("long").alias("seq"), F.col("first_seen").alias("ts"), "asset_type", "identifier"
    ).unionByName(
        a.where(~F.col("expired") & (F.col("last_seen") > F.col("first_seen"))).select(
            F.lit(-1).cast("long").alias("seq"), F.col("last_seen").alias("ts"), "asset_type", "identifier"
        )
    )
    forced_asset_expire = a.where(F.col("expired")).select(
        F.lit(-1).cast("long").alias("seq"), F.col("last_seen").alias("ts"), "asset_type", "identifier"
    )

    team_events = teams.select(
        F.lit(-2).cast("long").alias("seq"),
        F.col("identifier").alias("team_id"),
        F.col("name").alias("team_name"),
    )

    o = owns.select(
        F.col("type").alias("asset_type"),
        F.col("asset_identifier").alias("identifier"),
        "team_id",
        "start_time",
        "end_time",
    )
    pair_activate = o.select(
        F.lit(-2).cast("long").alias("seq"), F.col("start_time").alias("ts"),
        "asset_type", "identifier", "team_id",
    )
    forced_pair_expire = o.where(F.col("end_time").isNotNull()).select(
        F.lit(-1).cast("long").alias("seq"), F.col("end_time").alias("ts"),
        "asset_type", "identifier", "team_id",
    )

    e = edges.withColumn("expired", F.col("expiration") != unexpired)
    edge_cols = ["child_type", "child_identifier", "parent_type", "parent_identifier"]
    edge_activate = e.select(
        F.lit(-2).cast("long").alias("seq"), F.col("first_seen").alias("ts"), *edge_cols
    ).unionByName(
        e.where(~F.col("expired") & (F.col("last_seen") > F.col("first_seen"))).select(
            F.lit(-1).cast("long").alias("seq"), F.col("last_seen").alias("ts"), *edge_cols
        )
    )
    forced_edge_expire = e.where(F.col("expired")).select(
        F.lit(-1).cast("long").alias("seq"), F.col("expiration").alias("ts"), *edge_cols
    )

    empty_tombstones = pair_activate.limit(0)
    return {
        "asset_refresh": asset_refresh,
        "team_events": team_events,
        "pair_activate": pair_activate,
        "tombstones": empty_tombstones,
        "edge_activate": edge_activate,
        "forced_asset_expire": forced_asset_expire,
        "forced_pair_expire": forced_pair_expire,
        "forced_edge_expire": forced_edge_expire,
    }
