"""Temporal property-graph maintenance as batch dataflow.

Re-expresses the reference's sequential event handler
(cmd/graph-vulcan-assets/main.go:95-364) as a declarative Spark plan: given
a keyed event stream, produce the final `assets / teams / owns / parent_of`
state tables. The streaming module applies the same plan incrementally per
micro-batch.

Semantics reproduced (reference file:line):
- decode: key "<team>/<asset>" (vulcan/vulcan.go:127-133), headers
  version/type/identifier mandatory (vulcan.go:136-156), semver major==0
  gate (vulcan.go:160-180), null value = tombstone reconstructed from
  key+headers (vulcan.go:104-119).
- refresh (main.go:114-141): upsert asset (create first_seen=now; update
  keeps first_seen, last_seen=now, expiration=Unexpired), upsert team
  (name last-wins), owns upsert preserving the ORIGINAL start_time even
  across previously-ended relations (setOwner, main.go:199-218), per AWS
  annotation: normalize account id (main.go:245-262), upsert the
  AWSAccount asset and a child→account parent_of edge (main.go:223-243).
- expire / tombstone (main.go:270-364): no-op when asset or team does not
  exist; end this team's owns relation (keeping start_time); the asset
  survives iff any OTHER team's owns is still active; otherwise the asset
  is expired (last_seen=expiration=now) and every not-yet-expired
  parent_of edge touching it is expired; already-expired edges keep their
  original expiration (the skip at main.go:338,354).

Scale design: the replay is joins + windows partitioned by entity keys
(asset natural key / owns pair / edge pair) — every shuffle is on a graph
key, there is no driver-side loop, no recursion (cascades are one hop by
construction, main.go:331-361), and event history per entity is the only
window input. The sequential tiebreaker is `seq` (Kafka partition+offset
stand-in), never wall-clock.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_vulcan_assets_spark.tables import scaled_shuffle_partitions

UNEXPIRED = "9999-12-12 23:59:59"

# vulcan/vulcan.go:30-58 — unknown JSON fields are dropped by the decoder,
# mirrored here by from_json's schema projection.
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.StringType()),
        T.StructField(
            "Team",
            T.StructType(
                [
                    T.StructField("Id", T.StringType()),
                    T.StructField("Name", T.StringType()),
                    T.StructField("Description", T.StringType()),
                    T.StructField("Tag", T.StringType()),
                ]
            ),
        ),
        T.StructField("Alias", T.StringType()),
        T.StructField("Rolfp", T.StringType()),
        T.StructField("Scannable", T.BooleanType()),
        T.StructField("AssetType", T.StringType()),
        T.StructField("Identifier", T.StringType()),
        T.StructField(
            "Annotations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("Key", T.StringType()),
                        T.StructField("Value", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

RAW_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField(
            "metadata",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
            True,
        ),
    ]
)

AWS_ANNOTATION_KEY = "autodiscovery/security/aws-account"
_SHORT_AWS_RE = "^[0-9]{12}$"
_LONG_AWS_RE = "^arn:aws:iam::[0-9]{12}:root$"


def normalize_aws_account(col: F.Column) -> F.Column:
    """main.go:245-262 — short 12-digit form → long ARN; invalid → NULL.

    Deviation (documented): the reference halts the stream on an invalid
    account id; the engine NULLs it out so the row lands in the dead-letter
    split instead (SURVEY.md §2.9 T6).
    """
    return (
        F.when(col.rlike(_LONG_AWS_RE), col)
        .when(col.rlike(_SHORT_AWS_RE), F.concat(F.lit("arn:aws:iam::"), col, F.lit(":root")))
        .otherwise(F.lit(None).cast("string"))
    )


def _header(name: str) -> F.Column:
    # last-wins per key: Kafka allows duplicate header keys, and
    # map_from_entries raises DUPLICATED_MAP_KEY on them
    matches = F.filter(F.col("metadata"), lambda h: h["key"] == name)
    return F.try_element_at(matches, F.lit(-1))["value"]


def reject_reason() -> F.Column:
    """The admission gate, from a raw message's ``key`` and ``metadata``:
    why it is rejected, or NULL when it passes. Reasons mirror the
    reference's errors: missing metadata (vulcan/vulcan.go:136-156),
    unsupported version (vulcan.go:160-180), malformed key
    (vulcan.go:127-133). ``decode_events`` keeps the NULL rows;
    streaming/windows.dead_letter_split tags rows with the reason.

    Hardened (round 4): under ANSI mode a crash here poisons a streaming
    micro-batch PERMANENTLY (the checkpoint replays the message on every
    restart). So the semver major parses via ``try_cast`` (a cast of
    'vX.2.0' raises) and a non-numeric one is unsupported, and a NULL key
    is malformed (``size(split(NULL))`` is NULL, not valid)."""
    version = _header("version")
    ver_parts = F.split(F.regexp_replace(version, "^v", ""), r"\.")
    version_ok = F.coalesce(
        (F.size(ver_parts) >= 3)
        & (F.try_element_at(ver_parts, F.lit(1)).try_cast("int") == 0),
        F.lit(False),
    )
    key_ok = F.coalesce(F.size(F.split(F.col("key"), "/")) == 2, F.lit(False))
    key = F.coalesce(F.col("key"), F.lit("<null>"))
    return (
        F.when(version.isNull(), "missing metadata entry: version")
        .when(_header("type").isNull(), "missing metadata entry: type")
        .when(_header("identifier").isNull(), "missing metadata entry: identifier")
        .when(~version_ok, F.concat(F.lit("unsupported version: "), version))
        .when(~key_ok, F.concat(F.lit("malformed message key: "), key))
        .otherwise(F.lit(None).cast("string"))
    )


def decode_events(raw: DataFrame, annotation_key: str = AWS_ANNOTATION_KEY) -> DataFrame:
    """Decode + gate the raw stream into typed event rows.

    Output columns: seq, ts, is_tombstone, asset_type, identifier, team_id,
    team_name, aws_accounts (array of normalized ARNs). `annotation_key`
    mirrors cfg.AWSAccountAnnotationKey (main.go:131-138).

    Rows the admission gate (``reject_reason``) rejects are dropped here
    (the engine's dead-letter split; the reference instead halts —
    vulcan/vulcan.go:88-106).
    """
    header_type = _header("type")
    header_identifier = _header("identifier")

    key_parts = F.split(F.col("key"), "/")
    key_team = F.element_at(key_parts, 1)

    payload = F.from_json(F.col("value"), PAYLOAD_SCHEMA)
    is_tombstone = F.col("value").isNull()

    annotations = F.coalesce(
        payload["Annotations"],
        F.array().cast("array<struct<Key:string,Value:string>>"),
    )
    aws_accounts = F.transform(
        F.filter(annotations, lambda a: a["Key"] == annotation_key),
        lambda a: normalize_aws_account(a["Value"]),
    )

    return (
        raw.where(reject_reason().isNull())
        .select(
            "seq",
            "ts",
            is_tombstone.alias("is_tombstone"),
            # tombstones carry no payload: entity identity comes from
            # key + headers (vulcan/vulcan.go:104-119)
            header_type.alias("asset_type"),
            header_identifier.alias("identifier"),
            F.when(is_tombstone, key_team)
            .otherwise(F.coalesce(payload["Team"]["Id"], key_team))
            .alias("team_id"),
            F.when(is_tombstone, F.lit(None).cast("string"))
            .otherwise(payload["Team"]["Name"])
            .alias("team_name"),
            F.when(is_tombstone, F.array().cast("array<string>"))
            .otherwise(F.filter(aws_accounts, lambda x: x.isNotNull()))
            .alias("aws_accounts"),
        )
    )


def _last_by_seq(df: DataFrame, keys: list[str]) -> DataFrame:
    """One row per key: the row with the greatest seq.

    Window row_number, not max_by: measured 2× faster here — max_by with a
    struct buffer compiles to SortAggregate (sorts in BOTH the partial and
    final phases) while the rank<=1 window compiles to WindowGroupLimit,
    which pre-prunes each task's rows to 1 per key before the shuffle.
    """
    w = Window.partitionBy(*keys).orderBy(F.col("seq").desc())
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def events_from_decoded(decoded: DataFrame) -> dict[str, DataFrame]:
    """Split decoded rows into the primitive event frames replay consumes.

    The frames are also the seeding surface for incremental streaming:
    persisted state converts back into pseudo-events in these same frames
    (streaming.ingest.seed_events), so one replay implementation serves
    both full-history batch and per-micro-batch incremental application.
    """
    refresh = decoded.where(~F.col("is_tombstone"))
    tombstone = decoded.where(F.col("is_tombstone"))

    primary_refresh = refresh.select("seq", "ts", "asset_type", "identifier")
    account_refresh = refresh.select(
        "seq", "ts", F.explode("aws_accounts").alias("identifier")
    ).select("seq", "ts", F.lit("AWSAccount").alias("asset_type"), "identifier")

    edge_activate = refresh.select(
        "seq", "ts", "asset_type", "identifier",
        F.explode("aws_accounts").alias("parent_identifier"),
    ).select(
        "seq",
        "ts",
        F.col("asset_type").alias("child_type"),
        F.col("identifier").alias("child_identifier"),
        F.lit("AWSAccount").alias("parent_type"),
        "parent_identifier",
    )

    empty_asset = primary_refresh.limit(0)
    empty_pair = refresh.select("seq", "ts", "asset_type", "identifier", "team_id").limit(0)
    empty_edge = edge_activate.limit(0)
    return {
        "asset_refresh": primary_refresh.unionByName(account_refresh),
        "team_events": refresh.select("seq", "team_id", "team_name"),
        "pair_activate": refresh.select("seq", "ts", "asset_type", "identifier", "team_id"),
        "tombstones": tombstone.select("seq", "ts", "asset_type", "identifier", "team_id"),
        "edge_activate": edge_activate,
        # seeding-only frames (empty for pure batch replay)
        "forced_asset_expire": empty_asset,
        "forced_pair_expire": empty_pair,
        "forced_edge_expire": empty_edge,
    }


def derive_guard_frames(ev: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Shared derivations: creation watermarks, owns-pair timeline, and the
    guarded (successful) expires. Used by the state replay and by the
    history/time-travel module so the expiry guard logic exists once."""
    asset_refresh = ev["asset_refresh"]
    team_events = ev["team_events"]
    pair_activate = ev["pair_activate"]
    tombstone = ev["tombstones"]

    # round 13: no longer cached — since the round-12 fused final-state
    # reduction the guard join is this frame's ONLY consumer inside the
    # replay, so the InMemoryRelation materialization was pure overhead
    # (same for pair_created / successful_expire / edge_created below;
    # the multi-consumer frames pair_timeline / guarded_expire /
    # edge_activate keep their caches)
    asset_created = asset_refresh.groupBy("asset_type", "identifier").agg(
        F.min("seq").alias("created_seq"),
        F.min_by("ts", "seq").alias("first_seen"),
    )
    team_created = team_events.groupBy("team_id").agg(
        F.min("seq").alias("team_created_seq")
    )

    # ---- tombstones that pass the existence guards (main.go:276-295)
    expire_attempts = (
        tombstone.alias("x")
        .join(
            asset_created.alias("ac"),
            (F.col("x.asset_type") == F.col("ac.asset_type"))
            & (F.col("x.identifier") == F.col("ac.identifier"))
            & (F.col("x.seq") > F.col("ac.created_seq")),
        )
        .join(
            team_created.alias("tc"),
            (F.col("x.team_id") == F.col("tc.team_id"))
            & (F.col("x.seq") > F.col("tc.team_created_seq")),
        )
        .select("x.seq", "x.ts", "x.asset_type", "x.identifier", "x.team_id")
    )

    # ---- owns pair timeline: activates (refresh) + effective expires
    pair_activate_k = pair_activate.withColumn("kind", F.lit("activate"))
    pair_created = pair_activate.groupBy("asset_type", "identifier", "team_id").agg(
        F.min("seq").alias("pair_created_seq"),
        F.min_by("ts", "seq").alias("start_time"),
    )
    pair_expire = (
        expire_attempts.alias("x")
        .join(
            pair_created.alias("pc"),
            (F.col("x.asset_type") == F.col("pc.asset_type"))
            & (F.col("x.identifier") == F.col("pc.identifier"))
            & (F.col("x.team_id") == F.col("pc.team_id"))
            & (F.col("x.seq") > F.col("pc.pair_created_seq")),
        )
        .select("x.seq", "x.ts", "x.asset_type", "x.identifier", "x.team_id")
        .withColumn("kind", F.lit("expire"))
    )
    pair_timeline = (
        pair_activate_k.unionByName(pair_expire)
        .unionByName(ev["forced_pair_expire"].withColumn("kind", F.lit("expire")))
        .cache()
    )

    # ---- which expire attempts succeed: no OTHER team's owns active at
    # that moment (main.go:305-323). Round 13: fused sweep instead of the
    # attempts × other-team-pair-events join (+ per-attempt window +
    # distinct + anti-join) — that join's output was |attempts| × |pair
    # events per asset|, quadratic for a hot asset. One union frame keyed
    # by the asset carries pair events and attempts together:
    #   - per (asset, team): each pair event's activation TRANSITION
    #     (inactive→activate = +1, activate→expire = −1, else 0), and
    #     each attempt's own-team state just before it;
    #   - per asset: the running sum of transitions strictly before seq s
    #     IS the number of active teams at s.
    # An attempt is blocked iff (active teams just before it) − (1 if its
    # OWN team is active) > 0 — exactly "some OTHER team still owns".
    # Strictly-before is a rangeBetween(…, -1) frame on seq, which also
    # excludes the attempt's own same-seq derived pair_expire row. Both
    # windows run on ≤2 shuffles of small keyed rows; no pair-event row
    # is ever replicated per attempt.
    pair_rows = pair_timeline.select(
        "seq", "asset_type", "identifier", "team_id",
        F.col("kind").alias("pair_kind"), F.lit(False).alias("is_attempt"),
        F.lit(None).cast("timestamp").alias("xts"),
    )
    attempt_rows = expire_attempts.select(
        "seq", "asset_type", "identifier", "team_id",
        F.lit(None).cast("string").alias("pair_kind"), F.lit(True).alias("is_attempt"),
        F.col("ts").alias("xts"),
    )
    sweep = pair_rows.unionByName(attempt_rows)
    w_team = (
        Window.partitionBy("asset_type", "identifier", "team_id")
        .orderBy("seq")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    prev_kind = F.last("pair_kind", ignorenulls=True).over(w_team)
    sweep = sweep.withColumn(
        "delta",
        F.when(F.col("is_attempt"), F.lit(0))
        .when(
            (F.col("pair_kind") == "activate")
            & (prev_kind.isNull() | (prev_kind == "expire")),
            F.lit(1),
        )
        .when((F.col("pair_kind") == "expire") & (prev_kind == "activate"), F.lit(-1))
        .otherwise(F.lit(0)),
    ).withColumn(
        # eqNullSafe: an attempt whose own team has no prior pair event
        # (prev_kind NULL) is simply not-active, not NULL-poisoned
        "own_active",
        F.col("is_attempt") & prev_kind.eqNullSafe("activate"),
    )
    w_asset = (
        Window.partitionBy("asset_type", "identifier")
        .orderBy("seq")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    active_before = F.coalesce(F.sum("delta").over(w_asset), F.lit(0))
    guarded_expire = (
        sweep.withColumn("others", active_before - F.col("own_active").cast("int"))
        .where(F.col("is_attempt") & (F.col("others") == 0))
        .select("seq", F.col("xts").alias("ts"), "asset_type", "identifier")
        .cache()
    )
    return {
        "asset_created": asset_created,
        "team_created": team_created,
        "pair_created": pair_created,
        "pair_timeline": pair_timeline,
        "guarded_expire": guarded_expire,
    }


def replay_from_events(
    ev: dict[str, DataFrame], cached: list[DataFrame] | None = None
) -> dict[str, DataFrame]:
    """Replay primitive event frames into final state tables.

    Returns {"assets", "teams", "owns", "parent_of"} DataFrames with the
    schemas of FIXTURES.md §2 (surrogate ids omitted; natural keys are the
    identity, matching the reference's order-insensitive golden comparison
    that ignores ids, main_test.go:374-392).

    The replay ``.cache()``s its three multi-consumer frames. With
    ``cached`` given, they are appended to it in caching order, so a
    caller that materializes the result can unpersist them (dependents
    first, i.e. in reverse); otherwise they stay in the session's cache.
    """
    asset_refresh = ev["asset_refresh"]
    team_events = ev["team_events"]
    edge_activate_raw = ev["edge_activate"]

    g = derive_guard_frames(ev)
    pair_timeline = g["pair_timeline"]
    guarded_expire = g["guarded_expire"]

    # ---- teams: created on refresh, name last-wins (main.go:171-195)
    teams = _last_by_seq(team_events, ["team_id"]).select(
        F.col("team_id").alias("identifier"), F.col("team_name").alias("name")
    )

    # forced (seeded) expires reconstruct an asset's recorded state but must
    # NOT re-cascade to edges: the seeded edge rows already reflect every
    # cascade that happened before the snapshot
    successful_expire = guarded_expire.unionByName(ev["forced_asset_expire"])

    # ---- assets final state: last touch wins (refresh resurrects —
    # UpdateAsset(..., now, Unexpired) main.go:152-156; successful expire
    # sets last_seen=expiration=now main.go:326-329)
    asset_touch = asset_refresh.select(
        "seq", "ts", "asset_type", "identifier", F.lit("refresh").alias("kind")
    ).unionByName(
        successful_expire.select(
            "seq", "ts", "asset_type", "identifier", F.lit("expire").alias("kind")
        )
    )
    # Fused final-state reduction (round 12): ONE grouped aggregate per
    # state table instead of _last_by_seq window + join back to the
    # created-frame. min_by(ts, seq) over the full touch timeline IS the
    # creation instant: every expire (real or seeded) carries a seq
    # strictly above its key's first refresh/activate — real expires by
    # the seq > created_seq guard, seeded ones by the seq −2 (create) /
    # −1 (expiry) convention (streaming.ingest.seed_events) — so the
    # group's minimum seq is always the creation event. Removes a shuffle
    # + sort + join per table; min_by/max_by combine map-side.
    last = F.max_by(F.struct("ts", "kind"), "seq").alias("last")
    assets = (
        asset_touch.groupBy("asset_type", "identifier")
        .agg(F.min_by("ts", "seq").alias("first_seen"), last)
        .select(
            F.col("asset_type").alias("type"),
            "identifier",
            "first_seen",
            F.col("last.ts").alias("last_seen"),
            F.when(F.col("last.kind") == "expire", F.col("last.ts"))
            .otherwise(F.lit(UNEXPIRED).cast("timestamp"))
            .alias("expiration"),
        )
    )

    # ---- owns final state: start_time = first activate ever (preserved
    # across ends, main.go:199-218); end_time = last event if expire
    owns = (
        pair_timeline.groupBy("asset_type", "identifier", "team_id")
        .agg(F.min_by("ts", "seq").alias("start_time"), last)
        .select(
            F.col("team_id"),
            F.col("asset_type").alias("type"),
            F.col("identifier").alias("asset_identifier"),
            "start_time",
            F.when(F.col("last.kind") == "expire", F.col("last.ts"))
            .otherwise(F.lit(None).cast("timestamp"))
            .alias("end_time"),
        )
    )

    # ---- parent_of edges (child asset → AWSAccount parent)
    edge_activate = edge_activate_raw.withColumn("kind", F.lit("activate")).cache()
    if cached is not None:
        cached += [pair_timeline, guarded_expire, edge_activate]
    edge_created = edge_activate.groupBy(
        "child_type", "child_identifier", "parent_type", "parent_identifier"
    ).agg(
        F.min("seq").alias("edge_created_seq"), F.min_by("ts", "seq").alias("first_seen")
    )

    # endpoint expiry: a successful asset expire hits every edge where the
    # asset is child (Parents) or parent (Children) — main.go:331-361
    exp = guarded_expire.select(
        F.col("seq"), F.col("ts"), F.col("asset_type").alias("xt"), F.col("identifier").alias("xi")
    )
    edge_keys = edge_created.select(
        "child_type", "child_identifier", "parent_type", "parent_identifier", "edge_created_seq"
    )
    # endpoint match is an OR over (child, parent): expressed as TWO
    # equi-joins unioned — the single OR-condition join would compile to a
    # CartesianProduct (quadratic in edges × expires at scale). An expire
    # matching both endpoints yields duplicate candidates; the
    # first-per-activate groupBy below collapses them.
    out_cols = [
        "seq", "ts", "child_type", "child_identifier", "parent_type", "parent_identifier"
    ]
    child_side = edge_keys.join(
        exp,
        (F.col("xt") == F.col("child_type"))
        & (F.col("xi") == F.col("child_identifier"))
        & (F.col("seq") > F.col("edge_created_seq")),
    ).select(*out_cols)
    parent_side = edge_keys.join(
        exp,
        (F.col("xt") == F.col("parent_type"))
        & (F.col("xi") == F.col("parent_identifier"))
        & (F.col("seq") > F.col("edge_created_seq")),
    ).select(*out_cols)
    edge_expire_candidates = (
        child_side.unionByName(parent_side)
        # forced (seeded) edge expires join the candidate pool: they carry
        # the smallest seq after their activate, so the first-per-activate
        # rule keeps them applied and correctly skips later real expires
        .unionByName(ev["forced_edge_expire"])
    )
    # "skip already-expired edges": between two activates only the FIRST
    # candidate expiry applies (main.go:338,354). Round 13: fused sweep —
    # candidates and activates union into one per-edge timeline; each
    # candidate's preceding activate is a running max over the activates
    # strictly before it (rangeBetween(…, -1) on seq; candidate and
    # activate seqs are distinct events so ties cannot straddle), and
    # "earliest candidate per activate" is a grouped min. This replaces
    # the candidates × activates join (output |candidates| × |activates
    # per edge|, and a second shuffle for its groupBy) + row_number
    # window with one window + one partial-aggregated groupBy.
    edge_cols = ["child_type", "child_identifier", "parent_type", "parent_identifier"]
    edge_sweep = edge_activate.select(
        "seq", "ts", *edge_cols, F.lit(True).alias("is_act")
    ).unionByName(
        edge_expire_candidates.select(
            "seq", "ts", *edge_cols, F.lit(False).alias("is_act")
        )
    )
    w_edge = (
        Window.partitionBy(*edge_cols)
        .orderBy("seq")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    prev_act_seq = F.max(F.when(F.col("is_act"), F.col("seq"))).over(w_edge)
    edge_expire = (
        edge_sweep.withColumn("prev_act_seq", prev_act_seq)
        .where(~F.col("is_act") & F.col("prev_act_seq").isNotNull())
        .groupBy(*edge_cols, "prev_act_seq")
        .agg(F.min("seq").alias("seq"), F.min_by("ts", "seq").alias("ts"))
        .select("seq", "ts", *edge_cols)
        .withColumn("kind", F.lit("expire"))
    )
    edge_timeline = edge_activate.unionByName(edge_expire.select(edge_activate.columns))
    parent_of = (
        edge_timeline.groupBy(*edge_cols)
        .agg(F.min_by("ts", "seq").alias("first_seen"), last)
        .select(
            "child_type",
            "child_identifier",
            "parent_type",
            "parent_identifier",
            "first_seen",
            F.col("last.ts").alias("last_seen"),
            F.when(F.col("last.kind") == "expire", F.col("last.ts"))
            .otherwise(F.lit(UNEXPIRED).cast("timestamp"))
            .alias("expiration"),
        )
    )

    return {"assets": assets, "teams": teams, "owns": owns, "parent_of": parent_of}


# Superset schema for the fused single-job materialization of all four
# state tables. Column name/type pairs are consistent wherever shared.
STATE_COLUMNS: dict[str, list[tuple[str, str]]] = {
    "assets": [
        ("type", "string"),
        ("identifier", "string"),
        ("first_seen", "timestamp"),
        ("last_seen", "timestamp"),
        ("expiration", "timestamp"),
    ],
    "teams": [("identifier", "string"), ("name", "string")],
    "owns": [
        ("team_id", "string"),
        ("type", "string"),
        ("asset_identifier", "string"),
        ("start_time", "timestamp"),
        ("end_time", "timestamp"),
    ],
    "parent_of": [
        ("child_type", "string"),
        ("child_identifier", "string"),
        ("parent_type", "string"),
        ("parent_identifier", "string"),
        ("first_seen", "timestamp"),
        ("last_seen", "timestamp"),
        ("expiration", "timestamp"),
    ],
}

_SUPERSET: list[tuple[str, str]] = []
for _cols in STATE_COLUMNS.values():
    for _c in _cols:
        if _c not in _SUPERSET:
            _SUPERSET.append(_c)


def tag_union_state(state: dict[str, DataFrame], extra: tuple[str, ...] = ()) -> DataFrame:
    """Fuse the four state tables into ONE null-padded, tagged DataFrame.

    Materializing state via this union runs a single Spark job (one
    scheduling pass, shared cached frames computed once) instead of four —
    the four separate writes were pure fixed-cost overhead at small batch
    sizes. `split_tagged_state` recovers the per-table views with cheap
    filters over the materialized result. ``extra`` names columns every
    table carries beyond its own (e.g. a per-row flag); they ride along
    after the superset and `split_tagged_state` drops them.
    """
    parts = []
    for table, cols in STATE_COLUMNS.items():
        have = dict(cols)
        parts.append(
            state[table].select(
                F.lit(table).alias("__table"),
                *[
                    (F.col(n) if n in have else F.lit(None)).cast(t).alias(n)
                    for n, t in _SUPERSET
                ],
                *extra,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def split_tagged_state(tagged: DataFrame) -> dict[str, DataFrame]:
    """Inverse of `tag_union_state` (cheap filters; run it on a
    materialized/checkpointed tagged frame)."""
    return {
        table: tagged.where(F.col("__table") == table).select(
            *[n for n, _ in cols]
        )
        for table, cols in STATE_COLUMNS.items()
    }


def batch_shuffle_partitions(
    n_rows: int, default: int = 32, rows_per_partition: int = 2500
) -> int:
    """Initial shuffle-partition count scaled to a micro-batch's size.

    AQE coalesces reducers at runtime, but the map side and the scheduler
    still pay per initial partition; for a few-thousand-event micro-batch
    that fixed cost dominates the replay (measured: 20k events drop from
    ~2.6 s to ~2.1 s going 32 → 8 initial partitions on local[32]). At
    cluster scale batches are large, the formula saturates at the session
    default, and AQE takes over — this only trims the small-batch floor.
    """
    return max(4, min(default, n_rows // rows_per_partition))


# the partition count an active ``tuned_for_batch`` lowered the session
# to; None outside one, or when the batch saturated the session default
_batch_parts: ContextVar[int | None] = ContextVar("batch_parts", default=None)


@contextmanager
def tuned_for_batch(spark, n_rows: int | None = None, *, n_bytes: int | None = None):
    """Configure the session for a small input, restoring after. The input
    is sized by row count (``n_rows``, `batch_shuffle_partitions`: a
    replay's micro-batch) or by bytes (``n_bytes``,
    `tables.scaled_shuffle_partitions`: e.g. the BPE training loop's
    iterate-over-a-bounded-table jobs); give exactly one.

    Two knobs, same rationale (fixed per-stage cost dominates small
    inputs):
    - initial shuffle partitions scaled to the input;
    - AQE off WHEN the batch is small: AQE submits a separate job per
      query stage to re-plan at runtime, and with the shuffle already
      right-sized there is nothing left for it to improve — measured
      ~2.9 s → ~2.3 s on the 20k-event replay (A/B in one process).
      Large batches keep AQE (partitions saturate at the session default
      and runtime re-planning pays again).

    It suits a replay over inputs that are already materialized: the
    bootstrap commit replays the batch from scratch (there an AQE-on run
    measured 25–30 s against 19–22 s for 10k events on 4 vCPUs), and an
    incremental commit replays the batch plus the seeded state rows, both
    local checkpoints by then, so ``streaming.ingest`` sizes the block by
    their row count. The block must not cover the plan that splits state
    read from disk by the touched keys: planned inside it, with AQE off,
    those joins launched ~70 one-stage broadcast jobs, and a 2k-event
    commit into ~3k assets took 38 s against 23 s under the session's own
    confs, same host.

    The confs are session-global: the block assumes nothing else runs
    jobs on the same SparkSession meanwhile (a concurrent query would
    plan under the scaled confs). Both confs are restored on exit, also
    when the block raises.
    """
    if (n_rows is None) == (n_bytes is None):
        raise TypeError("tuned_for_batch takes exactly one of n_rows, n_bytes")
    conf = spark.conf
    prev_shuffle = conf.get("spark.sql.shuffle.partitions")
    prev_aqe = conf.get("spark.sql.adaptive.enabled")
    if n_rows is not None:
        parts = batch_shuffle_partitions(n_rows, int(prev_shuffle))
    else:
        parts = scaled_shuffle_partitions(n_bytes, int(prev_shuffle))
    lowered = parts < int(prev_shuffle)
    conf.set("spark.sql.shuffle.partitions", str(parts))
    if lowered:
        conf.set("spark.sql.adaptive.enabled", "false")
    token = _batch_parts.set(parts if lowered else None)
    try:
        yield
    finally:
        _batch_parts.reset(token)
        conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        conf.set("spark.sql.adaptive.enabled", prev_aqe)


def coalesce_small_batch(df: DataFrame) -> DataFrame:
    """Narrow (no-shuffle) coalesce of a batch's input to the partition
    count an enclosing ``tuned_for_batch`` lowered the session to, so a
    micro-batch's map stages stop paying one task launch per input
    partition per derived frame (measured on the 20k-event replay: 648 →
    ~200 tasks, 1.2×). Outside ``tuned_for_batch``, or when the batch was
    large enough that the count saturated at the session default, the
    input is returned as is and keeps its scan parallelism."""
    parts = _batch_parts.get()
    return df if parts is None else df.coalesce(parts)


def replay(decoded: DataFrame) -> dict[str, DataFrame]:
    """Full-history batch replay of decoded events (input coalesced by
    `coalesce_small_batch`, then cached for the derived frames)."""
    return replay_from_events(events_from_decoded(coalesce_small_batch(decoded).cache()))


def replay_raw(raw: DataFrame) -> dict[str, DataFrame]:
    return replay(decode_events(raw))
