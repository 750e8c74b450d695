"""Read API over the temporal-graph state — the engine's equivalent of the
reference's REST query surface (inventory/inventory.go:149-628).

Every endpoint is a DataFrame transformation over the state tables produced
by `plans.temporal.replay` (or maintained by `streaming.ingest`):

| Reference endpoint                  | Method here   | Cite |
|-------------------------------------|---------------|------|
| GET /v1/assets?asset_type&asset_identifier&valid_at&page&size | assets()   | inventory.go:173-193 |
| GET /v1/teams?team_identifier&page&size                       | teams()    | inventory.go:236-253 |
| GET /v1/assets/{id}/parents?page&size                         | parents()  | inventory.go:497-524 |
| GET /v1/assets/{id}/children?page&size                        | children() | inventory.go:572-599 |
| GET /v1/assets/{id}/owners?page&size                          | owners()   | inventory.go:603-628 |

Filters are exact-match only (partial identifiers return nothing —
inventory_test.go:299-314); `valid_at` keeps rows whose
[first_seen, expiration] interval covers the instant
(inventory_test.go:291-298); pagination is page/size with size=0 meaning
"no pagination" (inventory.go:115-120,149-163), realized as a
deterministic ORDER BY natural key + LIMIT/OFFSET.

Surrogate ids: reference entities carry server-assigned `id` fields and
the traversals are id-keyed (`Assets` returns ids, inventory.go:71-78;
`Parents`/`Children`/`Owners` take an asset id, inventory.go:497-628;
edges carry parent_id/child_id, inventory.go:89-96). The engine derives
DETERMINISTIC surrogate ids — ``xxhash64`` over a per-entity-kind salt and
the natural key — so ids are stable across replays, reproducible on any
executor without coordination (no sequence generator, no shuffle).
`assets()` / `teams()` surface `id`; edge views surface `parent_id`/
`child_id`/`asset_id`/`team_ref`; the traversals accept either the natural
key or ``asset_id=``.

File pruning: over ``streaming.ingest``'s state (``read_state()``, a
``bucketstore.PinnedState``), a natural-key lookup opens only the bucket
its key hashes into (``bucketstore.key_bucket``, computed on the driver)
in the snapshot pinned when the state was read:
- ``assets(type, identifier)``, ``teams(identifier)``, ``owners`` and
  ``parents`` read that one bucket of their table (``owners`` also
  broadcasts the whole teams table for its join);
- ``children`` reads the parent key's ``parent_idx`` bucket, then only the
  ``parent_of`` buckets that index points to; once
  ``compact_parent_index`` has dropped expired edges' pointers, the pin
  holds no index and ``children`` scans ``parent_of`` whole.
Such a result is bounded by one key's rows, so it is sorted in one
partition, with no range-partitioning shuffle: one Spark job (two for
``owners``, whose teams broadcast is a job of its own). These are not pruned and scan every live
file: ``asset_id=`` and ``*_by_id`` lookups (an equality filter on a
computed hash), ``valid_at`` and keyset listings, and any read over a
plain ``dict`` of frames, such as ``plans.temporal.replay_raw``'s.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_vulcan_assets_spark.sources.bucketstore import PinnedState
from graph_vulcan_assets_spark.streaming.ingest import PARENT_IDX


def asset_id_col(type_col: Column, identifier_col: Column) -> Column:
    """Deterministic asset surrogate id (inventory.go:71-78's `id`)."""
    return F.xxhash64(F.lit("asset"), type_col, identifier_col)


def team_id_col(identifier_col: Column) -> Column:
    return F.xxhash64(F.lit("team"), identifier_col)


def _asset_ids(assets: DataFrame) -> DataFrame:
    return assets.select("*", asset_id_col(F.col("type"), F.col("identifier")).alias("id"))


def _team_ids(teams: DataFrame) -> DataFrame:
    return teams.select("*", team_id_col(F.col("identifier")).alias("id"))


def _owns_ids(owns: DataFrame) -> DataFrame:
    asset_id = asset_id_col(F.col("type"), F.col("asset_identifier"))
    team_ref = team_id_col(F.col("team_id"))
    return owns.select(
        "*",
        asset_id.alias("asset_id"),
        team_ref.alias("team_ref"),
        F.xxhash64(F.lit("owns"), asset_id, team_ref).alias("id"),
    )


def _edge_ids(parent_of: DataFrame) -> DataFrame:
    parent_id = asset_id_col(F.col("parent_type"), F.col("parent_identifier"))
    child_id = asset_id_col(F.col("child_type"), F.col("child_identifier"))
    return parent_of.select(
        "*",
        parent_id.alias("parent_id"),
        child_id.alias("child_id"),
        F.xxhash64(F.lit("parent_of"), child_id, parent_id).alias("id"),
    )


_SURROGATES = {
    "assets": _asset_ids, "teams": _team_ids, "owns": _owns_ids, "parent_of": _edge_ids,
}


def with_surrogate_ids(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Augment state tables with the reference's id fields.

    assets/teams gain `id`; owns gains `id`, `asset_id`, `team_ref`
    (surrogate of its team — the natural `team_id` column is kept);
    parent_of gains `id`, `parent_id`, `child_id`
    (inventory.go:89-96,107-113).
    """
    return {t: add_ids(state[t]) for t, add_ids in _SURROGATES.items()}


def _key_match(cols: tuple[str, ...], key: tuple) -> Column:
    pred = None
    for c, v in zip(cols, key):
        clause = F.col(c) == v
        pred = clause if pred is None else pred & clause
    return pred


def _paginate(df: DataFrame, order_cols: list[str], page: int | None, size: int | None) -> DataFrame:
    out = df.orderBy(*order_cols)
    if size:  # size=0 or None disables pagination (inventory.go:149-163)
        out = out.offset((page or 0) * size).limit(size)
    return out


def keyset_page(df: DataFrame, order_cols: list[str], after: tuple | None, size: int) -> DataFrame:
    """Cursor (keyset) pagination: the scale-correct alternative to
    page/size. OFFSET N scans and discards N rows every page — O(pages²)
    total over a full listing; a keyset cursor turns each page into a
    pushed-down range filter (PushedFilters on the first order column) +
    top-k, so page 10,000 costs the same as page 1.

    ``after`` is the last row of the previous page as a tuple matching
    ``order_cols`` (None for the first page). The filter is the
    lexicographic row-value predicate (a, b) > (x, y) expanded to
    a > x OR (a = x AND b > y) — the leading strict inequality is what
    reaches the parquet reader as a pushed filter.
    """
    out = df
    if after is not None:
        if len(after) != len(order_cols):
            raise ValueError("cursor arity must match order columns")
        pred = None
        for i in range(len(order_cols)):
            clause = F.col(order_cols[i]) > F.lit(after[i])
            for j in range(i):
                clause = (F.col(order_cols[j]) == F.lit(after[j])) & clause
            pred = clause if pred is None else (pred | clause)
        out = out.where(pred)
    return out.orderBy(*order_cols).limit(size)


class InventoryAPI:
    def __init__(self, state: dict[str, DataFrame]):
        # a PinnedState (streaming.ingest.read_state) lets key lookups open
        # one bucket; a plain dict of frames is read whole
        self.pinned = state if isinstance(state, PinnedState) else None
        self.state = with_surrogate_ids(state)

    def _by_key(self, table: str, cols: tuple[str, ...], key: tuple) -> DataFrame:
        """Rows of ``table`` whose ``cols`` (its bucket key) equal ``key``:
        over pinned state, only the key's bucket, in one partition."""
        if self.pinned is None:
            return self.state[table].where(_key_match(cols, key))
        rows = self.pinned.read_key(table, key).where(_key_match(cols, key))
        return _SURROGATES[table](rows).coalesce(1)

    def _children_of(self, key: tuple) -> DataFrame:
        """parent_of rows whose parent is ``key``: over pinned state, only
        the child buckets the key's ``parent_idx`` bucket points to (read
        on the driver, so the lookup stays one Spark job)."""
        cols = ("parent_type", "parent_identifier")
        if self.pinned is None or PARENT_IDX not in self.pinned.versions:
            return self.state["parent_of"].where(_key_match(cols, key))
        buckets = set(self.pinned.key_values(PARENT_IDX, key, cols, "child_bucket"))
        rows = self.pinned.read_buckets("parent_of", buckets).where(_key_match(cols, key))
        return _edge_ids(rows).coalesce(1)

    def assets(
        self,
        asset_type: str | None = None,
        identifier: str | None = None,
        valid_at: datetime.datetime | None = None,
        page: int | None = None,
        size: int | None = None,
    ) -> DataFrame:
        if asset_type and identifier:
            df = self._by_key("assets", ("type", "identifier"), (asset_type, identifier))
        else:
            df = self.state["assets"]
            if asset_type:
                df = df.where(F.col("type") == asset_type)
            if identifier:
                df = df.where(F.col("identifier") == identifier)
        if valid_at is not None:
            df = df.where(
                (F.col("first_seen") <= F.lit(valid_at))
                & (F.col("expiration") >= F.lit(valid_at))
            )
        return _paginate(df, ["type", "identifier"], page, size)

    def assets_after(
        self,
        cursor: tuple[str, str] | None,
        size: int = 100,
        asset_type: str | None = None,
    ) -> DataFrame:
        """Keyset-paginated asset listing: the page strictly after
        ``cursor`` = (type, identifier) of the previous page's last row
        (None = first page). The scale form of ``assets(page=, size=)``:
        the cursor becomes a pushed-down range predicate instead of an
        OFFSET that rescans every earlier page."""
        df = self.state["assets"]
        if asset_type:
            df = df.where(F.col("type") == asset_type)
        return keyset_page(df, ["type", "identifier"], cursor, size)

    def teams(
        self,
        identifier: str | None = None,
        page: int | None = None,
        size: int | None = None,
    ) -> DataFrame:
        if identifier:
            df = self._by_key("teams", ("identifier",), (identifier,))
        else:
            df = self.state["teams"]
        return _paginate(df, ["identifier"], page, size)

    def asset_by_id(self, asset_id: int) -> DataFrame:
        """Resolve a surrogate id back to the asset row — the id→identifier
        readback join of main_test.go:524-540 as a single equality filter."""
        return self.state["assets"].where(F.col("id") == asset_id)

    def team_by_id(self, team_id: int) -> DataFrame:
        return self.state["teams"].where(F.col("id") == team_id)

    def _key_or_id(self, table, cols, asset_type, identifier, asset_id, id_col):
        if asset_id is not None:
            return self.state[table].where(F.col(id_col) == asset_id)
        if asset_type is None or identifier is None:
            raise ValueError("pass either (asset_type, identifier) or asset_id=")
        return self._by_key(table, cols, (asset_type, identifier))

    def owners(
        self,
        asset_type: str | None = None,
        identifier: str | None = None,
        page: int | None = None,
        size: int | None = None,
        *,
        asset_id: int | None = None,
    ) -> DataFrame:
        """Owns edges of an asset joined with team rows (owns ⋈ teams —
        the reference's N+1 lookup collapsed into one broadcast join).
        Id-keyed form: GET /v1/assets/{id}/owners (inventory.go:603-628)."""
        owns = self._key_or_id(
            "owns", ("type", "asset_identifier"),
            asset_type, identifier, asset_id, "asset_id",
        )
        teams = self.state["teams"].select(
            F.col("identifier").alias("team_id"), F.col("name").alias("team_name")
        )
        return _paginate(
            owns.join(F.broadcast(teams), "team_id", "left"),
            ["team_id"],
            page,
            size,
        )

    def parents(
        self,
        asset_type: str | None = None,
        identifier: str | None = None,
        page: int | None = None,
        size: int | None = None,
        *,
        asset_id: int | None = None,
    ) -> DataFrame:
        """Outgoing parent_of edges: the asset as CHILD (inventory.go:497-524)."""
        df = self._key_or_id(
            "parent_of", ("child_type", "child_identifier"),
            asset_type, identifier, asset_id, "child_id",
        )
        return _paginate(df, ["parent_type", "parent_identifier"], page, size)

    def children(
        self,
        asset_type: str | None = None,
        identifier: str | None = None,
        page: int | None = None,
        size: int | None = None,
        *,
        asset_id: int | None = None,
    ) -> DataFrame:
        """Incoming parent_of edges: the asset as PARENT (inventory.go:572-599)."""
        if asset_id is not None:
            df = self.state["parent_of"].where(F.col("parent_id") == asset_id)
        elif asset_type is None or identifier is None:
            raise ValueError("pass either (asset_type, identifier) or asset_id=")
        else:
            df = self._children_of((asset_type, identifier))
        return _paginate(df, ["child_type", "child_identifier"], page, size)
