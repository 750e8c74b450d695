"""Sequential reference model of the temporal asset graph, indexed by
asset key.

Same semantics as ``plans.interpreter`` (it reuses that module's state
classes and gates), but an expire touches only the owns rows and edges of
the expired asset, found through two indexes, instead of scanning every
owns row and every edge. That keeps a whole stream O(events), which the
benchmark needs at 10^4-10^5 events. ``test_ref_model.py`` proves it equal
to ``plans.interpreter.run``.
"""

from __future__ import annotations

import json
from collections import defaultdict

from graph_vulcan_assets_spark.plans.interpreter import (
    AWS_ANNOTATION_KEY,
    UNEXPIRED,
    Asset,
    Edge,
    Owns,
    State,
    _version_ok,
    normalize_aws,
)


class Model:
    def __init__(self) -> None:
        self.state = State()
        # (type, identifier) -> teams that have an owns row for the asset
        self._owners: dict[tuple[str, str], set[str]] = defaultdict(set)
        # (type, identifier) -> keys of the edges it is an endpoint of
        self._edges_of: dict[tuple[str, str], set[tuple]] = defaultdict(set)

    def apply(self, msg: dict) -> None:
        meta = {m["key"]: m["value"] for m in (msg.get("metadata") or [])}
        version, atype, ident = meta.get("version"), meta.get("type"), meta.get("identifier")
        if not (version and atype and ident) or not _version_ok(version):
            return
        parts = (msg.get("key") or "").split("/")
        if len(parts) != 2:
            return
        now = msg["ts"]
        if msg.get("value") is None:
            self._expire(atype, ident, parts[0], now)
            return
        payload = json.loads(msg["value"])
        team = payload.get("Team") or {}
        team_id = team.get("Id") or parts[0]
        self._refresh_asset(atype, ident, now)
        self.state.teams[team_id] = team.get("Name")
        owns = self.state.owns.get((atype, ident, team_id))
        start = owns.start_time if owns is not None else now
        self.state.owns[(atype, ident, team_id)] = Owns(start, None)
        self._owners[(atype, ident)].add(team_id)
        for ann in payload.get("Annotations") or []:
            if ann.get("Key") != AWS_ANNOTATION_KEY:
                continue
            arn = normalize_aws(ann.get("Value") or "")
            if arn is None:
                continue
            self._refresh_asset("AWSAccount", arn, now)
            key = (atype, ident, "AWSAccount", arn)
            edge = self.state.edges.get(key)
            if edge is None:
                self.state.edges[key] = Edge(now, now, UNEXPIRED)
                self._edges_of[(atype, ident)].add(key)
                self._edges_of[("AWSAccount", arn)].add(key)
            else:
                edge.last_seen, edge.expiration = now, UNEXPIRED

    def _refresh_asset(self, atype: str, ident: str, now) -> None:
        asset = self.state.assets.get((atype, ident))
        if asset is None:
            self.state.assets[(atype, ident)] = Asset(now, now, UNEXPIRED)
        else:
            asset.last_seen, asset.expiration = now, UNEXPIRED

    def _expire(self, atype: str, ident: str, team_id: str, now) -> None:
        asset = self.state.assets.get((atype, ident))
        if asset is None or team_id not in self.state.teams:
            return
        others_active = False
        for t in self._owners[(atype, ident)]:
            owns = self.state.owns[(atype, ident, t)]
            if t == team_id:
                owns.end_time = now
            elif owns.end_time is None:
                others_active = True
        if others_active:
            return
        asset.last_seen = asset.expiration = now
        for key in self._edges_of[(atype, ident)]:
            edge = self.state.edges[key]
            if edge.expiration > now:
                edge.last_seen = edge.expiration = now


def run(messages: list[dict]) -> State:
    model = Model()
    for msg in sorted(messages, key=lambda m: m["seq"]):
        model.apply(msg)
    return model.state


def as_tables(state: State) -> dict[str, dict]:
    """The state as four dicts keyed by natural key, in the shape the
    benchmark builds from the program's state tables."""
    return {
        "assets": {
            k: (a.first_seen, a.last_seen, a.expiration) for k, a in state.assets.items()
        },
        "teams": dict(state.teams),
        "owns": {k: (o.start_time, o.end_time) for k, o in state.owns.items()},
        "parent_of": {
            k: (e.first_seen, e.last_seen, e.expiration) for k, e in state.edges.items()
        },
    }
