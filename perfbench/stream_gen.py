"""Seeded asset-event stream generator.

The program under test sees only the JSON-lines files this module writes
(one file per micro-batch, rows in ``plans.temporal.RAW_SCHEMA`` form).
Make-up of a stream of ``n_events`` over ``n_assets`` assets:

- key popularity is Zipf-skewed (exponent ``ZIPF_S``) over a seeded
  permutation of the asset pool, so a few hosts are rescanned constantly;
- about ``TOMBSTONE_P`` of the valid events are tombstones;
- about ``AWS_P`` of refreshes carry the asset's AWS-account annotation
  (short or long form), over ``N_ACCOUNTS`` accounts;
- ``N_TEAMS`` teams; about ``SHARED_P`` of assets have a second owner
  team, so expiring one owner leaves the asset alive; a team keeps its
  name;
- exactly ``round(n_events * REJECT_P)`` gate-rejected messages (bad
  semver, missing header, malformed key, in rotation) at seeded positions;
  their seqs are returned so the benchmark can check the decoder's drops.

Sequence numbers are global and strictly increasing; timestamps advance
one second every second event, so runs of events share a timestamp and
order must come from ``seq`` alone.

``ZIPF_S``, ``SHARED_P`` and the asset counts the callers pass are
assumptions with no measured source (see README.md, "Inputs and seeds");
the other proportions are the ones the benchmark's specification names.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np

AWS_ANNOTATION_KEY = "autodiscovery/security/aws-account"
T0 = datetime.datetime(2024, 3, 1)
ASSET_TYPES = ("Hostname", "DockerImage", "IP", "GitRepository", "WebAddress")

ZIPF_S = 0.8
TOMBSTONE_P = 0.10
AWS_P = 0.25
N_ACCOUNTS = 200
N_TEAMS = 32
SHARED_P = 0.15
REJECT_P = 0.01


def account_id(i: int) -> str:
    return f"{100000000000 + i * 7919:012d}"


def account_arn(i: int) -> str:
    return f"arn:aws:iam::{account_id(i)}:root"


def _meta(version: str, atype: str, ident: str) -> list[dict]:
    return [
        {"key": "version", "value": version},
        {"key": "type", "value": atype},
        {"key": "identifier", "value": ident},
    ]


class Universe:
    """The asset pool of one seed: identity, owner teams, AWS account and
    popularity of every asset."""

    def __init__(self, rng: np.random.Generator, n_assets: int):
        self.n = n_assets
        self.types = [ASSET_TYPES[i % len(ASSET_TYPES)] for i in range(n_assets)]
        self.idents = [f"{t.lower()}-{i}.example.com" for i, t in enumerate(self.types)]
        primary = rng.integers(0, N_TEAMS, n_assets)
        second = (primary + rng.integers(1, N_TEAMS, n_assets)) % N_TEAMS
        shared = rng.random(n_assets) < SHARED_P
        self.owners = [
            (int(p), int(s)) if sh else (int(p),)
            for p, s, sh in zip(primary, second, shared)
        ]
        self.account = rng.integers(0, N_ACCOUNTS, n_assets)
        weights = 1.0 / np.arange(1, n_assets + 1) ** ZIPF_S
        self.popularity = (weights / weights.sum())[rng.permutation(n_assets)]


def _reject(kind: int, seq: int, ts: str, team: str, atype: str, ident: str) -> dict:
    key = f"{team}/asset-{ident}"
    meta = _meta("v0.2.0", atype, ident)
    if kind == 0:  # unsupported major version
        meta = _meta("v1.0.0", atype, ident)
    elif kind == 1:  # missing identifier header
        meta = meta[:2]
    else:  # malformed key
        key = f"{team}-asset-{ident}"
    return {"seq": seq, "ts": ts, "key": key, "value": None, "metadata": meta}


def stream(seed: int, n_events: int, n_assets: int) -> tuple[list[dict], set[int]]:
    """The seeded message list and the seqs of the gate-rejected messages
    planted in it."""
    rng = np.random.default_rng(seed)
    u = Universe(rng, n_assets)
    picks = rng.choice(n_assets, size=n_events, p=u.popularity)
    kind = rng.random(n_events)
    owner_pick = rng.integers(0, 2, n_events)
    with_aws = rng.random(n_events) < AWS_P
    short_form = rng.random(n_events) < 0.5
    n_reject = round(n_events * REJECT_P)
    reject_at = set(rng.choice(n_events, size=n_reject, replace=False).tolist())

    msgs: list[dict] = []
    rejected: set[int] = set()
    for i in range(n_events):
        seq = i + 1
        ts = (T0 + datetime.timedelta(seconds=i // 2)).isoformat()
        a = int(picks[i])
        atype, ident = u.types[a], u.idents[a]
        owners = u.owners[a]
        team = f"t{owners[int(owner_pick[i]) % len(owners)]:02d}"
        if i in reject_at:
            msgs.append(_reject(len(rejected) % 3, seq, ts, team, atype, ident))
            rejected.add(seq)
            continue
        if kind[i] < TOMBSTONE_P:
            msgs.append({
                "seq": seq, "ts": ts, "key": f"{team}/asset-{ident}",
                "value": None, "metadata": _meta("v0.2.0", atype, ident),
            })
            continue
        annotations = []
        if with_aws[i]:
            acct = int(u.account[a])
            annotations.append({
                "Key": AWS_ANNOTATION_KEY,
                "Value": account_id(acct) if short_form[i] else account_arn(acct),
            })
        payload = {
            "Id": f"asset-{ident}",
            "Team": {
                "Id": team,
                "Name": f"Team {team}",
                "Description": "",
                "Tag": "",
            },
            "Alias": "",
            "Rolfp": "R:0/O:0/L:0/F:0/P:0+S:0",
            "Scannable": True,
            "AssetType": atype,
            "Identifier": ident,
            "Annotations": annotations,
        }
        msgs.append({
            "seq": seq, "ts": ts, "key": f"{team}/asset-{ident}",
            "value": json.dumps(payload), "metadata": _meta("v0.1.0", atype, ident),
        })
    return msgs, rejected


def write_jsonl(msgs: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")


def write_batches(msgs: list[dict], sizes: list[int], out_dir: str) -> list[str]:
    """Split ``msgs`` into consecutive micro-batches of ``sizes`` and
    write one JSON-lines file per batch; returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths, start = [], 0
    for b, n in enumerate(sizes):
        path = os.path.join(out_dir, f"batch-{b:03d}.json")
        write_jsonl(msgs[start:start + n], path)
        paths.append(path)
        start += n
    return paths


def as_interpreter_messages(msgs: list[dict]) -> list[dict]:
    """The same messages with ``ts`` as a datetime, the form
    ``plans.interpreter`` and the reference model take."""
    return [dict(m, ts=datetime.datetime.fromisoformat(m["ts"])) for m in msgs]
