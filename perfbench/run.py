"""Benchmark of the temporal asset-graph engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload ingest-serve --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client; see README.md for sizes and why):

- ``ingest-serve``: micro-batches through ``TemporalGraphStream.apply_batch``
  (a bootstrap into empty state, then an incremental batch), the last
  commit followed by a burst of ``InventoryAPI`` reads over ``read_state()``;
- ``operator-mix``: registry entries from ``registry.all_queries()`` at
  scale factor 0.03, each called once, cold, as a user's first call.

Every output is checked: the state and every read against the reference
model (``ref_model.py``), the decoder's drops against the planted rejects,
oracle-bearing entries against their DuckDB SQL, ``q_bpe_encode`` against
stated properties. A failed check counts its operation as failed.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Per-run artifacts
(result, spans) go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path[:0] = [ROOT, HERE]

# Pinned so that runs on any host use the same parallelism and memory.
CPUS = "4"
DRIVER_MEM = "4g"

# ingest-serve
INGEST_ASSETS = 5_000
BATCH_SIZES = (10_000, 2_000)  # bootstrap, then one incremental batch
KEYS_PER_KIND = 2  # reads of each kind after the last commit
PAGE = 50
READ_KINDS = ("asset", "owners", "parents", "children", "valid_at", "keyset")

# operator-mix
SF = 0.03
ENTRIES = ("q_bpe_encode", "q_join_asof", "q_shape_q5")
KEY_ENTRY = "q_bpe_encode"  # the slowest entry; key_op_s on operator-mix

WORKLOADS = ("operator-mix", "ingest-serve")
QUERY_KINDS = (*READ_KINDS, "query")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


PHASES: dict[str, float] = {}
_phase_start = [time.perf_counter()]


def phase(name: str) -> None:
    """Close the current phase of the run under ``name`` (wall seconds
    since the previous call); the record keeps them all."""
    now = time.perf_counter()
    PHASES[name] = now - _phase_start[0]
    _phase_start[0] = now
    log(f"phase {name}: {PHASES[name]:.2f} s")


# ---------------------------------------------------------------- set-up
def pin_environment(work: str, trace: bool) -> dict:
    """Pin the engine's resources, keep every file the run writes inside
    ``work``, and drop overrides of the engine's defaults."""
    for var in (
        "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_STATE_BUCKETS",
        "SPARK_GRAFT_ADVISORY_PARTITION", "SPARK_GRAFT_SF_DIR",
    ):
        os.environ.pop(var, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        # the launcher JVM that spark-submit starts before the driver's
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pins)
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        import spans as tr

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += tr.event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"'{a}'" if " " in a else a for a in args
    ) + " pyspark-shell"
    return pins


def setup(tracer, make_objects):
    """Launch the JVM and the session, as a user's first call does, and
    make the workload's program objects. Returns (spark, objects, seconds
    of the whole set-up, seconds of ``get_spark()``)."""
    from graph_vulcan_assets_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    objects = make_objects(spark)
    tracer.sc = spark.sparkContext
    return spark, objects, time.perf_counter() - t0, t1 - t0


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ operations
@dataclass
class Op:
    kind: str
    span: object
    ok: bool


class Ops:
    """Timed operations of a run. A raised exception or a failed output
    check marks the operation failed; the run goes on. A failed check also
    makes the run incorrect."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.done: list[Op] = []
        self.wrong_outputs = 0

    def run(self, kind: str, fn, **attrs):
        with self.tracer.span(kind, **attrs) as s:
            try:
                out, ok = fn(), True
            except Exception:
                traceback.print_exc()
                out, ok = None, False
        op = Op(kind, s, ok)
        self.done.append(op)
        return op, out

    def check(self, op: Op, ok: bool, what: str) -> None:
        if not ok:
            op.ok = False
            self.wrong_outputs += 1
            log(f"CHECK FAILED: {op.kind} {op.span.attrs}: {what}")


def exchanges(df) -> int:
    """Exchange nodes (shuffles and broadcasts; reuses excluded) in the
    DataFrame's executed plan, the final one once adaptive execution ran."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return sum(w != "ReusedExchange" for w in re.findall(r"\b(\w*Exchange)\b", plan))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def batch_versions(state_dir: str, batch: int) -> list[str]:
    """The ``batch=N/bucket=B`` version directories a commit wrote."""
    out = []
    for table in sorted(os.listdir(state_dir)):
        d = os.path.join(state_dir, table, f"batch={batch}")
        if os.path.isdir(d):
            out += [os.path.join(d, b) for b in os.listdir(d) if b.startswith("bucket=")]
    return out


# ---------------------------------------------------------- ingest-serve
def _tuples(rows, cols):
    return [tuple(r[c] for c in cols) for r in rows]


ASSET_COLS = ("type", "identifier", "first_seen", "last_seen", "expiration")
OWNER_COLS = ("team_id", "type", "asset_identifier", "start_time", "end_time", "team_name")
EDGE_COLS = (
    "child_type", "child_identifier", "parent_type", "parent_identifier",
    "first_seen", "last_seen", "expiration",
)


def plan_reads(snap: dict, events: list[dict], rng: random.Random) -> list[tuple]:
    """The (kind, argument) pairs of one read burst, drawn from the state
    the reference model holds at that commit."""
    assets = sorted(k for k in snap["assets"] if k[0] != "AWSAccount")
    accounts = sorted(k for k in snap["assets"] if k[0] == "AWSAccount")
    children = sorted({k[:2] for k in snap["parent_of"]}) or assets  # assets with a parent
    reads = []
    for _ in range(KEYS_PER_KIND):
        key = rng.choice(assets)
        at = rng.choice(events)["ts"]
        n_valid = sum(1 for fs, _, exp in snap["assets"].values() if fs <= at <= exp)
        reads += [
            ("asset", key),
            ("owners", key),
            ("parents", rng.choice(children)),
            ("children", rng.choice(accounts)),
            ("valid_at", (at, rng.randrange(max(1, n_valid // PAGE)))),
            ("keyset", rng.choice(assets)),
        ]
    return reads


def do_read(api, kind: str, arg):
    """One InventoryAPI read; returns (DataFrame, rows as tuples)."""
    if kind == "asset":
        df, cols = api.assets(asset_type=arg[0], identifier=arg[1]), ASSET_COLS
    elif kind == "owners":
        df, cols = api.owners(arg[0], arg[1]), OWNER_COLS
    elif kind == "parents":
        df, cols = api.parents(arg[0], arg[1]), EDGE_COLS
    elif kind == "children":
        df, cols = api.children(arg[0], arg[1]), EDGE_COLS
    elif kind == "valid_at":
        df, cols = api.assets(valid_at=arg[0], page=arg[1], size=PAGE), ASSET_COLS
    else:
        df, cols = api.assets_after(arg, size=PAGE), ASSET_COLS
    return df, _tuples(df.collect(), cols)


def expected_read(snap: dict, kind: str, arg) -> list[tuple]:
    assets = sorted((k + v for k, v in snap["assets"].items()))
    if kind == "asset":
        return [k + v for k, v in snap["assets"].items() if k == arg]
    if kind == "owners":
        return sorted(
            (k[2], k[0], k[1], *v, snap["teams"].get(k[2]))
            for k, v in snap["owns"].items()
            if k[:2] == arg
        )
    if kind in ("parents", "children"):
        side = slice(0, 2) if kind == "parents" else slice(2, 4)
        other = slice(2, 4) if kind == "parents" else slice(0, 2)
        return sorted(
            (k + v for k, v in snap["parent_of"].items() if k[side] == arg),
            key=lambda r: r[other],
        )
    if kind == "valid_at":
        at, page = arg
        valid = [r for r in assets if r[2] <= at <= r[4]]
        return valid[page * PAGE:(page + 1) * PAGE]
    return [r for r in assets if r[:2] > arg][:PAGE]


def read_state_tables(stream) -> dict:
    state = stream.read_state()
    return {
        "assets": {
            (r["type"], r["identifier"]): (r["first_seen"], r["last_seen"], r["expiration"])
            for r in state["assets"].collect()
        },
        "teams": {r["identifier"]: r["name"] for r in state["teams"].collect()},
        "owns": {
            (r["type"], r["asset_identifier"], r["team_id"]): (r["start_time"], r["end_time"])
            for r in state["owns"].collect()
        },
        "parent_of": {
            (r["child_type"], r["child_identifier"], r["parent_type"], r["parent_identifier"]):
                (r["first_seen"], r["last_seen"], r["expiration"])
            for r in state["parent_of"].collect()
        },
    }


def ingest_serve(args, work: str, tracer) -> dict:
    import ref_model as model
    import stream_gen as gen
    from graph_vulcan_assets_spark.plans.api import InventoryAPI
    from graph_vulcan_assets_spark.plans.temporal import RAW_SCHEMA, decode_events
    from graph_vulcan_assets_spark.streaming.ingest import TemporalGraphStream

    msgs, rejected = gen.stream(args.seed, sum(BATCH_SIZES), INGEST_ASSETS)
    paths = gen.write_batches(msgs, list(BATCH_SIZES), os.path.join(work, "input"))
    events = gen.as_interpreter_messages(msgs)
    bounds = [sum(BATCH_SIZES[:b]) for b in range(len(BATCH_SIZES) + 1)]
    ref = model.Model()
    for m in events:
        ref.apply(m)
    final = model.as_tables(ref.state)
    last = len(BATCH_SIZES) - 1

    phase("inputs")
    n_streams = itertools.count()

    def new_stream(spark):
        d = os.path.join(work, f"state-{next(n_streams)}")
        return d, TemporalGraphStream(spark, d)

    spark, (state_dir, stream), setup_s, start_s = setup(tracer, new_stream)
    phase("setup")
    ops = Ops(tracer)
    rounds, commits, reads = [], [], []
    begin = time.perf_counter()
    while not rounds or time.perf_counter() - begin < args.seconds:
        if rounds:
            state_dir, stream = new_stream(spark)
        with tracer.span("round") as rnd:
            for b, path in enumerate(paths):
                raw = spark.read.schema(RAW_SCHEMA).json(path)
                op, _ = ops.run("commit", lambda: stream.apply_batch(raw, b), batch=b)
                commits.append((op, b, state_dir))
            with tracer.span("read_state"):
                api = InventoryAPI(stream.read_state())
            rng = random.Random(args.seed * 1000 + last)
            for kind, arg in plan_reads(final, events, rng):
                op, out = ops.run(kind, lambda: do_read(api, kind, arg), batch=last)
                reads.append((op, out and out[0]))
                if out is not None:
                    op.span.attrs["rows"] = len(out[1])
                    ops.check(op, out[1] == expected_read(final, kind, arg),
                              f"rows differ from the model: {kind} {arg}")
        rounds.append(rnd)
        phase(f"round{len(rounds)}")
        # checks of the round's commits, untimed
        ops.check(commits[-1][0], read_state_tables(stream) == final,
                  "final state differs from the model")
        for op, b, _ in commits[-len(paths):]:
            raw = spark.read.schema(RAW_SCHEMA).json(paths[b])
            dropped = raw.count() - decode_events(raw).count()
            planted = sum(1 for s in rejected if bounds[b] < s <= bounds[b + 1])
            ops.check(op, dropped == planted, f"decoder dropped {dropped}, planted {planted}")
        phase(f"checks{len(rounds)}")

    layers = {}
    if tracer.enabled:
        layers = ingest_layers(spark, tracer, paths, commits, reads, state_dir)
        phase("layer probes")
    return dict(spark=spark, ops=ops, rounds=rounds, setup_s=setup_s, start_s=start_s,
                layers=layers)


def ingest_layers(spark, tracer, paths, commits, reads, state_dir) -> dict:
    """Per-layer probes that only the traced run makes: input files per
    read, and a direct ``plans.temporal`` replay of the whole stream."""
    from graph_vulcan_assets_spark.plans.temporal import (
        RAW_SCHEMA, decode_events, replay_raw, tag_union_state,
    )

    files = [len(df.inputFiles()) for op, df in reads if df is not None]
    raw = spark.read.schema(RAW_SCHEMA).json(paths)
    with tracer.span("decode_events") as dec:
        decode_events(raw).write.format("noop").mode("overwrite").save()
    with tracer.span("replay_plan") as plan:
        tagged = tag_union_state(replay_raw(raw))
        n_exchanges = exchanges(tagged)
    with tracer.span("replay_raw") as rep:
        tagged.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    rejected_events = raw.count() - decode_events(raw).count()
    versions = batch_versions(state_dir, commits[-1][1])
    return dict(
        files_per_read=statistics.mean(files) if files else 0,
        decode=dec, plan=plan, replay=rep, exchanges=n_exchanges,
        rejected_events=rejected_events,
        state_bytes=dir_bytes(state_dir),
        versions=len(versions),
        bytes_written=sum(dir_bytes(v) for v in versions),
    )


# ---------------------------------------------------------- operator-mix
def operator_mix(args, work: str, tracer) -> dict:
    import warehouse_gen

    from graph_vulcan_assets_spark.registry import all_oracle_sql, all_queries
    from tests.test_oracle_parity import (
        arrow_family, duck_connection, rows_to_multiset, spark_family,
    )

    sf_dir = os.path.join(work, "sf")
    warehouse_gen.write_tables(sf_dir, args.seed, SF)
    phase("inputs")

    spark, queries, setup_s, start_s = setup(tracer, lambda spark: all_queries())
    phase("setup")
    oracle = all_oracle_sql()
    ops = Ops(tracer)
    rounds, results = [], {}
    begin = time.perf_counter()
    while not rounds or time.perf_counter() - begin < args.seconds:
        with tracer.span("round") as rnd:
            for name in ENTRIES:
                def call(name=name):
                    df = queries[name](spark, sf_dir)
                    return df, df.toArrow()

                op, out = ops.run("query", call, entry=name)
                results.setdefault(name, []).append((op, out))
        rounds.append(rnd)
        phase(f"round{len(rounds)}")

    con = duck_connection(sf_dir)
    for name, runs in results.items():
        for op, out in runs:
            if out is None:
                continue
            df, tbl = out
            op.span.attrs["rows"] = tbl.num_rows
            if name in oracle:
                duck = con.execute(oracle[name]).fetch_arrow_table()
                fams = {f.name: spark_family(f.dataType) for f in df.schema.fields}
                ops.check(op, sorted(df.columns) == sorted(duck.schema.names)
                          and fams == {f.name: arrow_family(f.type) for f in duck.schema}
                          and rows_to_multiset(arrow_rows(tbl), tbl.column_names)
                          == rows_to_multiset(arrow_rows(duck), duck.column_names),
                          "result differs from the DuckDB oracle")
            elif name == "q_bpe_encode":
                ops.check(op, bpe_ok(con, tbl), "token counts break n_words <= bpe <= chars")
    con.close()
    phase("checks")

    layers = {}
    if tracer.enabled:
        layers = {"exchanges": {
            name: exchanges(runs[0][1][0]) for name, runs in results.items() if runs[0][1]
        }}
    return dict(spark=spark, ops=ops, rounds=rounds, setup_s=setup_s, start_s=start_s,
                layers=layers)


def arrow_rows(tbl) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def bpe_ok(con, tbl) -> bool:
    """Per document: BPE tokens between the word count and the character
    count, and the character count equal to the sum of word lengths."""
    words = {
        d: (n, c)
        for d, n, c in con.execute(
            "SELECT doc_id, count(*), sum(length(w)) FROM "
            "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) "
            "WHERE length(w) > 0 GROUP BY doc_id"
        ).fetchall()
    }
    got = {r["doc_id"]: r for r in tbl.to_pylist()}
    return len(got) == tbl.num_rows and got.keys() == words.keys() and all(
        r["n_tokens_char"] == words[d][1]
        and words[d][0] <= r["n_tokens_bpe"] <= r["n_tokens_char"]
        for d, r in got.items()
    )


# --------------------------------------------------------------- metrics
def is_key_op(op: Op) -> bool:
    """The operations ``key_op_s`` follows: the incremental commits on
    ingest-serve (freshness), ``KEY_ENTRY`` on operator-mix."""
    if op.kind == "commit":
        return op.span.attrs["batch"] > 0
    return op.span.attrs.get("entry") == KEY_ENTRY


def e2e_metrics(res: dict) -> dict:
    ops = res["ops"].done
    return {
        "setup_s": (res["setup_s"], "s"),
        "work_s": (statistics.median(r.wall_s for r in res["rounds"]), "s"),
        "key_op_s": (statistics.median(op.span.wall_s for op in ops if is_key_op(op)), "s"),
        "query_mean_s": (
            statistics.mean(op.span.wall_s for op in ops if op.kind in QUERY_KINDS), "s"
        ),
    }


def layer_metrics(workload: str, res: dict, tracer, ev) -> dict:
    """Every per-layer metric of BENCHMARK.json. A module the workload
    does not call reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    measured = {}

    def put(name, value):
        measured[name] = (value, units[name])

    def totals(span, json_rows=0):
        return ev.totals(span, tracer.subtree(span), json_rows)

    put("session.start_s", res["start_s"])
    ops = res["ops"].done
    L = res["layers"]
    if workload == "ingest-serve":
        commits = [op for op in ops if op.kind == "commit"]
        boot = [op for op in commits if op.span.attrs["batch"] == 0]
        incr = [op for op in commits if op.span.attrs["batch"] > 0]
        put("streaming.ingest.bootstrap_jobs", statistics.median(len(o.span.job_ids) for o in boot))
        per = [(o, totals(o.span, BATCH_SIZES[o.span.attrs["batch"]])) for o in incr]
        med = lambda f: statistics.median(f(o, t) for o, t in per)  # noqa: E731
        put("streaming.ingest.jobs", med(lambda o, t: len(o.span.job_ids)))
        put("streaming.ingest.stages", med(lambda o, t: o.span.stages))
        put("streaming.ingest.tasks", med(lambda o, t: o.span.tasks))
        for k in ("side_jobs", "task_busy_s", "driver_s", "state_rows_scanned", "shuffle_bytes"):
            put(f"streaming.ingest.{k}", med(lambda o, t: t[k]))
        put("streaming.ingest.bucket_versions_written", L["versions"])
        put("streaming.ingest.bytes_written", L["bytes_written"])
        put("streaming.ingest.state_bytes", L["state_bytes"])
        reads = [op for op in ops if op.kind in READ_KINDS]
        for kind in READ_KINDS:
            put(f"plans.api.{kind}_p50_s",
                statistics.median(o.span.wall_s for o in reads if o.kind == kind))
        put("plans.api.jobs_per_read", statistics.mean(len(o.span.job_ids) for o in reads))
        put("plans.api.files_per_read", L["files_per_read"])
        rep = totals(L["replay"])
        put("plans.temporal.exchanges", L["exchanges"])
        put("plans.temporal.plan_s", L["plan"].wall_s)
        put("plans.temporal.decode_s", L["decode"].wall_s)
        put("plans.temporal.jobs", len(L["replay"].job_ids))
        put("plans.temporal.stages", L["replay"].stages)
        put("plans.temporal.tasks", L["replay"].tasks)
        for k in ("task_busy_s", "shuffle_bytes", "spill_bytes"):
            put(f"plans.temporal.{k}", rep[k])
        put("plans.temporal.rejected_events", L["rejected_events"])
    else:
        for op in ops:
            e = op.span.attrs["entry"]
            put(f"registry.{e}.s", op.span.wall_s)
            put(f"registry.{e}.jobs", len(op.span.job_ids))
            put(f"registry.{e}.exchanges", L["exchanges"].get(e, 0))
    owned = {n for n in units if n.startswith("registry.") == (workload == "operator-mix")}
    missing = owned - set(measured)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {n: measured.get(n, (0, u)) for n, u in units.items()}


# ------------------------------------------------------------------ main
def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    try:
        import graph_vulcan_assets_spark.streaming.ingest  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {ROOT}: {e}")
        return 2

    import spans as tr

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pins = pin_environment(work, bool(args.trace))
    load_start = os.getloadavg()[0]
    tracer = tr.Tracer(bool(args.trace))
    run = ingest_serve if args.workload == "ingest-serve" else operator_mix
    try:
        res = run(args, work, tracer)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            shutdown(active)
    phase("shutdown")

    done = res["ops"].done
    failed = sum(not op.ok for op in done)
    # wrong outputs count as failed operations and make the run incorrect;
    # an operation that raised is failed but said nothing wrong
    e2e = e2e_metrics(res)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pins": pins, "loadavg_1m": {"start": load_start, "end": os.getloadavg()[0]},
        "phases_s": PHASES, "rounds": len(res["rounds"]), "attempted": len(done), "failed": failed,
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "ops": [dict(kind=op.kind, ok=op.ok, wall_s=op.span.wall_s, **op.span.attrs)
                for op in done],
    }
    if args.trace:
        ev = tr.EventLog(os.path.join(work, "eventlog"))
        layers = layer_metrics(args.workload, res, tracer, ev)
        metrics = layers
        record["layers"] = {k: v for k, (v, _) in layers.items()}
        untraced = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            record["trace_overhead"] = {
                k: record["e2e"][k] / base[k] - 1 for k in base if base[k]
            }
            log(f"tracing overhead vs untraced run: {record['trace_overhead']}")
        tr.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json"), tracer, ev,
                record)
    else:
        metrics = e2e
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res["ops"].wrong_outputs == 0,
        "attempted": len(done),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
