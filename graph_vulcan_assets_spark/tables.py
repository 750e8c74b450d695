"""Table loaders for the driver-generated synthetic tables (TESTDATA.md).

All reads are plain ``spark.read.parquet`` so Catalyst predicate pushdown,
column pruning and partition pruning apply automatically downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Pin the session timezone at first table load: epoch-based event-time
    # arithmetic (unix_micros, epoch-aligned windows) and the NTZ→LTZ cast
    # below assume UTC, but the driver may hand us a vanilla SparkSession
    # whose tz follows the host JVM. Runtime-settable, idempotent.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as either TIMESTAMP(NANOS) parquet (which
        # Spark's reader rejects without the legacy long fallback) or plain
        # TIMESTAMP(MICROS), depending on the generator version. Handle both:
        # when the nanos fallback kicks in, ts reads as a long and we truncate
        # to microseconds — the same truncation DuckDB applies, so oracle
        # comparisons stay exact; when it's already a timestamp, pass through.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes)["ts"] in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        else:
            # TIMESTAMP(MICROS) parquet reads as TIMESTAMP_NTZ; normalize to
            # TimestampType (LTZ) — streaming event-time/watermarks require
            # it, and it reproduces the nanos-era semantics exactly (session
            # timezone is UTC, so the wall clock IS the epoch instant).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Corrupt-measure gate (round-5 hostile-input sweep, full-materialization
# pass): every query that quantizes events.value into exact integer units
# (milli/micro casts — the trick that makes float aggregates
# summation-order-independent and driver-hashable) dies on a NaN/±Inf
# sample with ANSI CAST_OVERFLOW, and ±Inf would poison its group's sum
# even where the cast survived. One corrupt sensor reading in a trillion-row
# events table must not kill (or skew) the whole rollup. NULL values PASS
# the gate — both engines' aggregates skip NULLs identically, and a NULL
# measure row still counts toward count(*) semantics.
#
# The bound is the QUANTIZABLE domain, not mere finiteness: a finite but
# absurd magnitude (1e308 from corrupt bits) overflows value*1e6 to Inf
# before the BIGINT cast, killing both engines exactly like NaN does.
# |value| < 9.2e12 keeps integer MICROS inside BIGINT (9.22e18) with
# headroom; any real measure (prices, gauges, rates) sits many orders of
# magnitude below it, so the bound never bites legitimate data.
# ---------------------------------------------------------------------------

VALUE_BOUND = 9.2e12
_VALUE_BOUND = VALUE_BOUND  # back-compat alias

FINITE_VALUE_SQL = (
    f"(value IS NULL OR (isfinite(value) AND abs(value) < {VALUE_BOUND}))"
)


def attach_scalar(df: DataFrame, one_cell: DataFrame, name: str) -> DataFrame:
    """Attach the single value of a 1-row/1-column frame to every row of
    ``df`` as a SCALAR SUBQUERY (Spark 4 ``DataFrame.scalar()``): the
    subquery runs once and its result is inlined into the consuming
    stage's projection — no join node of any kind (a crossJoin here would
    plan a BroadcastNestedLoopJoin and trip the repo's no-NestedLoop plan
    guards, and a constant-key equi-join gets constant-folded back to
    one). The attached value must be bounded — a k·d centroid pack, an
    M·K codebook, a 1-row argmax — the same boundedness discipline as the
    BPE merge-list collect (it is held by the driver and inlined into the
    physical plan).

    ``DataFrame.scalar()`` is Spark 4.0+; on an older runtime fall back
    to the pre-round-12 broadcast crossJoin form (ADVICE r12: the repo
    declares no minimum pyspark version, so degrade instead of raising
    AttributeError)."""
    if not hasattr(one_cell, "scalar"):  # pragma: no cover - Spark < 4.0
        col = one_cell.columns[0]
        return df.crossJoin(F.broadcast(one_cell.select(F.col(col).alias(name))))
    return df.withColumn(name, one_cell.scalar())


def quantizable(col) -> "F.Column":
    """The single source of truth for "this measure survives integer-micros
    quantization": not NaN and |x| < VALUE_BOUND (which excludes ±Inf for
    free). Every Spark-side gate composes THIS predicate — a third
    hand-rolled copy is how one engine drifts from the other."""
    c = F.col(col) if isinstance(col, str) else col
    return ~F.isnan(c) & (F.abs(c) < F.lit(VALUE_BOUND))


def finite_values(df: DataFrame, col: str = "value") -> DataFrame:
    """Drop rows whose measure column is NaN/±Inf or beyond the integer-
    micros quantizable range; keep NULLs. DuckDB oracle mirror:
    :data:`FINITE_VALUE_SQL` — applied to BOTH sides so Spark and the
    oracle agree on dirty data by construction."""
    c = F.col(col)
    return df.where(c.isNull() | quantizable(c))


def micros128(col, scale: int = 1_000_000) -> "F.Column":
    """Integer-unit quantization with a 128-bit SUM accumulator.

    The per-row gate (:func:`quantizable`) keeps ONE row's micros inside
    int64, but a SUM of gated rows does not stay there: two readings near
    VALUE_BOUND (9.2e18 micros each) overflow ``sum(BIGINT)``, which under
    Spark's default ANSI mode kills the whole query (ARITHMETIC_OVERFLOW)
    while DuckDB silently widens the same sum to HUGEINT — measured in the
    round-11 aggregate-dialect probe (tests/test_agg_edges.py). That
    violates the gate's own mission statement above: corrupt readings must
    not kill the rollup. DECIMAL(38,0) is Spark's 128-bit accumulator —
    it matches DuckDB's HUGEINT promotion exactly (both engines sum the
    identical integers exactly, then one conversion to double at the
    division), and it is cost-neutral here because every micros sum sits
    behind a shuffle/sort that dominates it (measured at sf0.1: window
    sum 0.38s decimal vs 0.43s long; grouped sum within noise). At 100 TB
    this is not a corrupt-data nicety: a trillion-row group of ordinary
    1e6-micro measures sums to 1e18 — one order from the int64 edge — so
    the 128-bit accumulator is the only shape that survives scale-up.
    Same convention q_time_weighted_avg already used for its weighted sum.
    DuckDB oracle mirror: ``sum(CAST(round(value * 1e6, 0) AS BIGINT))``
    UNCHANGED — DuckDB's own HUGEINT promotion is the mirror.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).cast("decimal(38,0)")


# ---------------------------------------------------------------------------
# Event-time domains (round 6 gate, re-scoped in round 7 per ADVICE r6
# high: a blanket [1900, 2200) gate silently dropped VALID far-future
# data — the reference framework treats 9999-12-12 as a legitimate
# in-band "Unexpired" sentinel, inventory.go:31, and a year-2300 row is
# fully representable in Spark, Parquet, DuckDB, and Python).
#
# Two domains, matched to what actually breaks:
#
# 1. REPRESENTABLE domain [TS_LO, TS_HI] — the default gate
#    (plausible_times). Drops ONLY what the engines genuinely cannot
#    process or agree on:
#      - ancient dates: below ~1583 the parquet Julian↔proleptic-Gregorian
#        rebase shifts the instant by days, so the engines disagree what
#        instant the cell IS, and 0001-01-01 reads back in year 0 — a
#        value Python's datetime cannot even represent, so any consumer
#        collecting the row dies;
#      - beyond year 9999: past datetime.max / the engines' formatting
#        range.
#    The reference's 9999-12-12 sentinel and any far-future event PASS.
#
# 2. BOUNDED domain [BOUNDED_TS_LO, BOUNDED_TS_HI) — opt-in, for the
#    operators whose OUTPUT or STATE grows past the row's own timestamp:
#      - per-interval spine generators (timeseries gapfill/interpolate)
#        size themselves by max(ts)−min(ts): one year-9999 row turns a
#        one-day spine into hundreds of millions of rows — a hang;
#      - session/window aggregates that EMIT a derived instant beyond the
#        event (session end = last event + gap crosses datetime.max);
#      - streaming watermark/state arithmetic near the domain edges.
#    This is a documented data contract of those operators, not a claim
#    about timestamps at large.
#
# Both gates keep NULLs — NULL event-time handling stays a per-query
# semantic (windows drop it, scans keep it), like the NULL rule in
# finite_values. Bounds are configurable via environment (GVAS_TS_LO,
# GVAS_TS_HI, GVAS_BOUNDED_TS_LO, GVAS_BOUNDED_TS_HI) for corpora whose
# plausible domain differs. For drop visibility, route the complement
# through :func:`ts_dead_letter` / count with :func:`gate_report` —
# the same counted-dead-letter discipline as the streaming ingest gate.
# ---------------------------------------------------------------------------

TS_LO = os.environ.get("GVAS_TS_LO", "1583-01-01")
TS_HI = os.environ.get("GVAS_TS_HI", "9999-12-31 23:59:59.999999")

BOUNDED_TS_LO = os.environ.get("GVAS_BOUNDED_TS_LO", "1900-01-01")
BOUNDED_TS_HI = os.environ.get("GVAS_BOUNDED_TS_HI", "2200-01-01")


def floor_div_sql(expr: str, d: int) -> str:
    """Exact BIGINT FLOOR division for DuckDB oracles (round-11
    time-edge probe): DuckDB's ``//`` truncates toward zero, so it is
    one off for every negative non-multiple — while Spark's epoch
    bucketing (``CAST(ts AS LONG)``, ``window()`` start alignment)
    floors. Subtract the sign-safe positive remainder, then divide
    exactly. Used by :func:`epoch_sec_sql` and the sliding-window
    bucket index.

    ``expr`` is interpolated THREE times into the generated SQL
    (ADVICE r11): it MUST be deterministic — a nondeterministic
    expression would make the floor identity itself wrong. The
    lag-sessionizer oracles deliberately pass ``lag(ts) OVER w`` and
    accept the triple evaluation: ``lag`` is deterministic over the
    total (ts, event_id) window order, and the generated SQL runs only
    in the DuckDB correctness harness, never on the timed Spark path;
    bind nontrivial expressions via a prior CTE alias if that ever
    changes."""
    return f"(({expr} - (({expr} % {d}) + {d}) % {d}) // {d})"


def epoch_sec_sql(col: str = "ts") -> str:
    """DuckDB mirror of Spark's ``CAST(ts AS LONG)``: EXACT floor
    epoch-seconds (round-11 time-edge probe).

    Spark's timestamp→long cast floors the microsecond epoch (measured:
    1969-12-31 23:59:59.5 → -1, not 0). DuckDB's ``floor(epoch(ts))``
    looks equivalent but ``epoch()`` returns a DOUBLE, whose ulp at
    year-1583/year-9999 magnitudes (~1.2e10/2.5e11 s) exceeds one
    microsecond — measured off-by-one-second: 1583-01-01 00:00:00.999999
    → -12212553599 (true floor -12212553600) and 9999-12-31
    23:59:59.999999 → 253402300800 (true floor 253402300799), both
    inside the representable event-time domain. And ``epoch_us(ts) //
    1000000`` is NOT the fix: DuckDB's ``//`` truncates toward zero on
    negatives (pre-1970 off-by-one). :func:`floor_div_sql` does exact
    BIGINT floor-division; agreement with Spark's cast is pinned on the
    full domain battery plus a hypothesis sweep
    (tests/test_time_edges.py)."""
    return floor_div_sql(f"epoch_us({col})", 1_000_000)


def plausible_ts_sql(col: str = "ts") -> str:
    """DuckDB mirror of :func:`plausible_ts` (interpolate, never copy)."""
    return (
        f"({col} IS NULL OR ({col} >= TIMESTAMP '{TS_LO}'"
        f" AND {col} <= TIMESTAMP '{TS_HI}'))"
    )


def plausible_ts(col="ts") -> "F.Column":
    """True when the event time is NULL or engine-representable
    ([TS_LO, TS_HI], both inclusive — TS_HI is datetime.max). The
    comparison itself is safe on both engines even where the exact
    ancient instant diverges by the calendar rebase — both readings sit
    decades below TS_LO, so the row classifies identically."""
    c = F.col(col) if isinstance(col, str) else col
    lo = F.lit(TS_LO).cast("timestamp")
    hi = F.lit(TS_HI).cast("timestamp")
    return c.isNull() | ((c >= lo) & (c <= hi))


def plausible_times(df: DataFrame, col: str = "ts") -> DataFrame:
    """Drop rows whose event time the engines cannot represent/agree on;
    keep NULLs and the full valid domain including far-future sentinels.
    DuckDB oracle mirror: :func:`plausible_ts_sql`."""
    return df.where(plausible_ts(col))


def bounded_ts_sql(col: str = "ts") -> str:
    """DuckDB mirror of :func:`bounded_ts` (interpolate, never copy)."""
    return (
        f"({col} IS NULL OR ({col} >= TIMESTAMP '{BOUNDED_TS_LO}'"
        f" AND {col} < TIMESTAMP '{BOUNDED_TS_HI}'))"
    )


def bounded_ts(col="ts") -> "F.Column":
    """True when the event time is NULL or inside the BOUNDED domain —
    the data contract of spine-sized / derived-instant-emitting /
    streaming-stateful operators (see the domain note above)."""
    c = F.col(col) if isinstance(col, str) else col
    lo = F.lit(BOUNDED_TS_LO).cast("timestamp")
    hi = F.lit(BOUNDED_TS_HI).cast("timestamp")
    return c.isNull() | ((c >= lo) & (c < hi))


def bounded_times(df: DataFrame, col: str = "ts") -> DataFrame:
    """Drop rows outside [BOUNDED_TS_LO, BOUNDED_TS_HI); keep NULLs.
    DuckDB oracle mirror: :func:`bounded_ts_sql`."""
    return df.where(bounded_ts(col))


def ts_dead_letter(df: DataFrame, col: str = "ts", bounded: bool = False) -> DataFrame:
    """The COMPLEMENT of the chosen gate (non-NULL rows it drops) — route
    to a dead-letter sink or count for monitoring, so out-of-domain data
    is never silently invisible (ADVICE r6)."""
    gate = bounded_ts(col) if bounded else plausible_ts(col)
    return df.where(~gate)


def gate_report(df: DataFrame, ts_col: str = "ts", value_col: str | None = "value") -> DataFrame:
    """One-row drop-count report over every ingest gate this module
    defines — the monitoring face of the gates (map-only aggregate,
    scale-free). Columns: total rows, rows outside the representable ts
    domain, rows outside the bounded ts domain, non-quantizable measures."""
    aggs = [
        F.count("*").alias("n_rows"),
        F.sum((~plausible_ts(ts_col)).cast("long")).alias("n_ts_unrepresentable"),
        F.sum((~bounded_ts(ts_col)).cast("long")).alias("n_ts_out_of_bounded"),
    ]
    if value_col is not None:
        v = F.col(value_col)
        aggs.append(
            F.sum((~(v.isNull() | quantizable(v))).cast("long")).alias(
                "n_value_not_quantizable"
            )
        )
    return df.agg(*aggs)


def input_size_bytes(*dfs: DataFrame) -> int:
    """Catalyst's size estimate of the given frames' optimized plans,
    summed. For parquet scans this is file-size metadata (×
    ``fileCompressionFactor``) — data-proportional, costs no job. The
    scale signal ``plans.temporal.tuned_for_batch(n_bytes=...)`` derives
    partition counts from."""
    total = 0
    for df in dfs:
        total += int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return total


def scaled_shuffle_partitions(
    n_bytes: int, default: int, bytes_per_partition: int = 64 * 1024 * 1024
) -> int:
    """Initial shuffle-partition count proportional to input bytes,
    floored at 4 and saturating at the session default — the bytes twin
    of plans.temporal.batch_shuffle_partitions, used by
    ``tuned_for_batch(n_bytes=...)`` (same rationale: AQE
    coalesces reducers at runtime, but the map side and the scheduler
    still pay per INITIAL partition, and for a kB-scale input that fixed
    cost dominates; at cluster scale the formula saturates and the
    session default + AQE take over)."""
    return max(4, min(default, n_bytes // bytes_per_partition))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-flavored queries)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
