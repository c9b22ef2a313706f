"""Event-stream workload over the ``events`` table: gap-based
sessionization, tumbling-window aggregation, running totals.

The reference has no streaming surface (SURVEY §2.10) — incrementality
is batch-level. These are the batch forms; ``streaming/`` hosts the
Structured Streaming equivalents (same logic over readStream with
watermarks), which the driver's DuckDB oracle cannot exercise, so the
batch forms carry the correctness checks.

Scale notes: sessionization is one shuffle on user_id (window
functions over user partitions); the tumbling window is a partial-agg
groupBy; the running total re-uses the user_id partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..runtime import materialize
from ..session import tune
from ..tables import load
from . import register

_GAP_MIN = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load(spark, sf_dir, "events")


#: Shared gaps-and-islands CTE body for the sessionize oracle family.
#: Both windows order by (ts, event_id) — the running sum MUST carry
#: the same tiebreak as the LAG, or two same-timestamp events at a
#: session boundary could be numbered in a different order than they
#: were flagged and land in the wrong session nondeterministically.
_SESSIONIZE_CTE = f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_ms(ts) - epoch_ms(prev_ts) > {_GAP_MIN} * 60000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)"""

_SESSIONIZE_ORACLE = f"""
{_SESSIONIZE_CTE}
SELECT CAST(user_id AS VARCHAR) || '-' || CAST(session_idx AS VARCHAR) AS session_id,
       user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,8))), 4)::DOUBLE AS total_value
FROM numbered
GROUP BY user_id, session_idx
"""


def _session_agg(numbered: DataFrame) -> DataFrame:
    return (
        numbered.groupBy("user_id", "session_idx")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.concat_ws(
                "-", F.col("user_id").cast("string"), F.col("session_idx").cast("string")
            ).alias("session_id"),
            "user_id",
            "session_start",
            "n_events",
            "total_value",
        )
    )


def _sessionize_numbered(events: DataFrame) -> DataFrame:
    """lag → new-session flag → running sum = session index (the
    gaps-and-islands core shared by ev_sessionize_gap30 and the
    interval-overlap join; both windows carry the (ts, event_id)
    tiebreak — see the _SESSIONIZE_CTE comment)."""
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_sum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = events.withColumn("prev_ts", F.lag("ts").over(w_lag)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_millis("ts") - F.unix_millis("prev_ts") > _GAP_MIN * 60000),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn("session_idx", F.sum("new_session").over(w_sum))


@register("ev_sessionize_gap30", oracle=_SESSIONIZE_ORACLE)
def ev_sessionize_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    flag → running sum = session index → per-session aggregates."""
    return _session_agg(_sessionize_numbered(_events(spark, sf_dir)))


_SESSIONIZE_NATIVE_ORACLE = f"""
{_SESSIONIZE_CTE}
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,8))), 4)::DOUBLE AS total_value
FROM numbered
GROUP BY user_id, session_idx
"""


@register("ev_sessionize_native_window", oracle=_SESSIONIZE_NATIVE_ORACLE)
def ev_sessionize_native_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN ``session_window`` — the
    third implementation of the same {g}-min-gap contract
    (lag/cumsum ``ev_sessionize_gap30``, skew-salted
    ``ev_sessionize_salted``), checked against the same gaps-and-
    islands oracle. An event extends a session when its gap from the
    session end is <= the window gap (verified: exact-boundary events
    MERGE, matching the oracle's strict-``>`` new-session rule).

    Why it earns a slot: ``session_window`` is the form that carries
    unchanged to Structured Streaming (state-store-backed session
    merges with watermark eviction) — the batch query IS the
    streaming query. Scale: one shuffle on user_id; per-group sorted
    merge inside the aggregate, no window-function pass at all."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


ev_sessionize_native_window.__doc__ = ev_sessionize_native_window.__doc__.format(
    g=_GAP_MIN
)


@register("ev_sessionize_salted", oracle=_SESSIONIZE_ORACLE)
def ev_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened sessionization path (operators/sessionize.py:
    local lag/cumsum within (user, time-bucket) + boundary-stitch
    renumbering over bucket summaries) checked against the SAME oracle
    as ev_sessionize_gap30 — the salted numbering must be globally
    identical, so one task never holds a hot user's full history."""
    from ..operators.sessionize import sessionize_time_salted

    events = _events(spark, sf_dir)
    numbered = sessionize_time_salted(events, gap_ms=_GAP_MIN * 60_000)
    return _session_agg(numbered)


@register(
    "ev_tumbling_window_hourly",
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def ev_tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of the streaming
    windowed count; see streaming.events for the readStream version)."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "ev_user_running_total",
    oracle="""
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value
FROM events
""",
)
def ev_user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total ordered by time — accumulation order is
    identical in both engines, so the float sums match."""
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return events.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("running_value")
    )


_EWMA_ALPHA = 0.3
_EWMA_LAGS = 16  # (1-a)^16 ≈ 0.0033: truncation bias < 0.4% of scale
#: quantized convolution weights, micro-units of α(1-α)^j — generated
#: ONCE here and embedded as integer literals in BOTH engines, so the
#: whole EWMA is exact integer arithmetic (a float formulation
#: measurably landed a row exactly on the 1e-6 rounding boundary)
_EWMA_W = [round(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j * 1_000_000) for j in range(_EWMA_LAGS)]


@register(
    "ev_ewma_value",
    oracle=f"""
WITH framed AS (
  SELECT event_id, user_id,
         list(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS {_EWMA_LAGS - 1} PRECEDING) AS lst
  FROM events
)
SELECT event_id, user_id,
       list_reduce(list_transform(list_reverse(lst),
             (x, j) -> x * ({_EWMA_W})[j]),
             (acc, x) -> acc + x)
         AS ewma_micro
FROM framed
""",
)
def ev_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    — the smoothing primitive behind engagement trend lines and
    anomaly baselines (companion to ``ev_anomaly_mad_flags``'s robust
    one). Formulated as a FINITE {k}-lag window convolution, s_t =
    Σ_(j<{k}) w_j · x_(t-j), rather than the textbook recurrence:
    (1-α)^{k} ≈ 0.003 so truncation bias is <0.4% of scale, both
    engines apply the identical truncation, and the recurrence form
    would thread state through every row (a sequential per-user scan,
    inexpressible without a stateful UDF). The weights are QUANTIZED
    to micro-units once in Python and embedded as integer literals in
    both engines, and values are centi-quantized exactly, so the
    whole convolution is exact BIGINT arithmetic — no float fold
    order to disagree on (the float version of this query measurably
    landed one row exactly on the 1e-6 rounding boundary; output is
    in 1e-8 units of the original value scale). The plan is one
    per-user window sort and a {k}-element vectorized fold per row —
    no shuffle beyond the window's, per-row work bounded by the lag
    constant. The frame array is materialized as a column BEFORE the
    transform lambda (evaluate-once discipline)."""
    events = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_LAGS - 1), 0)
    )
    xi = F.floor(F.col("value") * 100 + 0.5).cast("long")
    framed = events.select(
        "event_id",
        "user_id",
        F.reverse(F.collect_list(xi).over(w)).alias("rev"),
        F.array(*[F.lit(wj) for wj in _EWMA_W]).alias("wts"),
    )
    weighted = F.transform(
        F.col("rev"), lambda x, j: x * F.element_at(F.col("wts"), j + 1)
    )
    return framed.select(
        "event_id",
        "user_id",
        F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "ewma_micro"
        ),
    )


ev_ewma_value.__doc__ = ev_ewma_value.__doc__.format(k=_EWMA_LAGS)


@register(
    "agg_top_revenue_segments",
    oracle="""
SELECT c.c_mktsegment, n.n_name,
       ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'O'
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY 1, 2
""",
)
def agg_top_revenue_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-heavy revenue rollup (TPC-H Q3/Q5 shape): fact⋈fact⋈dim⋈dim
    with partial aggregation and a distinct-count. Beyond the
    reference's operator set; a benchmark headline for join planning.

    Note: revenue is summed as DECIMAL(18,6) on both sides — float
    reduction order differs between engines (and between Spark runs),
    and a measured 1-in-125 groups landed exactly on a 0.01 rounding
    boundary with double sums. Decimal addition is exact and
    order-independent; the per-row product stays in double (identical
    bits everywhere)."""
    tune(spark)
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "ev_agg_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2)::DOUBLE AS sum_qty,
       ROUND(SUM(CAST(l_discount AS DECIMAL(18,9))) / COUNT(*), 6)::DOUBLE AS avg_disc,
       CAST(COUNT(*) AS BIGINT)       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def ev_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — beyond the reference's operator
    set (it has no numeric aggregates) but the canonical partial-agg
    benchmark headline. Sums are rounded on both sides because float
    reduction order differs between engines."""
    tune(spark)
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,9)")) / F.count(F.lit(1)), 6
            )
            .cast("double")
            .alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ASOF_ORACLE = """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us,
       (SELECT epoch_us(p.ts) FROM p
        WHERE p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS asof_us,
       (SELECT ROUND(p.value, 4) FROM p
        WHERE p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS asof_value
FROM clicks c
"""


def _asof_click_purchase(spark: SparkSession, sf_dir: str, salted: bool) -> DataFrame:
    from ..operators.asof import merge_asof, merge_asof_salted

    events = _events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase")
    op = merge_asof_salted if salted else merge_asof
    joined = op(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_seq="event_id", payload=["value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("asof_ts").alias("asof_us"),
        F.round("asof_value", 4).alias("asof_value"),
    )


@register("ev_asof_last_purchase", oracle=_ASOF_ORACLE)
def ev_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each click enriched with the user's latest purchase
    at or before the click (NULL if none). Spark lacks ASOF JOIN; the
    union + last-ignoring-nulls window composition is one shuffle and
    linear work (operators/asof.py), vs the oracle's correlated-
    subquery formulation — semantically identical, proving the
    operator."""
    return _asof_click_purchase(spark, sf_dir, salted=False)


@register("ev_asof_salted", oracle=_ASOF_ORACLE)
def ev_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened as-of path (operators/asof.py
    merge_asof_salted: (key, time-bucket) windows + carry-in boundary
    rows) checked against the SAME correlated-subquery oracle as
    ev_asof_last_purchase — identical output with no task ever holding
    a hot key's whole timeline."""
    return _asof_click_purchase(spark, sf_dir, salted=True)


@register(
    "ev_latency_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.50), 4) AS p50,
       ROUND(quantile_cont(value, 0.90), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
)
def ev_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per event type — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the same
    definition. Exact percentiles shuffle the group's values; at scale
    swap in approx_percentile (t-digest) and drop the oracle to a
    tolerance check."""
    events = _events(spark, sf_dir)
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


_BANDS = [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e12)]


@register(
    "ev_value_band_join",
    oracle=f"""
SELECT b.band,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(e.value AS DECIMAL(18,8))), 4)::DOUBLE AS sum_value
FROM events e
JOIN (VALUES {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)}) b(band, lo, hi)
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
""",
)
def ev_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-band join: events bucketed into value bands via an
    inequality join against a tiny literal dimension. The broadcast
    nested-loop with a 3-row build side IS the scalable plan (probe
    side streams, never shuffles); for large band tables switch to an
    equi-join on a precomputed floor-bucket key."""
    events = _events(spark, sf_dir)
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        events.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "agg_cube_order_status",
    oracle="""
SELECT COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(o_orderpriority, '(all)') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one
    pass (Spark expands the cube in a single Expand+partial-agg — no
    4× rescan). Cube NULLs are labelled '(all)' (source columns are
    non-null here, so the sentinel is unambiguous)."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


_EV_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "ev_pivot_type_counts",
    oracle=f"""
SELECT user_id,
       {", ".join(f"CAST(COUNT(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}" for t in _EV_TYPES)}
FROM events
GROUP BY user_id
""",
)
def ev_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per user, one count column per event type. The
    explicit value list keeps the plan a single pass (no distinct-scan
    to discover pivot columns) — at scale always pin the values."""
    events = _events(spark, sf_dir)
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", _EV_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in _EV_TYPES],
    )


@register(
    "ev_user_value_quartiles",
    oracle="""
SELECT event_id, user_id,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
""",
)
def ev_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows: ntile quartile + percent_rank per user over
    the value ordering (event_id tiebreak makes ranks deterministic)."""
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@register(
    "a5_approx_distinct_check",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
""",
)
def a5_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch, self-verified: the query
    computes BOTH the exact distinct count (hash-checked against the
    oracle) and the HLL estimate, and asserts the estimate lands
    within 5% — the sketch's contract. At 100 TB the exact branch is
    dropped and the sketch (mergeable, fixed-size state) is the
    answer; rsd=0.02 ⇒ ~1.5 KB of state per group vs a distinct
    shuffle of every user id."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "a6_approx_percentile_check",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
""",
)
def a6_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (fixed-size quantile summary) self-verified
    against the exact interpolated median: estimate must land within
    5% relative. Same pattern as the HLL check: exact value carries
    the oracle hash, the sketch carries the scale story."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_p50"),
        )
        .select(
            "event_type",
            "exact_p50",
            (
                F.abs(F.col("approx_p50") - F.col("exact_p50"))
                <= 0.05 * F.abs(F.col("exact_p50"))
            ).alias("approx_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel conversion (ordered stage progression per user)
# ---------------------------------------------------------------------------

@register(
    "ev_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after
""",
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after
    their first view, then purchased strictly after that click. Each
    stage is a per-user MIN + a time-conditioned join back — at scale
    all three stages share the user_id shuffle partitioning, so AQE
    plans one exchange, and the stage frontiers are tiny relative to
    the raw stream."""
    events = _events(spark, sf_dir)
    # each stage frontier feeds BOTH the next stage and its own count —
    # materialize the (tiny, per-user) frontiers or the filtered events
    # scan re-runs per branch (6 scans -> 3)
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(materialize)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(materialize)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (behavioral bigrams)
# ---------------------------------------------------------------------------

@register(
    "ev_event_transitions",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ordered WHERE next_type IS NOT NULL
GROUP BY 1, 2
""",
)
def ev_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: counts of consecutive event-type
    bigrams per user (lead window on the user_id partitioning, then a
    25-cell aggregate — the Markov-chain input for session modeling).
    The groupBy output is bounded by |event_type|², so the final
    shuffle is trivially small."""
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ev_sliding_value_30min",
    oracle="""
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_30min,
       ROUND(SUM(CAST(value AS DECIMAL(18,8))) OVER w, 4)::DOUBLE AS sum_30min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
""",
)
def ev_sliding_value_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based sliding window via a RANGE frame: per event, count
    and sum of the same user's activity in the trailing 30 minutes —
    the rate-limit / rolling-feature shape. RANGE (not ROWS) so ties
    on the timestamp are handled identically in both engines; ordered
    by epoch millis so the frame boundary arithmetic is exact integer
    math. One shuffle on user_id; at scale this keys the same
    partitioning as sessionization (and the time-salted pattern in
    operators/sessionize.py applies when a key is hot)."""
    events = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-1_800_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_30min"),
        F.round(F.sum(F.col("value").cast("decimal(18,8)")).over(w), 4)
        .cast("double")
        .alias("sum_30min"),
    )


@register(
    "ev_unpivot_metrics",
    oracle="""
WITH wide AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         ROUND(SUM(CAST(value AS DECIMAL(18,8))), 4)::DOUBLE AS total_value,
         ROUND(AVG(value), 4) AS avg_value
  FROM events GROUP BY event_type
)
SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM wide
UNION ALL
SELECT event_type, 'total_value', total_value FROM wide
UNION ALL
SELECT event_type, 'avg_value', avg_value FROM wide
""",
)
def ev_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide metrics → long key/value rows, the inverse of
    ev_pivot_type_counts): per-type aggregates melted with ``stack`` —
    a zero-shuffle reshape on top of the aggregation's single shuffle,
    the standard metrics-table normalization."""
    events = _events(spark, sf_dir)
    wide = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
        .cast("double")
        .alias("total_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )
    return wide.select(
        "event_type",
        F.expr(
            "stack(3, 'n_events', n_events, 'total_value', total_value,"
            " 'avg_value', avg_value) AS (metric, metric_value)"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix
# ---------------------------------------------------------------------------

_WEEK_MS = 604_800_000


@register(
    "ev_retention_cohorts",
    oracle=f"""
WITH wk AS (
  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) // {_WEEK_MS} AS wk
  FROM events
),
first_wk AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, wk FROM wk)
SELECT f.cohort_wk,
       CAST(a.wk - f.cohort_wk AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN first_wk f USING (user_id)
GROUP BY 1, 2
""",
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen epoch week,
    counted distinct per week offset — the canonical product-analytics
    rollup. Exact integer weeks (epoch-ms div), no calendar functions,
    so both engines agree bit-for-bit. Scale: one shuffle on user_id
    for the first-seen aggregate, one distinct on (user, week) that
    AQE coalesces, and the final count-distinct keyed on the (small)
    cohort grid."""
    events = _events(spark, sf_dir)
    wk = events.select(
        "user_id", (F.unix_millis("ts") / F.lit(_WEEK_MS)).cast("long").alias("wk")
    )
    first_wk = wk.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    activity = wk.distinct()
    return (
        activity.join(first_wk, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


@register(
    "a7_sketch_union_reaggregate",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS sketch_within_5pct
FROM events GROUP BY event_type
""",
)
def a7_sketch_union_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch re-aggregation (Apache DataSketches HLL): build
    one sketch per (event_type, day) — the shape a 100 TB pipeline
    persists as a daily rollup — then hll_union_agg the per-day
    sketches up to per-type distinct-user estimates WITHOUT touching
    raw data again. Self-verified like a5: the exact distinct count is
    hash-checked against the oracle and the unioned estimate must land
    within 5%. This is the pattern that turns a petabyte re-scan into
    a kilobyte merge: sketches are fixed-size, associative state."""
    events = _events(spark, sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg(F.col("user_id"), F.lit(14)).alias("sk"))
    unioned = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(unioned, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")) <= 0.05 * F.col("exact_users")
        ).alias("sketch_within_5pct"),
    )


# ---------------------------------------------------------------------------
# SCD2 state-interval history (gaps-and-islands)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN prev_type IS NULL OR prev_type <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM ordered
),
islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island,
         MIN(event_type) AS state,
         MIN(ts) AS from_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM islands
  GROUP BY user_id, island
)
SELECT user_id, state,
       STRFTIME(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       STRFTIME(LEAD(from_ts) OVER (PARTITION BY user_id ORDER BY island),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       LEAD(from_ts) OVER (PARTITION BY user_id ORDER BY island) IS NULL
         AS is_current,
       n_events
FROM runs
"""


@register("ev_scd2_state_intervals", oracle=_SCD2_ORACLE)
def ev_scd2_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from an event
    log — the interval form of the reference's address-lifecycle
    carry-forward (SURVEY §2.8 U2 / §2.9 M1: previous-snapshot rows
    stay valid until a newer row supersedes them,
    main_pls.py:123-133): collapse each user's consecutive runs of
    the same state into one row with [valid_from, valid_to) validity,
    valid_to = next run's start, NULL while current.

    Gaps-and-islands: change flag via lag, island id via running sum,
    one groupBy per run, then a lead window over the (already tiny)
    per-user run list for the closing bound. Every window and the
    aggregate partition on user_id — one shuffle total, no global
    ordering; at 100 TB this is the standard "rebuild dimension
    history from CDC log" shape, partitioned by entity key."""
    events = _events(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    islands = (
        events.withColumn("prev_type", F.lag("event_type").over(w_ord))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("chg").over(w_run))
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("from_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_isl = Window.partitionBy("user_id").orderBy("island")
    nxt = F.lead("from_ts").over(w_isl)
    return runs.select(
        "user_id",
        "state",
        F.date_format("from_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (merge partial states, no rescan)
# ---------------------------------------------------------------------------

#: the increment boundary: events on/after this date are "new"
_INC_SPLIT = "2024-01-20"

_A8_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,8))), 4)::DOUBLE AS total_value,
       TRUE AS merge_matches_full
FROM events GROUP BY event_type
"""


@register(
    "mv_retractable_agg_maintenance",
    oracle="""
WITH eff AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE (event_id % 10 < 8 AND event_id % 7 <> 0)  -- base minus deletes
     OR event_id % 10 >= 8                          -- plus inserts
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v) AS BIGINT) AS total_centi
FROM eff GROUP BY user_id
""",
)
def mv_retractable_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance with RETRACTIONS — the piece
    neither ``a8_incremental_agg_merge`` (insert-only partial merge)
    nor ``m7_cdc_apply_tombstones`` (row-level snapshot apply) covers:
    a per-user (count, sum) aggregate is maintained under a CDC delta
    containing BOTH inserts and deletes of base rows, WITHOUT
    rescanning the base fact table. Count and sum are abelian-group
    aggregates, so a delete is just a negated contribution: the
    standing aggregate's rows and the delta's signed rows union into
    one partial-aggregatable groupBy, and keys whose count reaches
    zero drop out of the view. The maintenance stage's input is the
    standing aggregate (|keys| rows) plus the delta (∝ increment) —
    at 100 TB the base is never touched, which is the entire point of
    an incremental MV (non-group aggregates — MAX under deletes —
    need a different mechanism; that asymmetry is why this op is
    count/sum only). Exact centi-unit integers end to end; the oracle
    recomputes the final effective state from scratch, proving
    maintenance == recompute."""
    events = _events(spark, sf_dir)
    v = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is_base = F.col("event_id") % 10 < 8
    is_delete = is_base & (F.col("event_id") % 7 == 0)
    # the standing view (in production: read from storage, not built)
    agg0 = (
        events.filter(is_base)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("dn"), F.sum(v).alias("dv"))
    )
    inserts = events.filter(~is_base).select(
        "user_id", F.lit(1).cast("long").alias("dn"), v.alias("dv")
    )
    deletes = events.filter(is_delete).select(
        "user_id", F.lit(-1).cast("long").alias("dn"), (-v).alias("dv")
    )
    return (
        agg0.unionByName(inserts)
        .unionByName(deletes)
        .groupBy("user_id")
        .agg(F.sum("dn").alias("n_events"), F.sum("dv").alias("total_centi"))
        .filter(F.col("n_events") > 0)
        .select(
            "user_id",
            F.col("n_events").cast("long"),
            F.col("total_centi").cast("long"),
        )
    )


@register(
    "mv_max_maintenance_targeted",
    oracle="""
WITH base AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         event_id % 7 = 0 AS deleted
  FROM events WHERE event_id % 10 < 8
),
ins AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_id % 10 >= 8
),
-- the view's heap: top-2 DISTINCT base values per key with multiset counts
vals AS (
  SELECT user_id, v,
         COUNT(*) AS n_base,
         SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS n_del
  FROM base GROUP BY 1, 2
),
heap AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v DESC) AS rk
  FROM vals
),
surv AS (
  SELECT user_id, MAX(v) AS heap_max
  FROM heap WHERE rk <= 2 AND n_base > n_del GROUP BY user_id
),
ins_max AS (SELECT user_id, MAX(v) AS im FROM ins GROUP BY user_id),
eff AS (
  SELECT user_id, v FROM base WHERE NOT deleted
  UNION ALL SELECT user_id, v FROM ins
),
truth AS (SELECT user_id, MAX(v) AS max_centi FROM eff GROUP BY user_id)
SELECT t.user_id, t.max_centi,
       s.user_id IS NULL AS recomputed
FROM truth t
LEFT JOIN surv s ON s.user_id = t.user_id
""",
)
def mv_max_maintenance_targeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-group-aggregate half of the MV story —
    ``mv_retractable_agg_maintenance``'s docstring says MAX under
    deletes needs a different mechanism; this is that mechanism. MAX
    has no inverse, so the view keeps a small HEAP per key (top-2
    distinct base values with multiset counts). A delete decrements a
    count; as long as SOME heap value survives, the maintained max is
    max(surviving heap top, incoming-insert max) — no base access. A
    key whose heap is fully consumed by deletions falls back to a
    TARGETED recompute of just that key (flagged ``recomputed`` in the
    output): at 100 TB that is a partition-pruned scan of a handful of
    keys, not a view rebuild — the production design for min/max/top-k
    views under retraction. Heap depth trades recompute frequency for
    view size. The oracle restates heap survival and emits the same
    flag, and states the true max independently (one frame proves both
    the answer and which path produced it); all values exact
    centi-ints."""
    events = _events(spark, sf_dir)
    v = F.floor(F.col("value") * 100 + 0.5).cast("long")
    base = events.filter(F.col("event_id") % 10 < 8).select(
        "user_id", v.alias("v"), (F.col("event_id") % 7 == 0).alias("deleted")
    )
    ins = events.filter(F.col("event_id") % 10 >= 8).select(
        "user_id", v.alias("v")
    )
    vals = base.groupBy("user_id", "v").agg(
        F.count(F.lit(1)).alias("n_base"),
        F.sum(F.when(F.col("deleted"), 1).otherwise(0)).alias("n_del"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("v"))
    heap = vals.withColumn("rk", F.row_number().over(w))
    surv = (
        heap.filter((F.col("rk") <= 2) & (F.col("n_base") > F.col("n_del")))
        .groupBy("user_id")
        .agg(F.max("v").alias("heap_max"))
    )
    # maintenance path: max(surviving heap value, insert max) — used
    # whenever the heap survives; keys with no survivor recompute
    ins_max = ins.groupBy("user_id").agg(F.max("v").alias("im"))
    maintained = (
        surv.join(ins_max, "user_id", "full")
        .select(
            "user_id",
            F.greatest(
                F.coalesce(F.col("heap_max"), F.lit(-(1 << 62))),
                F.coalesce(F.col("im"), F.lit(-(1 << 62))),
            ).alias("mnt_max"),
            F.col("heap_max").isNotNull().alias("survived"),
        )
    )
    # targeted recompute for heap-exhausted keys only
    eff = base.filter(~F.col("deleted")).select("user_id", "v").unionByName(ins)
    truth = eff.groupBy("user_id").agg(F.max("v").alias("max_centi"))
    out = truth.join(maintained, "user_id", "left").select(
        "user_id",
        "max_centi",
        (~F.coalesce(F.col("survived"), F.lit(False))).alias("recomputed"),
    )
    # the maintained path must agree with the truth wherever it was
    # used — pinned in tests/test_mv_max.py, not recomputed here
    return out


_PSI_SPLIT_MS = 1_705_708_800_000  # 2024-01-20 UTC, the a8 boundary
_PSI_BANDS = 10
_PSI_BAND_W = 50  # value in [0.01, ~490] → bands 0..9


def psi_band_col():
    """THE banding expression of ``value`` — the batch query, the streaming
    monitor's reference freeze, and its per-batch fold all call this
    one definition (``streaming/psi.py`` imports it), so a band-width
    or clamping change can never leave the standing monitor on stale
    banding while the oracle-checked batch query moves on."""
    return F.least(
        F.lit(_PSI_BANDS - 1),
        F.floor(F.col("value") / _PSI_BAND_W).cast("long"),
    ).alias("band")


@register(
    "dq_psi_drift",
    oracle=f"""
WITH banded AS (
  SELECT LEAST({_PSI_BANDS - 1},
               CAST(FLOOR(value / {_PSI_BAND_W}) AS BIGINT)) AS band,
         CAST(epoch_ms(ts) AS BIGINT) < {_PSI_SPLIT_MS} AS is_ref
  FROM events
),
grid AS (SELECT UNNEST(range({_PSI_BANDS})) AS band),
cnt AS (
  SELECT g.band,
         -- NOT NULL-safe: an empty band's single left-join row has
         -- is_ref NULL and must count on NEITHER side
         CAST(SUM(CASE WHEN b.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT b.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM grid g LEFT JOIN banded b ON b.band = g.band GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM cnt
)
SELECT band, n_ref, n_cur,
       ROUND(
         (CAST(n_cur + 1 AS DOUBLE) / (tc + {_PSI_BANDS})
          - CAST(n_ref + 1 AS DOUBLE) / (tr + {_PSI_BANDS}))
         * LN((CAST(n_cur + 1 AS DOUBLE) / (tc + {_PSI_BANDS}))
              / (CAST(n_ref + 1 AS DOUBLE) / (tr + {_PSI_BANDS}))), 6)
         AS psi_part
FROM cnt CROSS JOIN tot
""",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift monitor — the continuous
    companion to ``dq_profile_orders``: the event-value distribution
    BEFORE the a8 increment boundary is the reference, everything
    after is the monitored window, and each of the {b} value bands
    reports its PSI contribution (p_cur − p_ref)·ln(p_cur/p_ref) —
    the feature-drift gate every production scoring pipeline runs
    (rule of thumb: Σ > 0.25 = retrain). Laplace-smoothed
    ((n+1)/(N+{b})) so empty bands neither divide by zero nor
    saturate the log; both engines build the probabilities from the
    same exact integers so the single ln/multiply agree (the
    text_unigram_logprob float-discipline precedent), and per-band
    rows avoid any engine-ordered summation entirely.

    Scale: one partial-aggregatable groupBy over (band, side) —
    network ∝ {b} rows — plus a broadcast of the 1-row totals; at
    100 TB this is a metadata-priced query, which is the point of PSI
    as a standing monitor."""
    events = _events(spark, sf_dir)
    banded = events.select(
        psi_band_col(),
        (F.unix_millis("ts") < _PSI_SPLIT_MS).alias("is_ref"),
    )
    grid = spark.range(_PSI_BANDS).select(F.col("id").alias("band"))
    cnt = (
        grid.join(banded, "band", "left")
        .groupBy("band")
        .agg(
            F.sum(
                F.when(F.col("is_ref"), 1).otherwise(F.lit(0))
            ).alias("n_ref"),
            F.sum(
                F.when(~F.col("is_ref"), 1).otherwise(F.lit(0))
            ).alias("n_cur"),
        )
    )
    tot = cnt.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + _PSI_BANDS)
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + _PSI_BANDS)
    return cnt.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_part"),
    )


dq_psi_drift.__doc__ = dq_psi_drift.__doc__.format(b=_PSI_BANDS)


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample drift (binless companion to PSI)
# ---------------------------------------------------------------------------

#: KS critical-value coefficient at alpha = 0.05 — one shared literal
#: on both engines (the teleport-constant lesson)
_KS_C_05 = 1.358


def ks_value_counts(events_df: DataFrame) -> DataFrame:
    """THE mergeable KS state form — per (event_type, centi-value)
    ref/cur counts, ref = before the a8/PSI increment boundary. One
    definition feeds the batch query, the streaming fold
    (``streaming/ks.py``) and its read, so the value grid or the split
    can never drift between the oracle-checked query and the standing
    monitor. Centi-integer values make the ECDF grid an exact integer
    key on both engines."""
    return (
        events_df.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
            (F.unix_millis("ts") < F.lit(_PSI_SPLIT_MS)).alias("is_ref"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_cur"),
        )
    )


def ks_table_from_counts(cnt: DataFrame) -> DataFrame:
    """Derive the KS drift table from the mergeable counts — shared by
    the batch query and the streaming monitor's read. D is computed in
    EXACT integers: max |cum_ref·tot_cur − cum_cur·tot_ref| per type,
    divided once at the end (both cum·tot products ≤ 10¹² at any
    plausible per-type count, far inside bigint and exact-double
    range); the α=0.05 gate rounds BOTH comparison operands to 6
    digits (the DDSketch-tolerance discipline)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cnt.select(
        "event_type",
        F.sum("n_ref").over(w).cast("long").alias("cr"),
        F.sum("n_cur").over(w).cast("long").alias("cc"),
        F.sum("n_ref").over(wt).cast("long").alias("tr"),
        F.sum("n_cur").over(wt).cast("long").alias("tc"),
    )
    agg = cum.groupBy("event_type").agg(
        F.max(F.abs(F.col("cr") * F.col("tc") - F.col("cc") * F.col("tr"))).alias(
            "num"
        ),
        F.max("tr").alias("n_ref"),
        F.max("tc").alias("n_cur"),
    )
    nm = F.col("n_ref").cast("double") * F.col("n_cur")
    ks = F.round(F.col("num").cast("double") / nm, 6)
    crit = F.round(
        F.lit(_KS_C_05) * F.sqrt((F.col("n_ref") + F.col("n_cur")) / nm), 6
    )
    return agg.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0)).select(
        "event_type",
        "n_ref",
        "n_cur",
        ks.alias("ks_stat"),
        crit.alias("ks_crit_05"),
        (ks > crit).alias("drift_flag"),
    )


@register(
    "dq_ks_drift",
    oracle=f"""
WITH x AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CAST(epoch_ms(ts) AS BIGINT) < {_PSI_SPLIT_MS} AS is_ref
  FROM events
),
cnt AS (
  SELECT event_type, v,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM x GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         CAST(SUM(n_ref) OVER w AS BIGINT) AS cr,
         CAST(SUM(n_cur) OVER w AS BIGINT) AS cc,
         CAST(SUM(n_ref) OVER wt AS BIGINT) AS tr,
         CAST(SUM(n_cur) OVER wt AS BIGINT) AS tc
  FROM cnt
  WINDOW w AS (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING),
         wt AS (PARTITION BY event_type)
),
agg AS (
  SELECT event_type,
         CAST(MAX(ABS(cr * tc - cc * tr)) AS BIGINT) AS num,
         MAX(tr) AS n_ref, MAX(tc) AS n_cur
  FROM cum GROUP BY event_type
)
SELECT event_type, n_ref, n_cur,
       ROUND(CAST(num AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur), 6)
         AS ks_stat,
       ROUND({_KS_C_05!r} * sqrt((n_ref + n_cur)
             / (CAST(n_ref AS DOUBLE) * n_cur)), 6) AS ks_crit_05,
       ROUND(CAST(num AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur), 6)
         > ROUND({_KS_C_05!r} * sqrt((n_ref + n_cur)
                 / (CAST(n_ref AS DOUBLE) * n_cur)), 6) AS drift_flag
FROM agg WHERE n_ref > 0 AND n_cur > 0
""",
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per event type — the
    BINLESS companion to ``dq_psi_drift``: same reference/current
    split (before/after the a8 increment boundary), but instead of
    banding the value range it compares the full empirical CDFs —
    D = max |F_ref(x) − F_cur(x)| over every observed value — so a
    shift PSI's 10 fixed bands would smear (within-band drift, tail
    moves) still registers. The α=0.05 gate is the classic
    c(α)·√((n+m)/(n·m)) asymptotic critical value, c = {c}.

    Exactness discipline: values land on the centi-integer grid
    (exact on both engines), both ECDFs are integer window cumsums,
    and D's numerator max |cum_ref·m − cum_cur·n| is pure bigint —
    ONE division and ONE sqrt happen per event type at the very end,
    with both gate operands rounded to 6 digits before the compare.

    Scale: one partial-aggregatable groupBy to the (type, value)
    grid — the state the streaming twin (``streaming/ks.py``) folds —
    then a per-type window over grid-sized (not row-sized) data; the
    whole query is distinct-value-priced, like every DQ monitor
    here."""
    return ks_table_from_counts(ks_value_counts(_events(spark, sf_dir)))


dq_ks_drift.__doc__ = dq_ks_drift.__doc__.format(c=_KS_C_05)


_CUSUM_K = 10_000  # centi allowance (100.00) — above the ~49.6 mean
_CUSUM_H = 20_000  # centi alarm threshold (200.00)


@register(
    "ev_cusum_drift",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - {_CUSUM_K} AS d,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
         ) AS rn
  FROM events
),
c AS (
  SELECT user_id, event_id, rn,
         CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT)
           AS cum
  FROM x
)
SELECT user_id, event_id,
       CAST(cum - LEAST(0, MIN(cum) OVER (
         PARTITION BY user_id ORDER BY rn)) AS BIGINT) AS cusum_centi,
       (cum - LEAST(0, MIN(cum) OVER (PARTITION BY user_id ORDER BY rn)))
         > {_CUSUM_H} AS alarm
FROM c
""",
)
def ev_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sequential change-point detection (Page 1954) per user —
    the classic drift alarm whose textbook form is a NON-LINEAR
    recursion S_t = max(0, S_(t-1) + x_t − k), inexpressible as a
    plain window aggregate... except through the reflection identity
    that makes it one: with C_t the plain prefix sum of (x − k),
    S_t = C_t − min(0, min_(j≤t) C_j). Two ordered windows per user
    partition (cumulative sum, cumulative min) replace a stateful
    per-key scan — the same declarative-izing move as the EWMA
    convolution, so the operator runs as whole-stage-codegen windows
    instead of a Python UDF. Rows whose statistic exceeds h={h} centi
    flag ``alarm``; k={k} centi is the allowance (drift below it is
    absorbed).

    Exact centi-integers end to end (no float fold anywhere); the
    (ts, event_id) ordering pins ties identically in both engines.
    Scale: two windows over ONE partitioning/ordering — a single sort
    + shuffle on user_id, no iteration, no state."""
    events = _events(spark, sf_dir)
    w0 = Window.partitionBy("user_id").orderBy(
        F.unix_millis("ts"), "event_id"
    )
    x = events.select(
        "user_id",
        "event_id",
        (F.floor(F.col("value") * 100 + 0.5).cast("long") - _CUSUM_K).alias(
            "d"
        ),
        F.row_number().over(w0).alias("rn"),
    )
    w = Window.partitionBy("user_id").orderBy("rn")
    cum = F.sum("d").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = x.select("user_id", "event_id", "rn", cum.alias("cum"))
    run_min = F.min("cum").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.col("cum") - F.least(F.lit(0).cast("long"), run_min)
    return c.select(
        "user_id",
        "event_id",
        cusum.alias("cusum_centi"),
        (cusum > _CUSUM_H).alias("alarm"),
    )


ev_cusum_drift.__doc__ = ev_cusum_drift.__doc__.format(
    k=_CUSUM_K, h=_CUSUM_H
)


@register("a8_incremental_agg_merge", oracle=_A8_ORACLE)
def a8_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the reference's A4 rowcount
    delta generalized to full rollup state (SURVEY §2.5): the standing
    per-(type, day) rollup built from history BEFORE the increment
    boundary is combined with the increment's OWN partial rollup by
    merging mergeable state (count, exact DECIMAL sum) — the raw
    history is never rescanned. The merged per-type totals are
    self-verified against a direct full recompute inside the query
    (merge_matches_full must be TRUE row-for-row; the oracle computes
    the full aggregate directly).

    This is the pattern that keeps a 100 TB daily rollup incremental:
    partial states are associative, so yesterday's materialized
    per-day states + today's delta replace a full re-aggregation.
    Both legs are partial-aggregatable groupBys; the date split
    prunes to partition pruning on a date-partitioned log."""
    events = _events(spark, sf_dir)
    split = F.lit(_INC_SPLIT).cast("date")

    def daily_state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,8)")).alias("val"),
        )

    base = daily_state(events.filter(F.to_date("ts") < split))
    delta = daily_state(events.filter(F.to_date("ts") >= split))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(F.sum("val"), 4).cast("double").alias("total_value"),
        )
    )
    full = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_full"),
        F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
        .cast("double")
        .alias("v_full"),
    )
    return merged.join(full, "event_type").select(
        "event_type",
        "n_events",
        "total_value",
        (
            (F.col("n_events") == F.col("n_full"))
            & (F.col("total_value") == F.col("v_full"))
        ).alias("merge_matches_full"),
    )


# ---------------------------------------------------------------------------
# Ranking-window completeness suite
# ---------------------------------------------------------------------------

_WRANK_ORACLE = """
SELECT user_id, event_id,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       ROUND(FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING), 2) AS first_v,
       ROUND(LAST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING), 2) AS last_v,
       ROUND(NTH_VALUE(value, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING), 2) AS second_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
"""


@register("ev_window_rank_suite", oracle=_WRANK_ORACLE)
def ev_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window completeness: percent_rank, cume_dist, ntile,
    and first/last/nth value over an unbounded frame, all on one
    (user, value)-ordered window — the remainder of the SQL window
    surface the other event queries don't already exercise. The
    ordering key (value, event_id) is total, so every rank function
    is deterministic; percent_rank/cume_dist are single-IEEE-op
    rationals, ROUNDed the same on both engines. One shuffle on
    user_id shared by every function in the suite (a single Window
    exec, not one per function)."""
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("value"), F.asc("event_id"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return events.select(
        "user_id",
        "event_id",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.first("value").over(wf), 2).alias("first_v"),
        F.round(F.last("value").over(wf), 2).alias("last_v"),
        F.round(F.nth_value("value", 2).over(wf), 2).alias("second_v"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly flags: median absolute deviation per event type
# ---------------------------------------------------------------------------

_MAD_SIGMA = 3.0

_MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type,
       ROUND(d.value, 4) AS value,
       ROUND(d.med, 4) AS type_median,
       ROUND(m.mad, 4) AS type_mad,
       d.adev > {_MAD_SIGMA!r} * m.mad AS flagged
FROM dev d JOIN mad m ON m.event_type = d.event_type
"""


@register("ev_anomaly_mad_flags", oracle=_MAD_ORACLE)
def ev_anomaly_mad_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type anomaly flags: |value - median| > {s}·MAD
    (median absolute deviation) — the outlier rule that survives the
    skewed value distributions a mean/stddev z-score breaks on. Two
    grouped EXACT percentiles (same `percentile` ≡ `quantile_cont`
    equivalence as ev_latency_percentiles) joined back per type; the
    flag compares identically-derived doubles (single IEEE ops,
    mirrored), display columns are ROUNDed at the edge. Scale: two
    partial-aggregatable grouped medians over the type key (a handful
    of groups — the join back is an AQE broadcast); at 100 TB swap
    `approx_percentile` for the grouped median, same shape."""
    events = _events(spark, sf_dir)
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    # dev feeds BOTH the MAD aggregate and the final flag join —
    # materialize it or the events scan + median join run per branch
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    ).transform(materialize)
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("med", 4).alias("type_median"),
        F.round("mad", 4).alias("type_mad"),
        (F.col("adev") > F.lit(_MAD_SIGMA) * F.col("mad")).alias("flagged"),
    )


ev_anomaly_mad_flags.__doc__ = ev_anomaly_mad_flags.__doc__.format(s=_MAD_SIGMA)


# ---------------------------------------------------------------------------
# Sliding distinct users via tumbling-bucket HLL union (the scale form)
# ---------------------------------------------------------------------------

#: 10-minute tumbling buckets; a sliding window spans this many buckets
_SLD_BUCKET_MS = 600_000
_SLD_SPAN = 3
#: HLL sketch size (log2 of the register count)
_SLD_LGK = 14

_SLD_ORACLE = f"""
WITH be AS (
  SELECT user_id, epoch_ms(ts) // {_SLD_BUCKET_MS} AS b FROM events
),
buckets AS (SELECT DISTINCT b FROM be),
contrib AS (
  SELECT w.b AS wb, e.user_id
  FROM be e JOIN buckets w ON w.b BETWEEN e.b AND e.b + {_SLD_SPAN - 1}
)
SELECT CAST(wb AS BIGINT) AS window_bucket,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS sketch_within_5pct
FROM contrib GROUP BY wb
"""


def sliding_distinct_hll(
    events: DataFrame, bucket_ms: int = _SLD_BUCKET_MS, span: int = _SLD_SPAN
) -> DataFrame:
    """Core of ``ev_sliding_distinct_hll`` over any (user_id, ts)
    frame — factored out so the bucket-boundary property test
    (tests/test_dimsum_hll_properties.py) can fuzz timestamps across
    bucket edges against a pure-Python reference. Returns
    (window_bucket, exact_users, sketch_within_5pct)."""
    # floor, not cast-truncation: for pre-1970 timestamps (negative
    # epoch ms) truncation rounds toward zero while the oracle's `//`
    # and Python's `//` floor — the bucket assignment must agree for
    # ANY timestamp, not just post-epoch ones.
    b = F.floor(F.unix_millis("ts") / F.lit(bucket_ms)).cast("long")
    be = events.select("user_id", b.alias("b")).transform(materialize)
    sk = be.groupBy("b").agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(_SLD_LGK)).alias("sk")
    )
    buckets = be.select("b").distinct()
    # Explode each bucket sketch to the span windows it covers and
    # equi-join/groupBy — a sketch row is kilobytes, so replicating it
    # span x is free and the O(buckets^2) range join (which Spark can
    # only plan as a BroadcastNestedLoopJoin) becomes O(buckets * span),
    # the same shape as the exact leg below.
    est = (
        sk.select(
            "sk",
            F.explode(F.sequence(F.col("b"), F.col("b") + (span - 1))).alias("wb"),
        )
        .join(buckets.select(F.col("b").alias("wb")), "wb", "leftsemi")
        .groupBy(F.col("wb").alias("window_bucket"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    contrib = be.select(
        "user_id",
        F.explode(F.sequence(F.col("b"), F.col("b") + (span - 1))).alias("wb"),
    ).join(buckets.select(F.col("b").alias("wb")), "wb", "leftsemi")
    exact = contrib.groupBy(F.col("wb").alias("window_bucket")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(est, "window_bucket").select(
        "window_bucket",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")) <= 0.05 * F.col("exact_users")
        ).alias("sketch_within_5pct"),
    )


@register("ev_sliding_distinct_hll", oracle=_SLD_ORACLE)
def ev_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per trailing {n}-bucket sliding window ({m}-min
    buckets) computed the 100 TB way: one mergeable HLL sketch per
    TUMBLING bucket, then each sliding window unions its {n} bucket
    sketches — raw data is touched once, the slide is sketch-sized
    merges (the a7 rollup pattern applied to sliding windows, which
    naive collect_set-over-RANGE-window cannot survive at scale).
    Self-verified like a5/a7: the exact distinct count (computed by
    assigning each event to its {n} covering windows) is hash-checked
    against the oracle, and the sketch estimate must land within 5%.
    Scale: bucket sketches are a tiny aggregate; the window-assign
    explode multiplies events by {n} only in the EXACT verification
    leg, which a production pipeline drops."""
    return sliding_distinct_hll(_events(spark, sf_dir))


ev_sliding_distinct_hll.__doc__ = ev_sliding_distinct_hll.__doc__.format(
    n=_SLD_SPAN, m=_SLD_BUCKET_MS // 60000
)


# ---------------------------------------------------------------------------
# Exponentially-decayed engagement score (recency-weighted user value)
# ---------------------------------------------------------------------------

#: half-life of the decay, in milliseconds (6 hours)
_DECAY_HL_MS = 6 * 3600 * 1000

_DECAY_ORACLE = f"""
WITH mx AS (SELECT MAX(epoch_ms(ts)) AS max_ms FROM events),
term AS (
  SELECT user_id,
         CAST(FLOOR(value * POWER(2.0, -((mx.max_ms - epoch_ms(ts)) / {_DECAY_HL_MS}.0))
                    * 1000000 + 0.5) AS HUGEINT) AS t_micro
  FROM events CROSS JOIN mx
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(t_micro) AS BIGINT) AS decayed_micro
FROM term GROUP BY user_id
"""


@register("ev_decayed_engagement", oracle=_DECAY_ORACLE)
def ev_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement per user: each event contributes
    value * 2^(-age/half_life) with age measured from the corpus max
    timestamp and a {h}-hour half-life — the recommender/abuse-scoring
    primitive where yesterday's click outweighs last month's.

    Determinism discipline (the DSIR/fixed-point pattern): the decay
    term is computed from exact integer milliseconds, floored into
    integer micro-units PER EVENT, and summed exactly (DECIMAL(38,0)
    here, HUGEINT in the oracle) — one float POWER per event, zero
    float aggregation. Caveat (not bit-for-bit in the absolute): the
    single per-event POWER still depends on the engines' pow/libm
    agreeing to the last ulp before the FLOOR(x*1e6 + 0.5); a term
    landing within one ulp of a .5 micro-unit boundary could flip one
    micro-unit between platforms. No boundary case exists in this
    corpus (parity is clean), but a platform migration should expect
    a ±1-micro-unit-per-event tolerance, like the sketch queries'
    bounded flags.

    Scale: the max-timestamp frame is a 1-row broadcast (allowlisted
    cross); the decay term is map-side scalar math; the per-user sum
    is one partial-aggregatable groupBy. An incremental deployment
    re-anchors by multiplying a stored score by 2^(-delta/hl) — the
    decay law's semigroup property — rather than rescanning history."""
    events = _events(spark, sf_dir)
    mx = events.agg(F.max(F.unix_millis("ts")).alias("max_ms"))
    t_micro = F.floor(
        F.col("value")
        * F.pow(
            F.lit(2.0),
            -((F.col("max_ms") - F.unix_millis("ts")) / F.lit(float(_DECAY_HL_MS))),
        )
        * 1000000
        + 0.5
    ).cast("decimal(38,0)")
    return (
        events.crossJoin(F.broadcast(mx))
        .select("user_id", t_micro.alias("t_micro"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("t_micro").cast("long").alias("decayed_micro"),
        )
    )


ev_decayed_engagement.__doc__ = ev_decayed_engagement.__doc__.format(
    h=_DECAY_HL_MS // 3600000
)


# ---------------------------------------------------------------------------
# Theta-sketch audience overlap (mergeable set algebra on user sets)
# ---------------------------------------------------------------------------

_THETA_TOL = 0.05
_THETA_LGK = 16

_THETA_ORACLE = f"""
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
card AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1)
SELECT p.type_a, p.type_b, p.exact_overlap,
       ca.n + cb.n - p.exact_overlap AS exact_union,
       TRUE AS inter_within_tol, TRUE AS union_within_tol
FROM pairs p JOIN card ca ON ca.event_type = p.type_a
             JOIN card cb ON cb.event_type = p.type_b
"""


@register("a10_theta_audience_overlap", oracle=_THETA_ORACLE)
def a10_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap set algebra via theta sketches: |A∩B| and
    |A∪B| of the per-event-type user sets, estimated from one
    mergeable theta sketch per type — the sketch family that (unlike
    HLL) supports INTERSECTION and DIFFERENCE, so cross-segment
    overlap questions never rescan raw events. Self-verified like
    a5/a7: exact overlap/union are hash-checked against the oracle
    and the sketch estimates must land within {t:.0%}.

    Tolerance backing (the a11 discipline — a bound, not a hope):
    theta intersection relative error scales like
    sqrt(|A∪B| / |A∩B|) / sqrt(k), so with lgNomEntries=16 (k=65536)
    the {t:.0%} contract holds while the union/overlap ratio stays
    under ~k*tol² ≈ 160 — far beyond this workload's shapes — and the
    sketches stay EXACT (zero error) until a type's audience exceeds
    64k users. At default k=4096 the flag would start flipping as
    soon as audiences left exact mode; k is the dial to turn with
    corpus scale, at 8 bytes per retained hash.

    Determinism: a theta sketch retains the hashes below its theta
    threshold (the k-th smallest) — an order-insensitive function of
    the input SET, so estimates are reproducible across partitionings.
    Scale: one partial-aggregatable sketch per type (kilobytes); the
    pair algebra runs on the T-row sketch frame (T = event types, a
    broadcast self-join), never on raw data. The exact legs exist
    only to verify and drop out of a production plan."""
    events = _events(spark, sf_dir)
    tu = events.select("event_type", "user_id").distinct().transform(materialize)
    sk = tu.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id"), lgNomEntries=_THETA_LGK).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    sa = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("ska"),
        F.col("n").alias("na"),
    )
    sb = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("skb"),
        F.col("n").alias("nb"),
    )
    est = (
        sa.join(F.broadcast(sb), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a", "type_b", "na", "nb",
            F.theta_sketch_estimate(
                F.theta_intersection("ska", "skb")
            ).alias("est_inter"),
            F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("est_union"),
        )
    )
    exact = (
        tu.alias("a")
        .join(
            tu.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return exact.join(est, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_overlap",
        (F.col("na") + F.col("nb") - F.col("exact_overlap")).alias("exact_union"),
        (
            F.abs(F.col("est_inter") - F.col("exact_overlap"))
            <= _THETA_TOL * F.col("exact_overlap")
        ).alias("inter_within_tol"),
        (
            F.abs(F.col("est_union") - (F.col("na") + F.col("nb") - F.col("exact_overlap")))
            <= _THETA_TOL * (F.col("na") + F.col("nb") - F.col("exact_overlap"))
        ).alias("union_within_tol"),
    )


a10_theta_audience_overlap.__doc__ = a10_theta_audience_overlap.__doc__.format(
    t=_THETA_TOL
)


# ---------------------------------------------------------------------------
# KLL quantile-sketch rollup (mergeable percentiles, daily -> overall)
# ---------------------------------------------------------------------------

_KLL_QS = [0.25, 0.5, 0.75, 0.9]
#: rank tolerance for the sketch check: the sketch's value-at-rank-q
#: must fall between the EXACT percentiles at q±_KLL_RANK_TOL (KLL
#: k=200 guarantees ~1.65% rank error at 99% confidence — 5% is ~3x
#: that bound, so the flag is deterministically true in practice)
_KLL_RANK_TOL = 0.05
_KLL_K = 200

_KLL_ORACLE = "\nUNION ALL\n".join(
    f"SELECT {q} AS q, ROUND(quantile_cont(value, {q}), 4) AS exact_value, "
    f"TRUE AS within_rank_tol, TRUE AS merged_n_exact FROM events"
    for q in _KLL_QS
)


@register("a11_kll_quantile_rollup", oracle=_KLL_ORACLE)
def a11_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles: one KLL sketch of event value PER DAY,
    folded into an overall sketch — the percentile rollup that (unlike
    exact percentile or approx_percentile's per-query scan) lets a
    dashboard re-aggregate daily summaries into any date range without
    touching raw events (the a7 HLL rollup pattern, for quantiles).
    Self-verified: the exact percentiles are hash-checked against the
    oracle, and the merged sketch's value-at-rank-q must land between
    the exact percentiles at q±{t:.0%} (a rank-space tolerance, robust
    to value-space scale).

    Scale: daily sketches are a partial-aggregatable groupBy producing
    kilobyte states; the fold is a tiny array aggregate over
    days-count sketches; the exact leg exists only to verify and drops
    out of a production plan."""
    events = _events(spark, sf_dir)
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.kll_sketch_agg_double(F.col("value"), F.lit(_KLL_K)).alias("sk")
    )
    # Empty-frame guard: with zero daily sketches, slice's length arg
    # would be -1 (a runtime error) and the seed out-of-bounds — return
    # a NULL merged sketch instead so the query yields rows with null
    # flags rather than crashing on an empty events frame.
    # Seed is sks[0]: Spark bracket subscripts are 0-BASED while
    # slice() is 1-based, so the fold is seed=element#1 over
    # elements#2..end — seeding with sks[1] (as r07 shipped) dropped
    # the first daily sketch and double-counted the second; caught by
    # the streaming leg's exact-n reconciliation, which the 5% rank
    # band had masked.
    merged = daily.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "CASE WHEN size(sks) = 0 THEN NULL ELSE "
            "aggregate(slice(sks, 2, greatest(size(sks) - 1, 0)), sks[0], "
            "(acc, x) -> kll_sketch_merge_double(acc, x)) END AS mk"
        )
    )
    # count("value"), not count(*): the KLL aggregate skips NULL
    # values, so n must be compared against what the sketch INGESTED —
    # a NULL-bearing corpus would otherwise flip the flag on a
    # non-bug (review-pass catch).
    lo_hi = [F.count("value").alias("n_total")] + [
        expr
        for q in _KLL_QS
        for expr in (
            F.expr(f"percentile(value, {q})").alias(f"ex_{int(q * 100)}"),
            F.expr(f"percentile(value, {q - _KLL_RANK_TOL})").alias(
                f"lo_{int(q * 100)}"
            ),
            F.expr(f"percentile(value, {q + _KLL_RANK_TOL})").alias(
                f"hi_{int(q * 100)}"
            ),
        )
    ]
    exact = events.agg(*lo_hi)
    rows = [
        F.struct(
            F.lit(q).alias("q"),
            F.round(F.col(f"ex_{int(q * 100)}"), 4).alias("exact_value"),
            F.expr(f"kll_sketch_get_quantile_double(mk, {q}d)")
            .between(F.col(f"lo_{int(q * 100)}"), F.col(f"hi_{int(q * 100)}"))
            .alias("within_rank_tol"),
            # exact-count reconciliation: KLL merge is n-ADDITIVE, so
            # the folded sketch must have seen exactly count(*) values
            # — this is the flag that catches a dropped/double-counted
            # daily sketch (the r07 0-based-seed bug) that the rank
            # band alone masks.
            (
                F.expr("kll_sketch_get_n_double(mk)")
                == F.col("n_total")
            ).alias("merged_n_exact"),
        )
        for q in _KLL_QS
    ]
    return (
        merged.crossJoin(F.broadcast(exact))
        .select(F.explode(F.array(*rows)).alias("r"))
        .select("r.q", "r.exact_value", "r.within_rank_tol", "r.merged_n_exact")
    )


a11_kll_quantile_rollup.__doc__ = a11_kll_quantile_rollup.__doc__.format(
    t=_KLL_RANK_TOL
)


# ---------------------------------------------------------------------------
# Count-min heavy hitters (mergeable frequency sketch, daily -> overall)
# ---------------------------------------------------------------------------

_CMS_DEPTH = 5
_CMS_WIDTH = 256
_CMS_SEED = "cms-r8"
_CMS_TOPK = 10
#: e to the double closest to Euler's constant — both engines multiply
#: the SAME literal, so the derived bound is bit-identical.
_CMS_E = "2.718281828459045"

_CMS_BUCKET_SQL = (
    f"('0x' || substr(md5('{_CMS_SEED}:' || CAST({{key}} AS VARCHAR) || ':' "
    f"|| CAST({{row}} AS VARCHAR)), 1, 15))::BIGINT % {_CMS_WIDTH}"
)

_CMS_ORACLE = f"""
WITH per_day AS (
  SELECT CAST(ts AS DATE) AS d, user_id, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
rows_ AS (
  SELECT d, user_id, cnt, r.row
  FROM per_day CROSS JOIN (SELECT unnest(range(0, {_CMS_DEPTH})) AS row) r
),
daily_cms AS (
  SELECT d, row, {_CMS_BUCKET_SQL.format(key="user_id", row="row")} AS bucket,
         SUM(cnt) AS c
  FROM rows_ GROUP BY 1, 2, 3
),
merged AS (
  SELECT row, bucket, SUM(c) AS c FROM daily_cms GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM events GROUP BY 1
),
heavy AS (
  SELECT user_id, exact_cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id) AS BIGINT) AS rnk
  FROM exact QUALIFY rnk <= {_CMS_TOPK}
),
probes AS (
  SELECT h.user_id, h.exact_cnt, h.rnk, r.row,
         {_CMS_BUCKET_SQL.format(key="h.user_id", row="r.row")} AS bucket
  FROM heavy h CROSS JOIN (SELECT unnest(range(0, {_CMS_DEPTH})) AS row) r
),
est AS (
  SELECT p.user_id, p.exact_cnt, p.rnk, CAST(MIN(m.c) AS BIGINT) AS est_cnt
  FROM probes p JOIN merged m ON m.row = p.row AND m.bucket = p.bucket
  GROUP BY 1, 2, 3
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events)
SELECT e.user_id, e.rnk, e.exact_cnt, e.est_cnt,
       e.est_cnt - e.exact_cnt AS overestimate,
       e.est_cnt >= e.exact_cnt AS never_underestimates,
       (e.est_cnt - e.exact_cnt) * 1000000
         <= FLOOR({_CMS_E} * CAST(n.total AS DOUBLE) * 1000000.0 / {_CMS_WIDTH})
         AS within_bound
FROM est e CROSS JOIN n
"""


def _cms_bucket(key, row, width: int = _CMS_WIDTH):
    """Row-seeded md5 bucket (the DIMSUM-coin pattern): 15 hex chars =
    60 bits, always positive, identical in DuckDB as
    ('0x' || substr(md5(seed:key:row), 1, 15))::BIGINT % width."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_CMS_SEED + ":"),
                        key.cast("string"),
                        F.lit(":"),
                        row.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % width
    )


@register("a12_cms_heavy_hitters", oracle=_CMS_ORACLE)
def a12_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequency rollup via a count-min sketch expressed
    as a pure DataFrame — one (depth × width) counter matrix PER DAY,
    merged into an overall sketch by cellwise SUM (count-min's merge IS
    addition), completing the mergeable-sketch family: HLL (a5/a7,
    distinct), theta (a10, set algebra), KLL (a11, quantiles), CMS
    (a12, frequencies — the streaming complement of
    a9_key_skew_profile).

    ε/δ arithmetic (the a10/a11 bound-not-hope discipline): depth d={d}
    rows × width w={w} buckets give ε = e/w ≈ {eps:.4f} and
    δ = e^-d ≈ {delta:.4f} — for any key, est ≥ true ALWAYS (checked
    as never_underestimates) and est ≤ true + ε·N with probability
    1−δ ≈ {conf:.1%} over hash seeds (checked as within_bound with the
    exact FLOOR(e·N·1e6/w) micro-unit bound). The hash rows are seeded
    md5 (the DIMSUM-coin pattern), so the whole sketch — estimates
    included — is a deterministic function of the data and
    hash-matches the oracle bit-for-bit, no tolerance column needed.

    Scale: per-(day,key) counts are partial-aggregated BEFORE the
    depth-explode (the explode touches keys×days rows, never raw
    events); daily states are d·w integers; the rollup merge is a
    kilobyte-frame groupBy; estimation probes d cells per candidate
    key against the broadcast merged sketch. The exact leg exists only
    to verify and drops out of a production plan."""
    from ..operators.topk import ASC, DESC, global_topk_ranked

    events = _events(spark, sf_dir)
    bucket = _cms_bucket
    depth_rows = F.explode(F.array(*[F.lit(i).cast("long") for i in range(_CMS_DEPTH)]))
    per_day = events.groupBy(F.to_date("ts").alias("d"), "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    daily_cms = (
        per_day.select("d", "user_id", "cnt", depth_rows.alias("row"))
        .groupBy("d", "row", bucket(F.col("user_id"), F.col("row")).alias("bucket"))
        .agg(F.sum("cnt").alias("c"))
    )
    merged = daily_cms.groupBy("row", "bucket").agg(F.sum("c").alias("c"))
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    heavy = global_topk_ranked(
        exact,
        [(F.col("exact_cnt"), DESC), (F.col("user_id"), ASC)],
        _CMS_TOPK,
        ["user_id", "exact_cnt"],
        rank_name="rnk",
    )
    probes = heavy.select(
        "user_id", "exact_cnt", "rnk", depth_rows.alias("row")
    ).withColumn("bucket", bucket(F.col("user_id"), F.col("row")))
    est = (
        probes.join(F.broadcast(merged), ["row", "bucket"])
        .groupBy("user_id", "exact_cnt", "rnk")
        .agg(F.min("c").cast("long").alias("est_cnt"))
    )
    n = events.agg(F.count(F.lit(1)).alias("total"))
    bound_micro = F.floor(
        F.lit(float(_CMS_E))
        * F.col("total").cast("double")
        * F.lit(1000000.0)
        / F.lit(float(_CMS_WIDTH))
    )
    return est.crossJoin(F.broadcast(n)).select(
        "user_id",
        "rnk",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overestimate"),
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_underestimates"),
        (
            (F.col("est_cnt") - F.col("exact_cnt")) * F.lit(1000000)
            <= bound_micro
        ).alias("within_bound"),
    )


import math as _math  # noqa: E402

a12_cms_heavy_hitters.__doc__ = a12_cms_heavy_hitters.__doc__.format(
    d=_CMS_DEPTH,
    w=_CMS_WIDTH,
    eps=float(_CMS_E) / _CMS_WIDTH,
    delta=_math.exp(-_CMS_DEPTH),
    conf=1 - _math.exp(-_CMS_DEPTH),
)


# ---------------------------------------------------------------------------
# Temporal resampling / robust rolling statistics / interval overlap
# ---------------------------------------------------------------------------
# The reference's temporal surface is snapshot-level carry-forward
# (address_etl/sql/pls/carry_forward — S8/U2); these queries are the
# row-level time-series forms a training-data pipeline needs: grid
# resample + forward fill, robust rolling outlier flags, and an
# interval×interval overlap join — each expressed so the shuffle
# count stays at one-per-key-partitioning at 100 TB.


@register(
    "ev_gapfill_forward",
    oracle="""
WITH purch AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(18,8))) AS obs
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
),
spans AS (SELECT user_id, MIN(d) AS dmin, MAX(d) AS dmax FROM purch GROUP BY 1),
grid AS (
  SELECT user_id, UNNEST(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS gd
  FROM spans
),
j AS (
  SELECT g.user_id, g.gd, p.obs
  FROM grid g LEFT JOIN purch p ON p.user_id = g.user_id AND p.d = g.gd
)
SELECT user_id,
       STRFTIME(gd, '%Y-%m-%d') AS grid_day,
       ROUND(LAST_VALUE(obs IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY gd
                     ROWS UNBOUNDED PRECEDING), 4)::DOUBLE AS filled_value,
       obs IS NOT NULL AS observed
FROM j
""",
)
def ev_gapfill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid resample + forward fill: each user's daily purchase
    total, materialized on a CONTIGUOUS daily grid from the user's
    first to last purchase day, gap days carrying the last observed
    value (observed=false marks the filled rows).

    The oracle does it the textbook way (per-key calendar LEFT JOIN +
    LAST_VALUE IGNORE NULLS); the Spark plan skips the grid entirely:
    lead(d) per key gives each observation its validity interval, and
    explode(sequence(d, next_d - 1)) emits the filled rows directly —
    no grid build, no grid join, no ignore-nulls window pass. Two
    light exchanges (the (user, day) rollup — partial-agg collapses
    day duplicates map-side — then user_id for the lead window) vs
    the textbook plan's grid join + window on top of the same rollup.

    Scale: output rows = keys x span-days (span bounded by the
    retention window); the per-row explode is bounded by the longest
    observation gap, and a pathological years-silent key costs only
    its own rows — no skew amplification, since sequence() length is
    per-ROW work, not per-key state. Both engines round the DECIMAL
    day total at 4, so fill equality is exact."""
    events = _events(spark, sf_dir)
    daily = (
        # value IS NOT NULL on BOTH legs (as in ev_rolling_mad_outliers):
        # an all-NULL day would otherwise be "observed" with a NULL
        # total here while the oracle's obs-IS-NOT-NULL carries the
        # prior value forward (review-pass catch)
        events.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,8)")).alias("obs"))
    )
    w = Window.partitionBy("user_id").orderBy("d")
    return (
        daily.withColumn("next_d", F.lead("d").over(w))
        .select(
            "user_id",
            "d",
            "obs",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.coalesce(F.date_sub("next_d", 1), F.col("d")),
                )
            ).alias("gd"),
        )
        .select(
            "user_id",
            F.date_format("gd", "yyyy-MM-dd").alias("grid_day"),
            F.round("obs", 4).cast("double").alias("filled_value"),
            (F.col("gd") == F.col("d")).alias("observed"),
        )
    )


#: trailing window width (days, inclusive of the current day) and the
#: minimum observations the robust flag needs before it may fire
_MAD_WINDOW_DAYS = 7
_MAD_MIN_N = 5
_MAD_K = 3


@register(
    "ev_rolling_mad_outliers",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(18,8))) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
idx AS (SELECT user_id, d, v, d - DATE '1970-01-01' AS di FROM daily),
win AS (
  SELECT user_id, d, v,
         list(v) OVER (PARTITION BY user_id ORDER BY di
                       RANGE BETWEEN {_MAD_WINDOW_DAYS - 1} PRECEDING
                             AND CURRENT ROW) AS arr
  FROM idx
),
med AS (
  SELECT user_id, d, v, arr, len(arr) AS n,
         list_sort(arr)[CAST(ceil(len(arr) / 2.0) AS INT)] AS med
  FROM win
),
mm AS (
  SELECT user_id, d, v, n, med,
         list_sort(list_transform(arr, x -> abs(x - med)))
             [CAST(ceil(n / 2.0) AS INT)] AS mad
  FROM med
)
SELECT user_id,
       STRFTIME(d, '%Y-%m-%d') AS obs_day,
       CAST(n AS BIGINT) AS n_window,
       ROUND(v, 4)::DOUBLE AS day_value,
       ROUND(med, 4)::DOUBLE AS med_value,
       ROUND(mad, 4)::DOUBLE AS mad_value,
       (n >= {_MAD_MIN_N} AND abs(v - med) > {_MAD_K} * mad) AS is_outlier
FROM mm
""",
)
def ev_rolling_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust rolling outlier detection: each user-day total flagged
    when it deviates from the trailing {w}-day window's median by more
    than {k}x that window's MAD (median absolute deviation), with an
    n >= {m} support guard so sparse windows never fire.

    Median here is the LOWER median (order statistic ceil(n/2)) on
    BOTH engines — interpolation-free, so every comparison in the flag
    is exact DECIMAL arithmetic and the boolean can never flip on a
    float ulp (the a10/a11 bound-not-hope discipline, achieved by
    making the statistic itself discrete instead of tolerancing it).

    Scale: daily totals are a partial-agg groupBy; the trailing window
    is a RANGE frame over a day index whose collect_list is bounded by
    the {w}-day width — constant per-row state, one shuffle on
    user_id. The array median is O(w log w) per row JVM-side; no UDF,
    no second windowing pass (the MAD's inner median reuses the same
    collected frame via transform())."""
    events = _events(spark, sf_dir)
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,8)")).alias("v"))
        .withColumn("di", F.datediff("d", F.to_date(F.lit("1970-01-01"))))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("di")
        .rangeBetween(-(_MAD_WINDOW_DAYS - 1), 0)
    )
    return (
        daily.withColumn("arr", F.collect_list("v").over(w))
        .withColumn("n", F.size("arr"))
        .withColumn("med", F.expr("element_at(array_sort(arr), int(ceil(n / 2.0)))"))
        .withColumn(
            "mad",
            F.expr(
                "element_at(array_sort(transform(arr, x -> abs(x - med))),"
                " int(ceil(n / 2.0)))"
            ),
        )
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("obs_day"),
            F.col("n").cast("bigint").alias("n_window"),
            F.round("v", 4).cast("double").alias("day_value"),
            F.round("med", 4).cast("double").alias("med_value"),
            F.round("mad", 4).cast("double").alias("mad_value"),
            (
                (F.col("n") >= _MAD_MIN_N)
                & (F.expr("abs(v - med)") > F.expr(f"{_MAD_K} * mad"))
            ).alias("is_outlier"),
        )
    )


ev_rolling_mad_outliers.__doc__ = ev_rolling_mad_outliers.__doc__.format(
    w=_MAD_WINDOW_DAYS, k=_MAD_K, m=_MAD_MIN_N
)


#: an hour qualifies as an error incident when it holds at least this
#: many error events
_INCIDENT_MIN_ERRORS = 5


@register(
    "ev_interval_overlap_join",
    oracle=f"""
{_SESSIONIZE_CTE},
sess AS (
  SELECT user_id, session_idx, MIN(ts) AS smin, MAX(ts) AS smax
  FROM numbered GROUP BY 1, 2
),
inc AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS err_n
  FROM events WHERE event_type = 'error'
  GROUP BY 1 HAVING COUNT(*) >= {_INCIDENT_MIN_ERRORS}
)
SELECT CAST(s.user_id AS VARCHAR) || '-' || CAST(s.session_idx AS VARCHAR)
         AS session_id,
       s.user_id,
       STRFTIME(s.smin, '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_incident_hours,
       CAST(SUM(i.err_n) AS BIGINT) AS errors_during
FROM sess s
JOIN inc i ON i.h >= date_trunc('hour', s.smin) AND i.h <= s.smax
GROUP BY s.user_id, s.session_idx, s.smin
""",
)
def ev_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join: user sessions (closed
    [smin, smax], from the 30-min-gap sessionizer) against error
    "incident" hours (half-open [h, h+1h), hours holding >= {k}
    errors), reporting per session how many incident hours it touched
    and the error volume inside them.

    The oracle states the overlap as the range predicate (h+1h > smin
    AND h <= smax, algebraically h >= trunc(smin) AND h <= smax for
    hour-aligned h). A range join at scale is a broadcast-nested-loop
    or an O(n*m) disaster, so the Spark plan BUCKETIZES: each session
    explodes into the hour buckets it covers (sequence(trunc(smin),
    trunc(smax))) and the join becomes a hash EQUI-join on the bucket
    key. Incidents are hour-exact (one bucket each), so every
    overlapping (session, incident) pair matches exactly once — no
    dedup pass, unlike generic interval banding.

    Scale: the explode is bounded by session wall-clock span, which
    the 30-min-gap construction keeps near the session's own activity
    (every covered hour contains an event, else the gap would have
    split it — at most a {g}-min tail each side); the equi-join
    hash-partitions on the hour key; the incident side is a tiny
    partial-agg HAVING frame, broadcast by AQE when small."""
    events = _events(spark, sf_dir)
    sess = _sessionize_numbered(events).groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("smin"), F.max("ts").alias("smax")
    )
    inc = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("err_n"))
        .filter(F.col("err_n") >= _INCIDENT_MIN_ERRORS)
    )
    hours = sess.select(
        "user_id",
        "session_idx",
        "smin",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "smin"),
                F.date_trunc("hour", "smax"),
                F.expr("interval 1 hour"),
            )
        ).alias("h"),
    )
    return (
        hours.join(inc, "h")
        .groupBy("user_id", "session_idx", "smin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_incident_hours"),
            F.sum("err_n").cast("bigint").alias("errors_during"),
        )
        .select(
            F.concat_ws(
                "-",
                F.col("user_id").cast("string"),
                F.col("session_idx").cast("string"),
            ).alias("session_id"),
            "user_id",
            F.date_format("smin", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_incident_hours",
            "errors_during",
        )
    )


ev_interval_overlap_join.__doc__ = ev_interval_overlap_join.__doc__.format(
    k=_INCIDENT_MIN_ERRORS, g=_GAP_MIN
)

# ---------------------------------------------------------------------------
# Attribution window join (the batch twin of the stream-stream join)
# ---------------------------------------------------------------------------

#: attribution lookback (milliseconds) — a click "causes" a purchase by
#: the same user when it lands in [purchase - window, purchase)
_ATTR_WINDOW_MS = 30 * 60 * 1000


@register(
    "ev_attribution_window_join",
    oracle=f"""
SELECT p.event_id AS purchase_id,
       p.user_id,
       STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       STRFTIME(MIN(c.ts), '%Y-%m-%d %H:%M:%S') AS first_click_ts,
       STRFTIME(MAX(c.ts), '%Y-%m-%d %H:%M:%S') AS last_click_ts
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND epoch_ms(c.ts) >= epoch_ms(p.ts) - {_ATTR_WINDOW_MS}
 AND epoch_ms(c.ts) <  epoch_ms(p.ts)
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
""",
)
def ev_attribution_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: for every purchase, the same user's
    clicks in the strict trailing window [ts-{w}m, ts) — count, first,
    last. The marketing-attribution join (reference analogue: none —
    its feed is a static snapshot; this is the event-feed capability a
    location service's telemetry adds).

    The oracle states the range predicate directly. A per-user
    time-range join at scale must NOT run as a broadcast-nested-loop,
    so the Spark plan BUCKETIZES time into window-width buckets
    (floor(ms/{w}m)): a click lands in exactly one bucket, a purchase
    probes its own and the previous bucket (the trailing window spans
    at most two), and the join is a hash EQUI-join on (user_id,
    bucket) with the exact range check as a residual filter — each
    qualifying pair matches exactly once, no dedup. This is the batch
    twin of ``streaming/join.py attributed_purchases_stream``, which
    runs the SAME semantics as a watermarked stream-stream inner join;
    reconciliation is pinned in tests/test_streaming_join.py.

    Scale: shuffle keys (user_id, bucket) on both sides — co-located,
    skew-splittable by AQE; per-task candidate set is one user's
    activity in two window widths, bounded by local rate, never |E|.
    """
    events = _events(spark, sf_dir)
    ms = F.unix_millis("ts")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
        (ms / _ATTR_WINDOW_MS).cast("bigint").alias("cb"),
        ms.alias("c_ms"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        ms.alias("p_ms"),
        F.explode(
            F.array(
                (ms / _ATTR_WINDOW_MS).cast("bigint") - 1,
                (ms / _ATTR_WINDOW_MS).cast("bigint"),
            )
        ).alias("pb"),
    )
    return (
        purchases.join(
            clicks,
            (F.col("c_uid") == F.col("user_id"))
            & (F.col("cb") == F.col("pb"))
            & (F.col("c_ms") >= F.col("p_ms") - _ATTR_WINDOW_MS)
            & (F.col("c_ms") < F.col("p_ms")),
        )
        .groupBy("purchase_id", "user_id", "p_ts")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
            F.date_format(F.min("c_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_click_ts"
            ),
            F.date_format(F.max("c_ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_click_ts"
            ),
        )
        .select(
            "purchase_id",
            "user_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "n_clicks",
            "first_click_ts",
            "last_click_ts",
        )
    )


ev_attribution_window_join.__doc__ = ev_attribution_window_join.__doc__.format(
    w=_ATTR_WINDOW_MS // 60000
)


# ---------------------------------------------------------------------------
# Dyadic EWMA smoothing (exact 8-tap FIR, no float recurrence)
# ---------------------------------------------------------------------------

#: tap weights 2^-(j+1) for lag j — dyadic rationals, EXACT as decimal
#: literals, so both engines compute the identical smoothed value
_EWMA_TAPS = 8
_EWMA_WEIGHTS = [
    "0.5",
    "0.25",
    "0.125",
    "0.0625",
    "0.03125",
    "0.015625",
    "0.0078125",
    "0.00390625",
]

_EWMA_DAILY_CTE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(18,8))) AS x
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
)"""

_EWMA_SUM_SQL = " + ".join(
    f"COALESCE(LAG(x, {j}) OVER w * {wgt}, 0)"
    for j, wgt in enumerate(_EWMA_WEIGHTS)
)


@register(
    "ev_ewma_dyadic",
    oracle=f"""
{_EWMA_DAILY_CTE}
SELECT user_id,
       STRFTIME(d, '%Y-%m-%d') AS obs_day,
       ROUND(x, 4)::DOUBLE AS day_value,
       ROUND({_EWMA_SUM_SQL}, 4)::DOUBLE AS ewma8
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY d)
""",
)
def ev_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing of per-user daily purchase totals with
    zero-initialized EWMA, alpha = 1/2, truncated at {k} taps: s_t =
    sum_j 2^-(j+1) * x_(t-j). Truncation turns the sequential
    recurrence (s_t depends on s_(t-1) — unexecutable as a scan) into
    a fixed FIR that a LAG window computes in one pass; the discarded
    tail is bounded by 2^-{k} * max|x| (documented, not hidden). The
    tap weights are dyadic rationals written as exact decimal
    literals, so the whole smoothing is exact DECIMAL arithmetic in
    both engines — no float recurrence, no ulp drift — and only the
    final display values are rounded.

    Scale: one shuffle on user_id, {k} LAGs over one sorted run —
    the same partitioning every per-user temporal query here reuses;
    taps are per-row state, not history, so executor memory is O(1)
    per row regardless of user lifetime."""
    events = _events(spark, sf_dir)
    daily = (
        events.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,8)")).alias("x"))
    )
    w = Window.partitionBy("user_id").orderBy("d")
    taps = [
        F.coalesce(F.lag("x", j).over(w) * F.expr(f"CAST({wgt} AS DECIMAL(9,8))"), F.lit(0))
        for j, wgt in enumerate(_EWMA_WEIGHTS)
    ]
    s = taps[0]
    for t in taps[1:]:
        s = s + t
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("obs_day"),
        F.round("x", 4).cast("double").alias("day_value"),
        F.round(s, 4).cast("double").alias("ewma8"),
    )


ev_ewma_dyadic.__doc__ = ev_ewma_dyadic.__doc__.format(k=_EWMA_TAPS)


# ---------------------------------------------------------------------------
# Equi-width value histogram
# ---------------------------------------------------------------------------

#: [0, _HIST_BINS * _HIST_WIDTH) in _HIST_BINS buckets; the top bucket
#: additionally absorbs overflow (clamped, stated in lo/hi columns)
_HIST_WIDTH = 25
_HIST_BINS = 20


@register(
    "ev_value_histogram",
    oracle=f"""
SELECT LEAST(GREATEST(CAST(FLOOR(value / {_HIST_WIDTH}.0) AS BIGINT), 0),
             {_HIST_BINS - 1}) AS bucket,
       CAST(LEAST(GREATEST(CAST(FLOOR(value / {_HIST_WIDTH}.0) AS BIGINT), 0),
             {_HIST_BINS - 1}) * {_HIST_WIDTH} AS BIGINT) AS lo,
       CAST((LEAST(GREATEST(CAST(FLOOR(value / {_HIST_WIDTH}.0) AS BIGINT), 0),
             {_HIST_BINS - 1}) + 1) * {_HIST_WIDTH} AS BIGINT) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(CAST(value AS DECIMAL(18,8))), 4)::DOUBLE AS sum_value
FROM events
WHERE event_type = 'purchase' AND value IS NOT NULL
GROUP BY 1, 2, 3
""",
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of purchase values: {b} buckets of width
    {w}, top bucket clamped (absorbs overflow — its ``hi`` is the
    nominal edge, documented). The profiling primitive every feature
    pipeline runs before choosing clips/normalization. Bucket id is
    FLOOR of an IEEE double division — bit-identical in both engines,
    no rounding guard needed; the value sum is exact DECIMAL with one
    final display round.

    Scale: a single partial-aggregatable groupBy on a {b}-value key —
    map-side combine collapses each task to <= {b} rows, the shuffle
    is trivially tiny, and the distinct-user leg rides the same
    2-level aggregate Catalyst already plans for COUNT(DISTINCT)."""
    events = _events(spark, sf_dir)
    bucket = F.least(
        F.greatest(
            F.floor(F.col("value") / float(_HIST_WIDTH)).cast("bigint"), F.lit(0)
        ),
        F.lit(_HIST_BINS - 1),
    )
    return (
        events.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select("user_id", "value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,8)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "bucket",
            (F.col("bucket") * _HIST_WIDTH).cast("bigint").alias("lo"),
            ((F.col("bucket") + 1) * _HIST_WIDTH).cast("bigint").alias("hi"),
            "n",
            "n_users",
            "sum_value",
        )
    )


ev_value_histogram.__doc__ = ev_value_histogram.__doc__.format(
    b=_HIST_BINS, w=_HIST_WIDTH
)


# ---------------------------------------------------------------------------
# Per-key autocorrelation at fixed lags (time-series diagnostics)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3)


def _acf_oracle() -> str:
    lead_cols = ",\n         ".join(
        f"LEAD(x, {k}) OVER w AS y{k}" for k in _ACF_LAGS
    )
    moment_cols = ",\n         ".join(
        f"""CAST(COUNT(y{k}) AS HUGEINT) AS c{k},
         SUM(CASE WHEN y{k} IS NOT NULL THEN x END) AS sxl{k},
         SUM(y{k}) AS sy{k},
         SUM(x * y{k}) AS sxy{k}"""
        for k in _ACF_LAGS
    )
    acf_cols = ",\n       ".join(
        f"""CASE WHEN n * sxx - sx * sx > 0 THEN
         ROUND(CAST(n * n * sxy{k} - n * sx * (sxl{k} + sy{k})
                    + c{k} * sx * sx AS DOUBLE)
               / CAST(n * n * sxx - n * sx * sx AS DOUBLE), 6)
       END AS acf_lag{k}"""
        for k in _ACF_LAGS
    )
    return f"""
WITH q AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(value * 1000000 + 0.5) AS HUGEINT) AS x
  FROM events
),
led AS (
  SELECT user_id, x,
         {lead_cols}
  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
  SELECT user_id,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx,
         SUM(x * x) AS sxx,
         {moment_cols}
  FROM led GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       {acf_cols}
FROM m WHERE n >= {max(_ACF_LAGS) + 1}
"""


@register("ev_acf_lags", oracle=_acf_oracle())
def ev_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each user's value series at lags
    1..{kmax} — the time-series diagnostic behind seasonality checks,
    anomaly-detector tuning, and "is this signal white noise?" gates
    on sensor/event feeds. Estimator: the standard full-mean form
    r_k = sum_t (x_t - mean)(x_t+k - mean) / sum_t (x_t - mean)^2,
    assembled from EXACT integer moments (micro-quantized values, the
    ``agg_corr_price_quantity`` discipline): LEAD(x, k) over the
    per-user (ts, event_id) order gives the pair sums, and the
    rational identity n^2*num = n^2*Sxy_k - n*Sx*(Sxl_k + Sy_k) +
    c_k*Sx^2 keeps everything in DECIMAL/HUGEINT until ONE final
    double division per lag, so both engines divide identical
    integers (built-in float accumulation order never enters).
    Constant series (zero variance) yield NULL, matching on both
    sides.

    Scale shape: one shuffle to sort each user's series (the window),
    then a partial-aggregatable groupBy on the SAME user_id
    partitioning — Catalyst reuses the exchange, so the whole query
    is a single repartition of the fact table no matter the lag
    count; per-user state is ~4 integers per lag. Skewed users cost
    one long sorted run each (the ev_sessionize_salted treatment
    applies unchanged if a key dominates)."""
    events = _events(spark, sf_dir)
    x = F.floor(F.col("value") * 1000000 + 0.5).cast("decimal(38,0)")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = events.select("user_id", "ts", "event_id", x.alias("x"))
    led = q.select(
        "user_id",
        "x",
        *[F.lead("x", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    aggs = [
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ]
    for k in _ACF_LAGS:
        yk = F.col(f"y{k}")
        aggs += [
            F.count(yk).cast("decimal(38,0)").alias(f"c{k}"),
            F.sum(F.when(yk.isNotNull(), F.col("x"))).alias(f"sxl{k}"),
            F.sum(yk).alias(f"sy{k}"),
            F.sum(F.col("x") * yk).alias(f"sxy{k}"),
        ]
    m = led.groupBy("user_id").agg(*aggs).filter(
        F.col("n") >= max(_ACF_LAGS) + 1
    )
    n, sx = F.col("n"), F.col("sx")
    den = (n * n * F.col("sxx") - n * sx * sx).cast("double")
    out_cols = ["user_id", n.cast("long").alias("n_events")]
    for k in _ACF_LAGS:
        num = (
            n * n * F.col(f"sxy{k}")
            - n * sx * (F.col(f"sxl{k}") + F.col(f"sy{k}"))
            + F.col(f"c{k}") * sx * sx
        ).cast("double")
        out_cols.append(F.when(den > 0, F.round(num / den, 6)).alias(f"acf_lag{k}"))
    return m.select(*out_cols)


ev_acf_lags.__doc__ = ev_acf_lags.__doc__.format(kmax=max(_ACF_LAGS))


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (one-pass resampling at scale)
# ---------------------------------------------------------------------------

_BOOT_B = 40

#: cumulative Poisson(1) CDF in exact 2^52 units — u < _BOOT_T[k] means
#: the resample weight is k; beyond the last cutoff the weight caps at
#: len(_BOOT_T) = 9 (P < 1.2e-6). The SAME integer literals are
#: embedded in the Spark builder and the oracle, so weight assignment
#: is an exact integer comparison on both engines.
_BOOT_T = [
    1656781714176974,
    3313563428353948,
    4141954285442435,
    4418084571138597,
    4487117142562638,
    4500923656847446,
    4503224742561580,
    4503553469092171,
    4503594559908495,
]


def _boot_oracle() -> str:
    w_sql = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_T
    )
    return f"""
WITH ex AS (
  SELECT CAST(e.event_id AS VARCHAR) AS eid,
         CAST(FLOOR(e.value * 1000000 + 0.5) AS HUGEINT) AS x,
         b.b
  FROM events e CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
),
uw AS (
  SELECT b, x,
         ('0x' || substr(md5(eid || '-' || CAST(b AS VARCHAR)), 1, 13))::BIGINT AS u
  FROM ex
),
wtd AS (SELECT b, x, {w_sql} AS w FROM uw),
per_b AS (
  SELECT b,
         SUM(CAST(w AS HUGEINT) * x) AS s,
         CAST(SUM(w) AS HUGEINT) AS wt,
         SUM(x) AS t,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM wtd GROUP BY b
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       ROUND(CAST(MAX(t) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 1000000.0), 6)
         AS point_mean,
       ROUND(list_extract(list_sort(
               list(CAST(s AS DOUBLE) / (CAST(wt AS DOUBLE) * 1000000.0))), 2), 6)
         AS boot_lo,
       ROUND(list_extract(list_sort(
               list(CAST(s AS DOUBLE) / (CAST(wt AS DOUBLE) * 1000000.0))),
             {_BOOT_B - 1}), 6) AS boot_hi
FROM per_b
"""


@register("a15_bootstrap_poisson_ci", oracle=_boot_oracle())
def a15_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean event value via the
    POISSON BOOTSTRAP — the resampling scheme that actually works on
    distributed data: instead of drawing n rows with replacement
    (which needs global coordination), each row independently receives
    a Poisson(1) count in each of {B} resamples, and all {B} weighted
    means come out of ONE scan + ONE {B}-group aggregate. The interval
    is the central order-statistic band of the resample means (2nd and
    {B1}th of {B} sorted means = a 95% percentile interval at 2.5% per
    tail).

    Determinism discipline: the per-(row, resample) weight derives
    from md5(event_id '-' b) — the first 13 hex chars are an exact
    integer in [0, 2^52), compared against the SAME embedded integer
    Poisson-CDF cutoffs on both engines (no RNG, no float compare);
    micro-quantized values keep every resample sum an exact
    DECIMAL/HUGEINT, so the {B} means are identical doubles on both
    sides before the display round.

    Scale: the explode is a constant {B}× fan-out that never shuffles
    (weights are computed where the row lives); the aggregate
    map-side-combines to {B} rows of 3 integers per partition; the
    final order statistics sort {B} numbers. Total cost = one pass,
    independent of cluster size — the reason Poisson bootstrap
    replaced classical resampling for terabyte-scale error bars."""
    tune(spark)
    # widen=True: the {B}× hash fan-out below is pure map work BEFORE
    # the first exchange — on a narrow single-row-group file it would
    # run on ONE task ({B}·n md5s single-threaded); the probe-gated
    # repartition spreads it across the cores and is a no-op at scale
    # (guide §2.5 input skew). Measured r16: 6.3 s → see
    # OPTIMIZATION_r16.md.
    events = load(spark, sf_dir, "events", widen=True)
    x = F.floor(F.col("value") * 1000000 + 0.5).cast("decimal(38,0)")
    ex = events.select(
        F.col("event_id").cast("string").alias("eid"), x.alias("x")
    ).select(
        "eid", "x",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("-", F.col("eid"), F.col("b"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    w_expr = None
    for t in _BOOT_T:
        term = (u >= F.lit(t)).cast("int")
        w_expr = term if w_expr is None else w_expr + term
    per_b = (
        ex.select("b", "x", w_expr.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("x")).alias("s"),
            F.sum("w").cast("decimal(38,0)").alias("wt"),
            F.sum("x").alias("t"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        )
    )
    mean_b = F.col("s").cast("double") / (F.col("wt").cast("double") * 1000000.0)
    sorted_means = F.sort_array(F.collect_list(mean_b))
    return per_b.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.round(
            F.max("t").cast("double") / (F.max("n").cast("double") * 1000000.0), 6
        ).alias("point_mean"),
        F.round(F.element_at(sorted_means, 2), 6).alias("boot_lo"),
        F.round(F.element_at(sorted_means, _BOOT_B - 1), 6).alias("boot_hi"),
    )


a15_bootstrap_poisson_ci.__doc__ = a15_bootstrap_poisson_ci.__doc__.format(
    B=_BOOT_B, B1=_BOOT_B - 1
)


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly flags (hour-of-day profile, exact moments)
# ---------------------------------------------------------------------------

_SEASONAL_Z = 3


def _seasonal_oracle() -> str:
    return f"""
WITH q AS (
  SELECT event_id, event_type, hour(ts) AS hod,
         CAST(FLOOR(value * 1000000 + 0.5) AS HUGEINT) AS x
  FROM events
),
base AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx,
         SUM(x * x) AS sxx
  FROM q GROUP BY event_type, hod
)
SELECT q.event_id, q.event_type, CAST(q.hod AS BIGINT) AS hod,
       ROUND(CAST(b.n * q.x - b.sx AS DOUBLE)
             / sqrt(CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE)), 6) AS z
FROM q JOIN base b ON b.event_type = q.event_type AND b.hod = q.hod
WHERE b.n * b.sxx - b.sx * b.sx > 0
  AND ABS(CAST(b.n * q.x - b.sx AS DOUBLE)
          / sqrt(CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE))) > {_SEASONAL_Z}
"""


@register("ev_seasonal_baseline_zscore", oracle=_seasonal_oracle())
def ev_seasonal_baseline_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile anomaly detection: every event is z-scored
    against the (event_type, hour-of-day) baseline — the standard
    time-of-day-aware alternative to a global threshold (traffic at
    3am is compared to other 3am traffic, so diurnal swing is not an
    anomaly). Flags |z| > {z}.

    Exact-moment discipline: per-cell (n, Σx, Σx²) on micro-quantized
    values make the identity z = (n·x − Σx) / sqrt(n·Σx² − (Σx)²) an
    integer rational under ONE sqrt — both engines divide identical
    integers, the quantization scale cancels, and zero-variance cells
    are excluded exactly. Unlike the rolling-window MAD flags
    (``ev_rolling_mad_outliers``), the baseline here is the GLOBAL
    per-cell profile — two complementary anomaly lenses.

    Scale: the baseline is a partial-aggregatable groupBy collapsing
    to ≤ |types|×24 rows of 3 integers — broadcast back onto the fact
    scan, so the whole query is one map-side-combined pass plus a
    broadcast hash join; no window, no repartition of the fact
    table."""
    events = _events(spark, sf_dir)
    q = events.select(
        "event_id",
        "event_type",
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("decimal(38,0)").alias("x"),
    )
    base = q.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    j = q.join(F.broadcast(base), ["event_type", "hod"])
    num = (F.col("n") * F.col("x") - F.col("sx")).cast("double")
    den2 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    z = num / F.sqrt(den2)
    return (
        j.filter((den2 > 0) & (F.abs(z) > _SEASONAL_Z))
        .select(
            "event_id",
            "event_type",
            F.col("hod").cast("long").alias("hod"),
            F.round(z, 6).alias("z"),
        )
    )


ev_seasonal_baseline_zscore.__doc__ = ev_seasonal_baseline_zscore.__doc__.format(
    z=_SEASONAL_Z
)


# ---------------------------------------------------------------------------
# Funnel conversion-latency histogram (exact-integer minute buckets)
# ---------------------------------------------------------------------------

_LAT_BIN_MIN = 60
_LAT_BINS = 48


@register(
    "ev_conversion_latency_histogram",
    oracle=f"""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
lat AS (
  SELECT v.user_id,
         CAST(epoch_ms(p.t_purchase) - epoch_ms(v.t_view) AS BIGINT) AS ms
  FROM v JOIN c ON c.user_id = v.user_id JOIN p ON p.user_id = v.user_id
)
SELECT bin,
       bin * {_LAT_BIN_MIN} AS lo_min,
       (bin + 1) * {_LAT_BIN_MIN} AS hi_min,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM (
  SELECT LEAST(ms // ({_LAT_BIN_MIN} * 60000), {_LAT_BINS - 1}) AS bin
  FROM lat
) GROUP BY bin
""",
)
def ev_conversion_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion-latency distribution — for every user who
    completed the ordered view → click → purchase funnel
    (``ev_funnel_conversion``'s stage semantics: each stage's FIRST
    event strictly after the prior stage's first), the view→purchase
    latency bucketed into {w}-minute bins (capped at {b}) — the "how
    long does conversion take" histogram product teams watch next to
    the conversion rate itself.

    Determinism: latencies are exact epoch-millisecond differences and
    bin assignment is integer division — no float touches the
    pipeline; the histogram rows are exact counts.

    Scale: three per-stage groupBys (each partial-aggregatable, keyed
    on user) joined user-to-user — the same shuffle the funnel query
    already prices — then a {b}-key aggregate whose shuffle is the bin
    count per partition. The per-user latency frame is the reusable
    intermediate: p50/p90 quantile summaries (KLL, a11's sketch) ride
    the same frame at no extra pass."""
    events = _events(spark, sf_dir)
    # same frontier materialization as ev_funnel_conversion (v feeds
    # the click stage AND the latency join, c the purchase stage AND
    # the latency join): without it each consumer replans the events
    # scan — 12 scans of the raw stream instead of 3 (one per stage)
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(materialize)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(materialize)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select(
            (F.unix_millis("t_purchase") - F.unix_millis("t_view")).alias("ms")
        )
    )
    bin_col = F.least(
        F.expr(f"ms DIV ({_LAT_BIN_MIN} * 60000)"), F.lit(_LAT_BINS - 1)
    )
    return (
        lat.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            "bin",
            (F.col("bin") * _LAT_BIN_MIN).alias("lo_min"),
            ((F.col("bin") + 1) * _LAT_BIN_MIN).alias("hi_min"),
            "n_users",
        )
    )


ev_conversion_latency_histogram.__doc__ = (
    ev_conversion_latency_histogram.__doc__.format(w=_LAT_BIN_MIN, b=_LAT_BINS)
)


# ---------------------------------------------------------------------------
# DDSketch-style relative-error quantiles (mergeable log buckets)
# ---------------------------------------------------------------------------

#: alpha = 0.01 -> gamma = 1.01/0.99; BOTH constants embedded as the
#: same literals on both engines (the teleport-constant lesson)
_DD_GAMMA = 1.02020202020202
_DD_LN_GAMMA = 0.020000666706669435
#: DDSketch guarantees <= alpha relative error vs the rank item; the
#: check allows 3% vs the INTERPOLATED exact quantile (rank-vs-
#: interpolation adds sub-alpha slack at these counts)
_DD_TOL = 0.03
_DD_QS = (50, 95, 99)


def _dd_oracle() -> str:
    b_ctes = ",\n".join(
        f"""b{q} AS (
  SELECT event_type, MIN(bucket) AS b FROM cum
  WHERE cum >= CEIL((total * {q}) / 100.0) GROUP BY event_type
)"""
        for q in _DD_QS
    )
    exact = ",\n       ".join(
        f"ROUND(quantile_cont(value, 0.{q}), 4) AS exact_p{q}" for q in _DD_QS
    )
    flags = ",\n       ".join(
        f"""(ROUND(ABS(2.0 * POWER({_DD_GAMMA!r}, b{q}.b) / ({_DD_GAMMA!r} + 1.0)
             - e.exact_p{q}), 6) <= ROUND({_DD_TOL!r} * e.exact_p{q}, 6))
         AS p{q}_within_3pct"""
        for q in _DD_QS
    )
    joins = " ".join(
        f"JOIN b{q} ON b{q}.event_type = e.event_type" for q in _DD_QS
    )
    return f"""
WITH pos AS (
  SELECT event_type, value,
         CAST(CEIL(ln(value) / {_DD_LN_GAMMA!r}) AS BIGINT) AS bucket
  FROM events WHERE value > 0
),
hist AS (
  SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM pos GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM hist
),
{b_ctes},
exact AS (
  SELECT event_type, {exact}
  FROM pos GROUP BY event_type
)
SELECT e.event_type,
       {", ".join(f"e.exact_p{q}" for q in _DD_QS)},
       {flags}
FROM exact e {joins}
"""


@register("a16_ddsketch_quantiles", oracle=_dd_oracle())
def a16_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style quantiles, self-verified — the RELATIVE-error
    quantile sketch (log-γ buckets: bucket(v) = ceil(ln v / ln γ),
    γ=(1+α)/(1−α), α=1%): per event type the query builds the bucket
    histogram, reads p50/p95/p99 as the bucket where the cumulative
    count crosses ceil(q·n) (estimate 2γ^i/(γ+1), the bucket
    midpoint), and asserts each estimate lands within {t}% of the
    exact interpolated quantile. Unlike the a5/a6 TRUE-literal
    discipline, the oracle REPLAYS the whole sketch (buckets, rank
    crossing, midpoint, tolerance) in SQL, so the within-bounds flags
    hash-match at every scale factor — at smoke scale the p95 gap
    legitimately exceeds 3% and BOTH engines say so. Vs the rank-error KLL (a11): DDSketch's guarantee is
    RELATIVE to the VALUE, so tail quantiles of heavy-tailed
    latencies (p99 of a distribution spanning decades) keep 1%
    accuracy where rank sketches blur — which is why it is the
    standard for latency SLOs.

    Mergeability at 100 TB: the state is (bucket → count) integer
    pairs, ~ln(max/min)/ln γ ≈ a few hundred buckets per group at ANY
    row count — shards union and re-sum exactly like the PSI/Benford
    monitor folds (a streaming twin is the same fold_version shape).
    Determinism: bucket indices are ceil of IEEE-identical doubles
    over shared literals; counts are exact integers; only the
    TOLERANCE BOOLEAN consumes γ^i (pow's last-ulp engine drift is
    6 orders below the 3% gate)."""
    events = _events(spark, sf_dir)
    from pyspark.sql.window import Window

    pos = events.filter(F.col("value") > 0).select(
        "event_type",
        F.ceil(F.log(F.col("value")) / F.lit(_DD_LN_GAMMA))
        .cast("long")
        .alias("bucket"),
        "value",
    )
    hist = pos.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    cum = hist.select(
        "event_type",
        "bucket",
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    est_cols = []
    for q in _DD_QS:
        hit = (
            cum.filter(F.col("cum") >= F.ceil(F.col("total") * q / 100.0))
            .groupBy("event_type")
            .agg(F.min("bucket").alias(f"b{q}"))
        )
        est_cols.append(hit)
    exact = pos.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, 0.{q})"), 4).alias(f"exact_p{q}")
            for q in _DD_QS
        ]
    )
    out = exact
    for q, hit in zip(_DD_QS, est_cols):
        out = out.join(hit, "event_type")
    sel = ["event_type"] + [F.col(f"exact_p{q}") for q in _DD_QS]
    for q in _DD_QS:
        est = (
            2.0
            * F.pow(F.lit(_DD_GAMMA), F.col(f"b{q}"))
            / (F.lit(_DD_GAMMA) + 1.0)
        )
        # both comparison operands rounded to 6 digits on BOTH engines:
        # pow/percentile ulp drift between engines could otherwise flip
        # a flag for a gap sitting exactly at the 3% gate (r13 ADVICE)
        sel.append(
            (
                F.round(F.abs(est - F.col(f"exact_p{q}")), 6)
                <= F.round(F.lit(_DD_TOL) * F.col(f"exact_p{q}"), 6)
            ).alias(f"p{q}_within_3pct")
        )
    return out.select(*sel)


a16_ddsketch_quantiles.__doc__ = a16_ddsketch_quantiles.__doc__.format(
    t=int(_DD_TOL * 100)
)


# ---------------------------------------------------------------------------
# Chi-squared categorical drift (the CATEGORY member of the drift suite)
# ---------------------------------------------------------------------------

def chi2_category_counts(events_df: DataFrame) -> DataFrame:
    """THE mergeable chi² state form — per-category ref/cur counts,
    ref = before the shared a8/PSI increment boundary. One definition
    feeds the batch query, the streaming fold (``streaming/chi2.py``)
    and its read, so the category key or the split boundary can never
    drift between the oracle-checked query and the standing monitor
    (the ``ks_value_counts`` discipline)."""
    return (
        events_df.select(
            "event_type",
            (F.unix_millis("ts") < F.lit(_PSI_SPLIT_MS)).alias("is_ref"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_cur"),
        )
    )


def chi2_table_from_counts(cnt: DataFrame) -> DataFrame:
    """The chi² drift table from folded (category, ref/cur) counts —
    the read side shared by the batch query and the standing monitor.
    See ``dq_chi2_drift`` for the smoothing and determinism rules."""
    tot = cnt.agg(
        F.sum("n_ref").alias("tr"),
        F.sum("n_cur").alias("tc"),
        F.count(F.lit(1)).alias("k"),
    )
    expected = (
        (F.col("n_ref") + 1).cast("double")
        * (F.col("tc") + F.col("k"))
        / (F.col("tr") + F.col("k"))
    )
    observed = (F.col("n_cur") + 1).cast("double")
    return cnt.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round(
            (observed - expected) * (observed - expected) / expected, 6
        ).alias("chi2_part"),
    )


@register(
    "dq_chi2_drift",
    oracle=f"""
WITH split AS (
  SELECT event_type,
         CAST(epoch_ms(ts) AS BIGINT) < {_PSI_SPLIT_MS} AS is_ref
  FROM events
),
cnt AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM split GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cnt
)
SELECT event_type, n_ref, n_cur,
       ROUND(
         (CAST(n_cur + 1 AS DOUBLE)
          - CAST(n_ref + 1 AS DOUBLE) * (tc + k) / (tr + k))
         * (CAST(n_cur + 1 AS DOUBLE)
            - CAST(n_ref + 1 AS DOUBLE) * (tc + k) / (tr + k))
         / (CAST(n_ref + 1 AS DOUBLE) * (tc + k) / (tr + k)), 6)
         AS chi2_part
FROM cnt CROSS JOIN tot
""",
)
def dq_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared drift over the EVENT-TYPE distribution —
    the categorical member of the drift suite (PSI = banded values,
    KS = continuous values, chi² = categories): the category mix
    before the shared a8/PSI boundary is the expected distribution,
    and each category reports its (observed − expected)²/expected
    contribution against the current window, Laplace-smoothed
    ((n+1)-counts, totals +k) so a category absent from one side
    neither divides by zero nor saturates. Per-category rows avoid
    any engine-ordered summation (the dq_psi_drift discipline); the
    smoothed expectation is one fixed expression tree of exact
    integers — multiply-then-divide in the same order on both
    engines — and the output edge rounds to 6.

    Scale: one partial-aggregatable groupBy keyed on the category
    (k rows of network) + a broadcast 1-row totals frame — a
    metadata-priced standing monitor, like its PSI/KS siblings. The
    standing twin (``streaming/chi2.py``) folds the same mergeable
    (category, side) integer counts per micro-batch and derives this
    exact table at read time — both sides call the SAME
    ``chi2_category_counts`` / ``chi2_table_from_counts``
    definitions, so the split boundary and smoothing can never drift
    between the oracle-checked query and the monitor."""
    events = _events(spark, sf_dir)
    return chi2_table_from_counts(chi2_category_counts(events))
