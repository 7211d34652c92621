"""Analytic window functions — the reference's spec'd batch-feature layer
(Learning Guide.txt:1045 §4, :1071 §2-L2; SURVEY.md §2.5).

Scale posture: all window specs partition by a key (user/sensor) before
ordering, so the sort is per-partition after one hash shuffle — no global
sort.  Rolling frames use RANGE over integer day offsets (tz-proof and
identical in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fround
from ..registry import register
from ..sources import load_table
from ..sources.tables import is_large_input


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day) average — the daily grain the rolling specs read.
    d_avg is rounded once here so both engines window over identical bases;
    day is a midnight timestamp (not DATE) for pandas-conversion parity."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        fround(F.avg("value"), 4).alias("d_avg")
    )


_DAILY_SQL = """
    SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           (floor((avg(value)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS d_avg
    FROM events GROUP BY 1, 2
"""


@register(
    "q_rolling_7d",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT user_id, day, d_avg,
           (floor((avg(d_avg) OVER (
               PARTITION BY user_id
               ORDER BY datediff('day', TIMESTAMP '1970-01-01 00:00:00', day)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS rolling_7d_avg
    FROM daily
    """,
)
def q_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling average per sensor (Learning Guide.txt:1045 §4).

    RANGE frame over integer epoch-days handles gaps in the series (a missing
    day still bounds the lookback window to 7 calendar days, which a ROWS
    frame would get wrong)."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        "d_avg",
        fround(F.avg("d_avg").over(w), 4).alias("rolling_7d_avg"),
    )


@register(
    "q_rolling_median",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT user_id, day, d_avg,
           (floor((median(d_avg) OVER (
               PARTITION BY user_id
               ORDER BY datediff('day', TIMESTAMP '1970-01-01 00:00:00', day)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS rolling_7d_median
    FROM daily
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN per sensor — the robust-smoothing companion of
    q_rolling_7d: one bad day (a stuck sensor, a unit spike) drags a
    rolling mean for a full week but moves the median not at all, so
    anomaly gates built on the median baseline don't blind themselves
    right after the event they should flag.  Same RANGE frame over
    integer epoch-days as the mean (calendar-bounded lookback across
    series gaps); exact continuous median (both engines interpolate the
    even-count midpoint) over the shared 4-dp daily grain.

    Spark disallows median/percentile over a framed window
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame's values are
    gathered with collect_list and the exact interpolated median is read
    off the sorted array — safe here precisely because the frame is
    calendar-bounded to <=7 values (this is NOT the pattern for
    unbounded frames, where a hub's list would blow up an executor).

    Scale: the frame holds at most 7 daily values regardless of SF —
    the exact per-frame median is O(1) work on a grain that aggregates
    upstream of the window, and the window partitions by the
    high-cardinality sensor key (one hash shuffle, no global sort)."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list("d_avg").over(w))
    # collect_list drops NULLs, so a dead-sensor stretch (every d_avg in the
    # 7-day frame NULL — events.value is nullable by design, see the
    # missing:value validation tier) leaves an EMPTY frame array and
    # (size+1) div 2 = 0 would make element_at throw INVALID_INDEX_OF_ZERO.
    # DuckDB's framed median returns NULL for that row; guard to match.
    med = F.when(
        F.size("_arr") > 0,
        F.expr(
            "(element_at(_arr, cast((size(_arr) + 1) div 2 AS int)) "
            "+ element_at(_arr, cast(size(_arr) div 2 + 1 AS int))) "
            "/ cast(2 AS double)"
        ),
    )
    return (
        daily.select("user_id", "day", "d_avg", arr.alias("_arr"))
        .select(
            "user_id",
            "day",
            "d_avg",
            fround(med, 4).alias("rolling_7d_median"),
        )
    )


@register(
    "q_dod_change",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
               (floor((avg(value)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS d_avg
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT user_id, day, d_avg,
           (floor(((d_avg - lag(d_avg) OVER w) / nullif(lag(d_avg) OVER w, 0)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4)
             AS dod_pct_change
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day)
    """,
)
def q_dod_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day % change per sensor (Learning Guide.txt:1045 §4).

    NULL-timestamp rows are excluded from the day sequence: "change since
    an unknown day" is undefined, and the engines order the NULL day on
    opposite ends of the lag window (Spark NULLS FIRST ascending, DuckDB
    NULLS LAST), so totality here demands the guard on BOTH sides — the
    same r10 precedent as q_dedup_window's TimeWindow NULL-ts fix
    (tests/test_hostile_gate.py clamped-fixture parity).  The oracle
    guards ts IS NOT NULL INSIDE the aggregate CTE rather than filtering
    the date_trunc alias afterwards: DuckDB 1.0's optimizer silently
    drops a post-aggregate `day IS NOT NULL` over a date_trunc GROUP BY
    key (the row survives even though `day IS NULL` selects true)."""
    daily = _daily(spark, sf_dir).filter(F.col("day").isNotNull())
    w = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("d_avg", 1).over(w)
    return daily.select(
        "user_id",
        "day",
        "d_avg",
        fround((F.col("d_avg") - prev) / F.nullif(prev, F.lit(0)), 4).alias(
            "dod_pct_change"
        ),
    )


@register(
    "q_rank_per_group",
    oracle="""
    SELECT event_id, event_type, value,
           rank() OVER (PARTITION BY event_type ORDER BY value DESC) AS rnk,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS row_num
    FROM events
    WHERE value IS NOT NULL
    """,
)
def q_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank within group (Learning Guide.txt:1045 §4 'rank sensors by
    temperature').  row_number carries an event_id tiebreak so both engines
    agree on ties (SURVEY.md §7.4-3).

    ADAPTIVE: full-output rank over a low-cardinality group is the one window
    shape Catalyst cannot save (no rank-limit filter, so WindowGroupLimit
    can't prune).  Below ~1 GiB of input the plain window wins — the bucketed
    rewrite's extra broadcast joins cost more than the single sort (measured
    2.9x at sf0.1, round-2 vs round-1 bench).  At cluster scale the plain
    window shuffles ALL rows into #groups straggler partitions, so the
    bucketed two-phase plan takes over (is_large_input; tests pin the scale
    path via SPARK_GRAFT_SCALE_SWITCH_BYTES=0)."""
    if is_large_input(sf_dir, "events"):
        return _rank_bucketed(spark, sf_dir)
    return _rank_plain_window(spark, sf_dir)


def _rank_plain_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-window rank — optimal below the scale switch where one task
    comfortably sorts the largest group."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    w_rank = Window.partitionBy("event_type").orderBy(F.col("value").desc())
    w_local = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w_rank).cast("int").alias("rnk"),
        F.row_number().over(w_local).cast("int").alias("row_num"),
    )


def _rank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase rank over deterministic value buckets — the cluster-scale
    plan for full-output rank on a low-cardinality group:

      1. per-group (min, max) — a tiny aggregate, broadcast back;
      2. each row gets a deterministic bucket id from its value's position in
         [min, max] (bucket 0 = highest values), so equal values always share
         a bucket and bucket order == value-desc order;
      3. per-(group, bucket) counts — a tiny table (#groups x 1024) —
         prefix-summed into offsets and broadcast-joined back;
      4. row_number/rank within (group, bucket) — a HIGH-cardinality window
         — plus the bucket offset give the GLOBAL row_num and rank: every
         row in an earlier bucket has a strictly larger value (equal values
         share a bucket by construction), so offset + local rank is exact.

    The only full-data shuffle is the within-bucket window over ~5k
    partitions; every per-group serial computation happens on tiny aggregate
    tables.  (Degenerate case: a single repeated value collapses to one
    bucket — such extreme skew would need salting on a secondary column.)

    The bucket id is a pure function of the row (unlike
    spark_partition_id(), which AQE re-plans per subplan), so re-evaluating
    the plan in both the counts branch and the join branch is consistent."""
    n_buckets = 1024
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("_vmin"), F.max("value").alias("_vmax")
    )
    span = F.col("_vmax") - F.col("_vmin")
    bid = F.when(span == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.floor((F.col("_vmax") - F.col("value")) / span * n_buckets),
        )
    )
    evb = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("_bid", bid.cast("int"))
        .drop("_vmin", "_vmax")
    )
    counts = evb.groupBy("event_type", "_bid").agg(F.count("*").alias("_cnt"))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("_bid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "event_type",
        "_bid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    )
    w_local = Window.partitionBy("event_type", "_bid").orderBy(
        F.col("value").desc(), "event_id"
    )
    w_rank = Window.partitionBy("event_type", "_bid").orderBy(F.col("value").desc())
    out = evb.join(F.broadcast(offsets), ["event_type", "_bid"]).select(
        "event_id",
        "event_type",
        "value",
        (F.rank().over(w_rank) + F.col("_off")).cast("int").alias("rnk"),
        (F.row_number().over(w_local) + F.col("_off")).cast("int").alias("row_num"),
    )
    return out


@register(
    "q_topk_per_group",
    oracle="""
    SELECT event_type, event_id, value, row_num FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS row_num
        FROM events WHERE value IS NOT NULL
    ) WHERE row_num <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group ('hottest location per hour' shape).

    Scale posture — the plain rank-limited window IS the scale plan here:
    Catalyst rewrites `row_number() <= k` into WindowGroupLimit(Partial)
    BEFORE the exchange (pinned by tests/test_plans.py), so each map
    partition ships at most k rows per group and the post-shuffle window
    sees only #map-partitions x #groups x k candidates — the same
    straggler-proof shape as a hand-rolled local top-k, but sort-based and
    spillable (O(external-sort) memory, not an O(partition-size)
    collect_list buffer) and entirely inside whole-stage codegen."""
    k = 3
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return ev.withColumn("row_num", F.row_number().over(w)).filter(
        F.col("row_num") <= k
    )


@register(
    "q_zscore_flag",
    oracle="""
    SELECT event_id, user_id, value,
           (floor(((value - avg(value) OVER w) / nullif(stddev_samp(value) OVER w, 0)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4)
             AS zscore
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q_zscore_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score vs the sensor's own distribution (Learning Guide.txt:1045 §4;
    docs/architecture.md:545 'flag if |z| > 2' — the flag is derivable from
    the emitted zscore)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.nullif(
        F.stddev_samp("value").over(w), F.lit(0)
    )
    return ev.select("event_id", "user_id", "value", fround(z, 4).alias("zscore"))


@register(
    "q_sudden_change",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           value - lag(value) OVER w AS delta,
           coalesce(abs(value - lag(value) OVER w) > 10, FALSE) AS is_sudden_change
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def q_sudden_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sudden-change anomaly between consecutive readings
    (Learning Guide.txt:1058 §3: 'sudden temp change > 20°C'; threshold
    scaled to the fixture's value range)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value", 1).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        delta.alias("delta"),
        F.coalesce(F.abs(delta) > 10, F.lit(False)).alias("is_sudden_change"),
    )


@register(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(cnt) AS BIGINT) AS n,
           (floor((sum(sum_v) / sum(cnt)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS avg_value
    FROM (
        SELECT event_type, CAST(event_id % 16 AS INT) AS salt,
               count(*) AS cnt, sum(value) AS sum_v
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, CAST(event_id % 16 AS INT)
    )
    GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: salt the hot key space (16-way),
    aggregate (key, salt) partials, then combine partials per key.

    Spark's groupBy already does map-side partial aggregation, which handles
    MOST skew for algebraic aggs — explicit salting is the pattern for the
    cases partial agg can't fix (high-cardinality-state aggs like
    collect_list/distinct, or extreme single-key skew where even the merged
    partials overwhelm one reducer).  Expressed with a deterministic salt
    (event_id % 16) so the DuckDB oracle reproduces the exact partial sums;
    production uses a random salt.  The final combine shuffles only
    #keys x 16 rows.  sum/count partials recombine exactly; the avg is
    computed once at the end (sum-of-sums / sum-of-counts)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    partial = (
        ev.withColumn("salt", (F.col("event_id") % 16).cast("int"))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_v"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        fround(F.sum("sum_v") / F.sum("cnt"), 4).alias("avg_value"),
    )


@register(
    "q_city_avg_compare",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           (floor((avg(value) OVER (PARTITION BY event_type)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS group_avg,
           (floor((value - avg(value) OVER (PARTITION BY event_type)) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS diff_from_group
    FROM events
    WHERE value IS NOT NULL
    """,
)
def q_city_avg_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare each reading to its group average (Learning Guide.txt:1045 §4
    'compare sensor to city average').

    Scale posture: `event_type` is low-cardinality (~5 values; ~15 locations
    in the reference), so an analytic avg over Window.partitionBy(event_type)
    would shuffle every row into a handful of straggler partitions.  The
    scale-safe plan is groupBy(event_type).agg(avg) — map-side partial
    aggregation reduces the shuffle to #groups rows — then a broadcast join
    back onto the fact side, which never shuffles."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    gavg = ev.groupBy("event_type").agg(F.avg("value").alias("_gavg"))
    return ev.join(F.broadcast(gavg), "event_type").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        fround(F.col("_gavg"), 4).alias("group_avg"),
        fround(F.col("value") - F.col("_gavg"), 4).alias("diff_from_group"),
    )
