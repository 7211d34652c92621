"""IoT-shaped validation at the reference's VERBATIM constants.

The other validation queries adapt rule constants to the events fixture's
value range (documented in queries/validation.py).  This module closes the
loop: it derives a reference-shaped WIRE-FORMAT reading
table — all fields strings, like JSON off Kafka — deterministically from the
events fixture, injects the reference generator's issue taxonomy
(data_generator/generator.py:176-533) via event_id buckets, and validates it
with functions/validation.py's untouched constants:

    VALUE_RANGES      temperature -50..50, humidity 0..100, energy 0..10,
                      signal -150..0, battery 0..100   (validation_consumer.py:68-74)
    SENSOR_ID_PATTERN ^SENSOR_[A-Z]{3}_\\d{3}$          (validation_consumer.py:263)
    is_fresh          <= 5 minutes, not future          (validation_consumer.py:284-321)
    NULL_STRINGS      'null','none','n/a',''            (validation_consumer.py:232,347)

Because the derivation is pure column arithmetic, the DuckDB oracle rebuilds
the identical dirty table and applies the identical rules — the whole
fixture+rules pipeline is value-hash-checked, no fixture files needed.

All wire numerics are INTEGER-valued strings (derived via floor/%), so both
engines render identical text; decimal and garbage strings enter only as
injected literals.  Rule null-semantics follow the reference exactly:
types: any non-null value that float() rejects fails (incl. 'N/A');
ranges: nulls, null-strings and non-coercibles are skipped
(validation_consumer.py:159-245).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.validation import (
    NULL_STRINGS,
    SENSOR_ID_PATTERN,
    VALUE_RANGES,
    failure_reasons,
    in_range,
    is_fresh,
    is_null_or_null_string,
    matches_sensor_id,
    numeric_coercible,
)
from ..registry import register
from ..sources import load_table

# 15 city codes (generator.py:49-65 has 15 Indian cities; codes, not names,
# to keep the sensor-id grammar SENSOR_{CITY3}_{NNN} — generator.py:103-105)
CITIES = (
    "DEL", "MUM", "BLR", "CHE", "KOL", "HYD", "PUN", "AHM",
    "JAI", "LKO", "SUR", "KAN", "NAG", "IND", "BHO",
)
NOW = "2024-01-31 00:00:00"  # pinned 'now' (max events.ts + ~1h); SURVEY §4.4-3
MAX_AGE_SECONDS = 300  # validation_consumer.py default 5 minutes
N_BUCKETS = 40  # event_id % 40 -> buckets 0..15 dirty, rest clean

_CITY_LIST_SQL = "[" + ", ".join(f"'{c}'" for c in CITIES) + "]"
_NULLSTR_SQL = ", ".join(f"'{s}'" for s in NULL_STRINGS)

# ---------------------------------------------------------------------------
# Wire-table derivation — Spark
# ---------------------------------------------------------------------------


def _wire_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wire_from_events(load_table(spark, sf_dir, "events"))


def _wire_from_events(ev: DataFrame) -> DataFrame:
    t_i = F.floor("value").cast("long")
    city = F.element_at(
        F.array(*[F.lit(c) for c in CITIES]), (F.col("user_id") % 15).cast("int") + 1
    )
    # Gate on NULL explicitly: Spark's format_string renders a NULL arg as
    # the string 'null' (Java Formatter) while DuckDB's printf returns NULL —
    # without this the two engines would derive different wire rows the day
    # a fixture carries a NULL user_id.
    sensor0 = F.when(F.col("user_id").isNull(), F.lit(None).cast("string")).otherwise(
        F.format_string("SENSOR_%s_%03d", city, (F.col("user_id") % 100).cast("int"))
    )
    ts0 = F.date_format(
        F.expr(f"timestampadd(SECOND, -cast(floor(value) as int) % 240, "
               f"TIMESTAMP_NTZ '{NOW}')"),
        "yyyy-MM-dd'T'HH:mm:ss",
    )
    b = (F.col("event_id") % N_BUCKETS).cast("int")

    def s(c: Column) -> Column:
        return c.cast("string")

    base = ev.select(
        "event_id",
        b.alias("b"),
        sensor0.alias("sensor0"),
        s(t_i % 101 - 50).alias("temp0"),
        s(t_i % 101).alias("hum0"),
        s(t_i % 11).alias("energy0"),
        s(-(t_i % 151)).alias("signal0"),
        s((t_i * 3) % 101).alias("battery0"),
        ts0.alias("ts0"),
    )
    bb = F.col("b")
    return base.select(
        "event_id",
        F.when(bb == 9, F.lit(None).cast("string"))
        .when(bb == 10, F.lower("sensor0"))
        .when(bb == 11, F.concat(F.lit("  "), F.col("sensor0"), F.lit(" ")))
        .otherwise(F.col("sensor0"))
        .alias("sensor_id"),
        F.when(bb == 0, F.lit("999.9"))
        .when(bb == 1, F.lit("-77.7"))
        .when(bb == 6, F.lit("not_a_number"))
        .when(bb == 8, F.lit(None).cast("string"))
        .otherwise(F.col("temp0"))
        .alias("temperature"),
        F.when(bb == 2, F.lit("150.5"))
        .when(bb == 7, F.lit("N/A"))
        .otherwise(F.col("hum0"))
        .alias("humidity"),
        F.when(bb == 3, F.lit("12.5")).otherwise(F.col("energy0")).alias(
            "energy_consumption"
        ),
        F.when(bb == 5, F.lit("25")).otherwise(F.col("signal0")).alias(
            "signal_strength"
        ),
        F.when(bb == 4, F.lit("250")).otherwise(F.col("battery0")).alias(
            "battery_level"
        ),
        F.when(bb == 12, F.lit(None).cast("string"))
        .when(bb == 13, F.lit("2024-01-31T01:00:00"))
        .when(bb == 14, F.lit("2024-01-29T00:00:00"))
        .when(bb == 15, F.lit("31/01/2024 00:00:00"))
        .otherwise(F.col("ts0"))
        .alias("timestamp"),
    )


# ---------------------------------------------------------------------------
# Wire-table derivation — DuckDB twin
# ---------------------------------------------------------------------------

_WIRE_SQL = f"""
    WITH base AS (
        SELECT event_id,
               CAST(event_id % {N_BUCKETS} AS INT) AS b,
               CASE WHEN user_id IS NULL THEN NULL
                    ELSE printf('SENSOR_%s_%03d',
                                {_CITY_LIST_SQL}[CAST(user_id % 15 AS INT) + 1],
                                CAST(user_id % 100 AS INT)) END AS sensor0,
               CAST(CAST(floor(value) AS BIGINT) % 101 - 50 AS VARCHAR) AS temp0,
               CAST(CAST(floor(value) AS BIGINT) % 101 AS VARCHAR) AS hum0,
               CAST(CAST(floor(value) AS BIGINT) % 11 AS VARCHAR) AS energy0,
               CAST(-(CAST(floor(value) AS BIGINT) % 151) AS VARCHAR) AS signal0,
               CAST((CAST(floor(value) AS BIGINT) * 3) % 101 AS VARCHAR) AS battery0,
               strftime(TIMESTAMP '{NOW}'
                        - (CAST(floor(value) AS INT) % 240) * INTERVAL 1 SECOND,
                        '%Y-%m-%dT%H:%M:%S') AS ts0
        FROM events
    )
    SELECT event_id,
           CASE WHEN b = 9 THEN NULL
                WHEN b = 10 THEN lower(sensor0)
                WHEN b = 11 THEN '  ' || sensor0 || ' '
                ELSE sensor0 END AS sensor_id,
           CASE WHEN b = 0 THEN '999.9'
                WHEN b = 1 THEN '-77.7'
                WHEN b = 6 THEN 'not_a_number'
                WHEN b = 8 THEN NULL
                ELSE temp0 END AS temperature,
           CASE WHEN b = 2 THEN '150.5'
                WHEN b = 7 THEN 'N/A'
                ELSE hum0 END AS humidity,
           CASE WHEN b = 3 THEN '12.5' ELSE energy0 END AS energy_consumption,
           CASE WHEN b = 5 THEN '25' ELSE signal0 END AS signal_strength,
           CASE WHEN b = 4 THEN '250' ELSE battery0 END AS battery_level,
           CASE WHEN b = 12 THEN NULL
                WHEN b = 13 THEN '2024-01-31T01:00:00'
                WHEN b = 14 THEN '2024-01-29T00:00:00'
                WHEN b = 15 THEN '31/01/2024 00:00:00'
                ELSE ts0 END AS "timestamp"
    FROM base
"""

# rule conditions in DuckDB, generated from the SAME constants the Spark
# side imports, so the two rule sets cannot drift
_MISS_SQL = (
    lambda c: f'("{c}" IS NULL OR lower(trim("{c}")) IN ({_NULLSTR_SQL}))'
)
_BADTYPE_SQL = (
    lambda c: f'("{c}" IS NOT NULL AND TRY_CAST("{c}" AS DOUBLE) IS NULL)'
)


def _range_sql(c: str) -> str:
    lo, hi = VALUE_RANGES[c]
    return (
        f'(TRY_CAST("{c}" AS DOUBLE) IS NOT NULL '
        f'AND NOT (TRY_CAST("{c}" AS DOUBLE) BETWEEN {lo} AND {hi}))'
    )


_PARSED_TS = 'TRY_CAST("timestamp" AS TIMESTAMP)'
# both freshness conditions compare via epoch(): DuckDB 1.0 constant-folds
# `TRY_CAST(varchar_col AS TIMESTAMP) <= TIMESTAMP '...'` into a VARCHAR
# comparison of the raw string ('T' > ' '), silently inverting the result
_FRESH_FAIL_SQL = (
    f"({_PARSED_TS} IS NOT NULL AND NOT ("
    f"epoch({_PARSED_TS}) <= epoch(TIMESTAMP '{NOW}') "
    f"AND epoch(TIMESTAMP '{NOW}') - epoch({_PARSED_TS}) <= {MAX_AGE_SECONDS}))"
)

_IOT_RULES_SQL = f"""
    [CASE WHEN {_MISS_SQL("sensor_id")} THEN 'missing:sensor_id' END,
     CASE WHEN {_MISS_SQL("temperature")} THEN 'missing:temperature' END,
     CASE WHEN {_MISS_SQL("timestamp")} THEN 'missing:timestamp' END,
     CASE WHEN {_BADTYPE_SQL("temperature")} THEN 'bad_type:temperature' END,
     CASE WHEN {_BADTYPE_SQL("humidity")} THEN 'bad_type:humidity' END,
     CASE WHEN {_BADTYPE_SQL("energy_consumption")} THEN 'bad_type:energy_consumption' END,
     CASE WHEN {_BADTYPE_SQL("signal_strength")} THEN 'bad_type:signal_strength' END,
     CASE WHEN {_BADTYPE_SQL("battery_level")} THEN 'bad_type:battery_level' END,
     CASE WHEN "timestamp" IS NOT NULL AND {_PARSED_TS} IS NULL
          THEN 'bad_type:timestamp' END,
     CASE WHEN NOT {_MISS_SQL("sensor_id")}
            AND NOT regexp_matches(trim(sensor_id), '{SENSOR_ID_PATTERN}')
          THEN 'bad_format:sensor_id' END,
     CASE WHEN {_range_sql("temperature")} THEN 'out_of_range:temperature' END,
     CASE WHEN {_range_sql("humidity")} THEN 'out_of_range:humidity' END,
     CASE WHEN {_range_sql("energy_consumption")} THEN 'out_of_range:energy_consumption' END,
     CASE WHEN {_range_sql("signal_strength")} THEN 'out_of_range:signal_strength' END,
     CASE WHEN {_range_sql("battery_level")} THEN 'out_of_range:battery_level' END,
     CASE WHEN {_FRESH_FAIL_SQL} THEN 'stale_or_future:timestamp' END]
"""
_IOT_NFAIL = f"len(list_filter({_IOT_RULES_SQL}, x -> x IS NOT NULL))"
_IOT_REASONS = (
    f"coalesce(array_to_string("
    f"list_filter({_IOT_RULES_SQL}, x -> x IS NOT NULL), ';'), '')"
)


def _iot_rules(parsed_ts: Column, now: Column) -> list[tuple[str, Column]]:
    """The Spark rule list — every predicate comes from
    functions/validation.py with its constants untouched."""
    numeric_fields = (
        "temperature",
        "humidity",
        "energy_consumption",
        "signal_strength",
        "battery_level",
    )
    rules: list[tuple[str, Column]] = [
        ("missing:sensor_id", is_null_or_null_string(F.col("sensor_id"))),
        ("missing:temperature", is_null_or_null_string(F.col("temperature"))),
        ("missing:timestamp", is_null_or_null_string(F.col("timestamp"))),
    ]
    for f in numeric_fields:
        rules.append(
            (f"bad_type:{f}", F.col(f).isNotNull() & ~numeric_coercible(F.col(f)))
        )
    rules.append(
        ("bad_type:timestamp", F.col("timestamp").isNotNull() & parsed_ts.isNull())
    )
    rules.append(
        (
            "bad_format:sensor_id",
            ~is_null_or_null_string(F.col("sensor_id"))
            & ~matches_sensor_id(F.col("sensor_id")),
        )
    )
    for f in numeric_fields:
        rules.append((f"out_of_range:{f}", ~in_range(F.col(f), f)))
    rules.append(
        (
            "stale_or_future:timestamp",
            parsed_ts.isNotNull() & ~is_fresh(parsed_ts, now, MAX_AGE_SECONDS),
        )
    )
    return rules


@register(
    "q_validate_iot",
    oracle=f"""
    WITH wire AS ({_WIRE_SQL})
    SELECT event_id, sensor_id, temperature, humidity, "timestamp",
           {_IOT_REASONS} AS failure_reasons,
           {_IOT_NFAIL} AS n_failures,
           ({_IOT_NFAIL} = 0) AS is_valid
    FROM wire
    """,
)
def q_validate_iot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference validator at its real constants over reference-shaped
    dirty wire data — every rule predicate imported from
    functions/validation.py, rule order per validation_consumer.py:425-436
    (completeness -> types -> format -> ranges -> freshness).

    Scale: one projection computes all 16 rules per row inside whole-stage
    codegen — validation is embarrassingly parallel, shuffle-free, and the
    valid/DLQ split downstream reuses this single pass."""
    wire = _wire_table(spark, sf_dir)
    parsed_ts = F.expr("try_to_timestamp(`timestamp`)")
    now = F.expr(f"to_timestamp('{NOW}')")
    reasons = failure_reasons(_iot_rules(parsed_ts, now))
    return wire.select(
        "event_id",
        "sensor_id",
        "temperature",
        "humidity",
        "timestamp",
        F.array_join(reasons, ";").alias("failure_reasons"),
        F.size(reasons).alias("n_failures"),
        (F.size(reasons) == 0).alias("is_valid"),
    )
