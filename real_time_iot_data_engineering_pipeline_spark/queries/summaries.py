"""Mergeable-summary operators: deterministic sampling, bounded-state
quantiles, HLL distinct, a declarative Bloom-filter semi-join, and a
storage-layout audit — the sketch/summary tier a 100 TB pipeline publishes
about itself, built so every output is exactly oracle-checkable.

The common design move: the SCALE path is a bounded-memory / mergeable
plan (bottom-k by hash, bin histogram + targeted second pass, bit-position
join), and determinism comes from hashing or exact recounts, never from
row order — so a DuckDB oracle can certify the result bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fround, fround_sql
from ..registry import register
from ..sources import load_table

# ---------------------------------------------------------------------------
# Deterministic uniform sample: bottom-k by MD5 (the mergeable reservoir)
# ---------------------------------------------------------------------------

SAMPLE_K = 100


@register(
    "q_bottomk_sample",
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           md5(CAST(event_id AS VARCHAR)) AS sample_hash
    FROM events
    ORDER BY sample_hash, event_id
    LIMIT {SAMPLE_K}
    """,
)
def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform {SAMPLE_K}-row sample via bottom-k-by-hash: keep the rows
    whose MD5(event_id) is smallest.  This is the distributed, DETERMINISTIC
    equivalent of reservoir sampling — the hash is an order-independent
    random tag, so the sample is uniform over rows yet reproducible across
    runs, engines, and partitionings, and bottom-k sets MERGE (union two
    samples, keep the k smallest) exactly like reservoir states.

    Scale: orderBy+limit compiles to TakeOrderedAndProject — each partition
    keeps its own k smallest (bounded memory), and only partitions x k rows
    reach the driver-side merge.  No full sort, no shuffle of the corpus."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.md5(F.col("event_id").cast("string").cast("binary")).alias(
                "sample_hash"
            ),
        )
        .orderBy("sample_hash", "event_id")
        .limit(SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Bounded-state exact quantiles: bin histogram + targeted second pass
# ---------------------------------------------------------------------------

N_BINS = 256
QUANTILE_QS = ("0.5", "0.95")

_BIN_EXPR = (
    "CASE WHEN mx = mn THEN 0 ELSE least({B} - 1, greatest(0, "
    "CAST(floor(((x - mn) / (mx - mn)) * CAST({B} AS DOUBLE)) AS BIGINT))) END"
)


@register(
    "q_quantile_bins",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS grp, l_extendedprice AS x FROM lineitem
    ),
    stats AS (
        SELECT grp, min(x) AS mn, max(x) AS mx,
               CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY grp
    ),
    qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES ({QUANTILE_QS[0]}), ({QUANTILE_QS[1]})) t(q)),
    ranked AS (
        SELECT b.grp, b.x,
               row_number() OVER (PARTITION BY b.grp ORDER BY b.x) AS rn
        FROM base b
    )
    SELECT s.grp AS l_returnflag, q.q AS q, s.n,
           r.x AS quantile
    FROM stats s
    JOIN qs q ON TRUE
    JOIN ranked r
      ON r.grp = s.grp AND r.rn = CAST(ceil(q.q * s.n) AS BIGINT)
    """,
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_DISC (rank = ceil(q*n)) of l_extendedprice per
    return flag WITHOUT sorting the data and WITHOUT O(distinct-values)
    aggregation state: pass 1 builds a {N_BINS}-bin equal-width histogram
    per group (state = groups x {N_BINS} counters), the cumulative bin
    counts locate the single bin containing each target rank, and pass 2
    ranks ONLY the rows of that bin (expected n/{N_BINS} rows per group).

    This is the bounded-state twin of q_quantile_summary's exact
    `percentile` (whose state is O(distinct values per group)) — the shape
    that survives a continuous value domain at 100 TB.  The oracle ranks
    the whole table instead; both sides select the identical rank, so the
    quantile is a raw column value needing no rounding.

    The bin assignment expression is textually identical in the two passes
    (and uses only +,-,*,/ in the same order), so a row's bin is
    bit-deterministic."""
    base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), F.col("l_extendedprice").alias("x")
    )
    stats = base.groupBy("grp").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count("*").cast("long").alias("n"),
    )
    bin_expr = _BIN_EXPR.format(B=N_BINS)
    binned = base.join(F.broadcast(stats), "grp").withColumn(
        "bin", F.expr(bin_expr)
    )
    hist = binned.groupBy("grp", "bin").agg(F.count("*").alias("cnt"))
    wb = Window.partitionBy("grp").orderBy("bin")
    hist = hist.withColumn("cum", F.sum("cnt").over(wb)).withColumn(
        "prev", F.col("cum") - F.col("cnt")
    )
    qs = F.array(*[F.expr(f"CAST({q} AS DOUBLE)") for q in QUANTILE_QS])
    targets = (
        stats.withColumn("q", F.explode(qs))
        .withColumn("r", F.ceil(F.col("q") * F.col("n")).cast("long"))
        .join(hist, "grp")
        .filter((F.col("prev") < F.col("r")) & (F.col("r") <= F.col("cum")))
        .select("grp", "q", "n", "r", "bin", "prev")
    )
    # pass 2: rank only the rows inside each target bin
    wr = Window.partitionBy("grp", "q").orderBy("x")
    rows = binned.select("grp", "x", "bin")
    return (
        rows.join(F.broadcast(targets), ["grp", "bin"])
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == F.col("r") - F.col("prev"))
        .select(
            F.col("grp").alias("l_returnflag"),
            "q",
            "n",
            F.col("x").alias("quantile"),
        )
    )


# ---------------------------------------------------------------------------
# HLL distinct with an exactness scorecard
# ---------------------------------------------------------------------------

HLL_RSD = 0.02
HLL_REL_ERR_MAX = 0.05


@register(
    "q_hll_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           TRUE AS hll_within_bound
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct sensors per event type, twice: the exact count (what the
    oracle certifies) and Spark's HyperLogLog++ estimate
    (approx_count_distinct, rsd={HLL_RSD}) checked against it — the
    registered output carries the exact count plus the boolean
    |hll - exact| / exact <= {HLL_REL_ERR_MAX}, so the driver row fails if
    the sketch ever drifts out of its error budget.

    Scale: the HLL sketch is THE production path for distinct counts at
    100 TB — a fixed few-KB register array per group, merged map-side,
    one pass, no expand.  The exact count rides along here because the
    fixture cardinalities allow it; the scorecard pins how much the
    bounded-memory answer costs in accuracy (HLL++ is hash-based and
    deterministic, so the boolean is stable across runs)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_distinct_users"),
            F.approx_count_distinct("user_id", HLL_RSD).alias("_hll"),
        )
        .select(
            "event_type",
            "n_distinct_users",
            (
                F.abs(F.col("_hll") - F.col("n_distinct_users"))
                / F.col("n_distinct_users")
                <= HLL_REL_ERR_MAX
            ).alias("hll_within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Declarative Bloom-filter membership (bit-position join)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 14  # bits
BLOOM_K = 5  # hash functions


@register(
    "q_bloom_membership",
    oracle="""
    WITH members AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_customers,
           CAST((SELECT count(*) FROM customer c JOIN members m
                 ON c.c_custkey = m.o_custkey) AS BIGINT) AS n_members,
           CAST(0 AS BIGINT) AS n_false_negatives,
           TRUE AS fp_rate_ok
    """,
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe, built declaratively: the filter over
    "customers with a finished order" is the DISTINCT set of
    {BLOOM_K} x xxhash64(key, seed) mod {BLOOM_M} bit positions (a few KB,
    broadcast), and probing all customers is a keyed equi-join on the bit
    position — a row is bloom-positive iff all {BLOOM_K} of its positions
    hit.  No cartesian, no per-row UDF, no giant bitmap on the driver.

    The registered output certifies the two properties a Bloom filter must
    have: ZERO false negatives (every true member probes positive — the
    oracle pins the literal 0, so a broken filter fails the driver row)
    and a false-positive rate within 3x+slack of the theoretical
    (1 - e^(-kn/m))^k (xxhash64 is deterministic, so the boolean is stable).

    Scale: build side = one distinct + hash expansion over members (k rows
    each); probe side = k-row expansion + broadcast join + groupBy probe
    key.  At 100 TB the filter stays a broadcast (its size is m bits, not
    data-bound) — the classic semi-join pre-filter before an expensive
    join."""
    members = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "key",
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col("key"), F.lit(i)), F.lit(BLOOM_M))
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("pos"),
        )

    bits = positions(members).select("pos").distinct()
    probed = (
        positions(customers)
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("key")
        .agg((F.count("hit") == BLOOM_K).alias("bloom_positive"))
    )
    truth = probed.join(
        members.withColumn("is_member", F.lit(True)), "key", "left"
    ).select(
        "key",
        "bloom_positive",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    n_members = F.sum(F.col("is_member").cast("long"))
    n_fn = F.sum((F.col("is_member") & ~F.col("bloom_positive")).cast("long"))
    n_fp = F.sum((~F.col("is_member") & F.col("bloom_positive")).cast("long"))
    n_nonmembers = F.sum((~F.col("is_member")).cast("long"))
    # theoretical fpp given the actual member count, with 3x + 5 absolute
    # slack so the deterministic boolean is robustly inside its budget
    fpp = F.pow(
        F.lit(1.0) - F.exp(-F.lit(float(BLOOM_K)) * n_members / F.lit(float(BLOOM_M))),
        F.lit(float(BLOOM_K)),
    )
    return truth.agg(
        F.count("*").cast("long").alias("n_customers"),
        n_members.cast("long").alias("n_members"),
        n_fn.cast("long").alias("n_false_negatives"),
        (n_fp <= F.lit(3.0) * fpp * n_nonmembers + F.lit(5.0)).alias("fp_rate_ok"),
    )


# ---------------------------------------------------------------------------
# Range-partition planning: exact split bounds for repartitionByRange
# ---------------------------------------------------------------------------

PARTITION_TARGET_ROWS = 1024
PARTITION_PLAN_BUCKETS = 1024


@register(
    "q_partition_plan",
    oracle=f"""
    WITH per_key AS (
        SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_orderkey
    ),
    cum AS (
        SELECT key, cnt,
               sum(cnt) OVER (ORDER BY key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM per_key
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(ceil(sum(cnt) / CAST({PARTITION_TARGET_ROWS} AS DOUBLE))
                    AS BIGINT) AS p
        FROM per_key
    ),
    spans AS (
        -- each key's cumulative interval (c_prev, c]; the cut ranks it can
        -- contain are the integers i with r_i = ceil(i*n/p) inside it, an
        -- arithmetic range of width ~cnt*p/n (usually 0 or 1) — candidate
        -- generation is padded by one on each side, the exact predicate
        -- decides membership, so no key ever scans the full target list
        SELECT c.key, c.c, c.c - c.cnt AS c_prev, t.n, t.p
        FROM cum c, tot t WHERE t.p >= 2
    ),
    hits AS (
        SELECT s.key, s.c, s.c_prev, s.n, s.p, u.i AS partition_id,
               CAST(ceil(u.i * (s.n / CAST(s.p AS DOUBLE))) AS BIGINT) AS r
        FROM spans s,
             unnest(generate_series(
                 greatest(1, CAST(floor(s.c_prev * s.p / CAST(s.n AS DOUBLE)) AS BIGINT)),
                 least(s.p - 1, CAST(floor(s.c * s.p / CAST(s.n AS DOUBLE)) AS BIGINT) + 1)
             )) AS u(i)
    )
    SELECT partition_id, key AS boundary_key, r AS rows_through
    FROM hits
    WHERE c_prev < r AND r <= c
    """,
)
def q_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repartitionByRange planning: split lineitem on l_orderkey into
    ceil(n / {PARTITION_TARGET_ROWS})-row balanced ranges and report each
    cut — (partition_id, smallest key whose cumulative row count reaches
    the cut rank, that rank).  This is the write-side layout decision a
    100 TB pipeline makes before sinking a table: balanced range bounds
    mean no reader ever gets a fat partition, and computing them EXACTLY
    (rather than Spark's sampled RangePartitioner) makes the plan
    reproducible and oracle-checkable.

    Scale: one partial-aggregating groupBy on the key, then a TWO-PHASE
    prefix sum over the per-KEY counts: keys are bucketed into
    {PARTITION_PLAN_BUCKETS} order-preserving value ranges (a pure
    arithmetic map — no sampling, no sort), the cumulative window runs
    PARTITIONED by bucket (each task holds |keys|/B rows, never the whole
    key set), and the per-bucket totals — a {PARTITION_PLAN_BUCKETS}-row
    table — carry the global offsets back via a broadcast join.  A single
    unpartitioned cumulative window (the previous shape) serializes every
    distinct key through one task — the classic WindowExec straggler that
    dies first at 100 TB.  Each key then computes ARITHMETICALLY the
    <= O(cnt*p/n + 2) cut ranks its cumulative interval (c_prev, c] can
    contain (candidate range padded, exact predicate decides).  The naive
    alternative — joining every key against the full cut table on c >= r —
    is a broadcast nested loop whose cost is |keys| x |cuts| =
    O(n^2 / target): measured 106 s at the 10x fixture vs 2.1 s for this
    plan.  Nothing global-sorts the data itself."""
    per_key = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # order-preserving arithmetic bucketing: bkt = floor((key-kmin)*B /
    # (kmax-kmin+1)) is monotone in key, so bucket-local prefix sums plus
    # bucket offsets reproduce the global cumulative EXACTLY.  kmin/kmax/
    # n/p come from ONE stats pass (a single 1-row broadcast) shared by
    # every consumer.
    B = PARTITION_PLAN_BUCKETS
    stats = per_key.agg(
        F.min("key").alias("kmin"),
        F.max("key").alias("kmax"),
        F.sum("cnt").cast("long").alias("n"),
        F.ceil(
            F.sum("cnt") / F.expr(f"CAST({PARTITION_TARGET_ROWS} AS DOUBLE)")
        )
        .cast("long")
        .alias("p"),
    )

    def bucketed() -> DataFrame:
        return per_key.join(F.broadcast(stats)).withColumn(
            "bkt",
            F.least(
                F.lit(B - 1).cast("long"),
                F.floor(
                    (F.col("key") - F.col("kmin"))
                    * F.lit(B)
                    / (F.col("kmax") - F.col("kmin") + 1)
                ).cast("long"),
            ),
        )

    # bucket offsets: B rows max — the ONLY unpartitioned window, bounded
    # by construction, never by data volume
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed()
        .groupBy("bkt")
        .agg(F.sum("cnt").alias("bsum"))
        .withColumn("off", F.coalesce(F.sum("bsum").over(w_off), F.lit(0)))
        .select("bkt", "off")
    )
    w_local = Window.partitionBy("bkt").orderBy("key").rowsBetween(
        Window.unboundedPreceding, 0
    )
    spans = (
        bucketed()
        .withColumn("lc", F.sum("cnt").over(w_local))
        .join(F.broadcast(offsets), "bkt")
        .withColumn("c", F.col("lc") + F.col("off"))
        .filter(F.col("p") >= 2)
        .withColumn("c_prev", F.col("c") - F.col("cnt"))
    )
    i_lo = F.greatest(
        F.lit(1).cast("long"),
        F.floor(
            F.col("c_prev") * F.col("p") / F.col("n").cast("double")
        ).cast("long"),
    )
    i_hi = F.least(
        F.col("p") - 1,
        F.floor(F.col("c") * F.col("p") / F.col("n").cast("double")).cast(
            "long"
        )
        + 1,
    )
    hits = (
        spans.withColumn("i_lo", i_lo)
        .withColumn("i_hi", i_hi)
        # guarded: Spark's sequence() steps DOWNWARD when lo > hi, so an
        # empty candidate range must yield an empty array, not junk
        .withColumn(
            "partition_id",
            F.explode(
                F.expr(
                    "CASE WHEN i_lo <= i_hi THEN sequence(i_lo, i_hi) "
                    "ELSE array() END"
                )
            ),
        )
        .withColumn(
            "r",
            F.ceil(
                F.col("partition_id") * (F.col("n") / F.col("p").cast("double"))
            ).cast("long"),
        )
    )
    return hits.filter(
        (F.col("c_prev") < F.col("r")) & (F.col("r") <= F.col("c"))
    ).select(
        "partition_id",
        F.col("key").alias("boundary_key"),
        F.col("r").alias("rows_through"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch scorecard (deterministic md5 row-hashes)
# ---------------------------------------------------------------------------

CMS_W = 1024  # cells per row
CMS_D = 4  # hash rows
CMS_TOP = 20  # exact top-k items scored against the sketch


def _cms_cell_duck(seed: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#{seed}'),"
        f" 1, 15))::BIGINT % {CMS_W} AS INT)"
    )


def _cms_cell_spark(seed: str) -> str:
    return (
        f"cast(cast(conv(substr(md5(concat(cast(user_id AS string), '#{seed}')),"
        f" 1, 15), 16, 10) AS bigint) % {CMS_W} AS int)"
    )


@register(
    "q_cms_heavy_hitters",
    oracle=f"""
    WITH exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    keyed AS (
        SELECT user_id, n,
               {", ".join(_cms_cell_duck(str(s)) + f" AS c{s}" for s in range(CMS_D))}
        FROM exact
    ),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {s} AS seed, c{s} AS cell, sum(n) AS total"
            f" FROM keyed GROUP BY c{s}"
            for s in range(CMS_D)
        )}
    ),
    est AS (
        SELECT k.user_id, k.n,
               least({", ".join(
                   f"(SELECT total FROM cells WHERE seed = {s} AND cell = k.c{s})"
                   for s in range(CMS_D)
               )}) AS cms_est
        FROM keyed k
    ),
    top AS (
        SELECT user_id, n, cms_est,
               row_number() OVER (ORDER BY n DESC, user_id) AS rk
        FROM est
    )
    SELECT user_id, n AS exact_n, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - n AS BIGINT) AS overcount
    FROM top WHERE rk <= {CMS_TOP}
    ORDER BY exact_n DESC, user_id
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch scorecard: build a {CMS_D}x{CMS_W} CMS over event
    counts per sensor (deterministic md5 row-hashes so both engines
    reproduce the exact same cells), then read the sketch back for the
    exact top-{CMS_TOP} sensors and report estimate vs truth — the
    overcount column IS the sketch's collision cost on this data, and the
    driver row fails if the estimate ever dips below truth (CMS
    guarantees est >= exact).

    Scale: the sketch is {CMS_D}x{CMS_W} counters — map-side
    partial-aggregated, constant memory regardless of key cardinality;
    the read-back joins each probe key's {CMS_D} cells against the tiny
    cell table via broadcast.  The exact top-k here is the scorecard's
    truth column, not part of the sketch path."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    exact = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    keyed = exact.select(
        "user_id",
        "n",
        *[
            F.expr(_cms_cell_spark(str(s))).alias(f"c{s}")
            for s in range(CMS_D)
        ],
    )
    cells = None
    for s in range(CMS_D):
        part = keyed.groupBy(F.col(f"c{s}").alias("cell")).agg(
            F.sum("n").alias("total")
        ).select(F.lit(s).alias("seed"), "cell", "total")
        cells = part if cells is None else cells.unionByName(part)
    est = keyed
    for s in range(CMS_D):
        cs = cells.filter(F.col("seed") == s).select(
            F.col("cell").alias(f"c{s}"), F.col("total").alias(f"t{s}")
        )
        est = est.join(F.broadcast(cs), f"c{s}")
    est = est.withColumn(
        "cms_est", F.least(*[F.col(f"t{s}") for s in range(CMS_D)])
    )
    top = est.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
        ),
    ).filter(F.col("rk") <= CMS_TOP)
    return top.select(
        "user_id",
        F.col("n").alias("exact_n"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("n")).cast("long").alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), "user_id")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) set-operation estimates between event audiences
# ---------------------------------------------------------------------------

KMV_K = 128
# md5 hash of the sensor id normalized to (0, 1]
_KMV_H_DUCK = (
    "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1)"
    " / 1152921504606846976.0"
)
_KMV_H_SPARK = (
    "(cast(conv(substr(md5(cast(user_id AS string)), 1, 15), 16, 10)"
    " AS bigint) + 1) / 1152921504606846976.0d"
)
_KMV_PAIRS = (("view", "click"), ("view", "purchase"), ("signup", "error"))
_KMV_PAIRS_DUCK = " UNION ALL ".join(
    f"SELECT '{a}' AS ta, '{b}' AS tb" for a, b in _KMV_PAIRS
)


@register(
    "q_kmv_setops",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id, {_KMV_H_DUCK} AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    sk AS (
        SELECT event_type, user_id, h,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY h, user_id
               ) AS rn
        FROM du
    ),
    sketch AS (SELECT event_type, user_id, h FROM sk WHERE rn <= {KMV_K}),
    pairs AS ({_KMV_PAIRS_DUCK}),
    merged AS (
        SELECT p.ta, p.tb, m.user_id, m.h,
               max(CASE WHEN m.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN m.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN sketch m ON m.event_type IN (p.ta, p.tb)
        GROUP BY p.ta, p.tb, m.user_id, m.h
    ),
    ranked AS (
        SELECT ta, tb, user_id, h, in_a, in_b,
               row_number() OVER (
                   PARTITION BY ta, tb ORDER BY h, user_id
               ) AS rn
        FROM merged
    ),
    kk AS (
        SELECT ta, tb,
               count(*) AS n_merged,
               max(h) AS h_k,
               sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                   AS n_both
        FROM ranked WHERE rn <= {KMV_K}
        GROUP BY ta, tb
    ),
    exact_users AS (
        SELECT p.ta, p.tb, d.user_id,
               max(CASE WHEN d.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN d.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN du d ON d.event_type IN (p.ta, p.tb)
        GROUP BY p.ta, p.tb, d.user_id
    ),
    exact AS (
        SELECT ta, tb,
               count(*) AS u_exact,
               sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                   AS i_exact
        FROM exact_users
        GROUP BY ta, tb
    )
    SELECT k.ta AS type_a, k.tb AS type_b,
           {fround_sql(f"(least(k.n_merged, {KMV_K}) - 1) / k.h_k", 2)}
               AS est_union,
           {fround_sql(f"k.n_both / CAST(least(k.n_merged, {KMV_K}) AS DOUBLE)", 6)}
               AS est_jaccard,
           CAST(e.u_exact AS BIGINT) AS exact_union,
           {fround_sql("e.i_exact / CAST(e.u_exact AS DOUBLE)", 6)}
               AS exact_jaccard
    FROM kk k JOIN exact e ON k.ta = e.ta AND k.tb = e.tb
    ORDER BY type_a, type_b
    """,
)
def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch set operations: per audience pair,
    estimate the distinct-user union size ((k-1)/h_k over the merged
    k-minimum hashes) and Jaccard overlap (fraction of the merged
    sketch present in both sides), reported next to the exact values —
    the mergeable-sketch algebra behind audience-overlap dashboards
    (Beyer et al. 2007).

    Scale: each audience reduces to its {KMV_K} smallest deterministic
    md5 hashes — constant-size, mergeable state (at 100 TB the per-type
    top-k runs as a partial top-k per partition, never a global sort of
    users); pair estimates then work entirely on 2x{KMV_K}-row sketches.
    The exact columns are the fixture-scale truth for the scorecard; a
    production run drops them and keeps only sketch arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    du = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("h", F.expr(_KMV_H_SPARK))
    )
    w_t = Window.partitionBy("event_type").orderBy(
        F.col("h").asc(), F.col("user_id").asc()
    )
    sketch = (
        du.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    pairs = None
    for a, b in _KMV_PAIRS:
        row = spark.range(1).select(F.lit(a).alias("ta"), F.lit(b).alias("tb"))
        pairs = row if pairs is None else pairs.unionByName(row)
    merged = (
        F.broadcast(pairs)
        .join(
            sketch,
            (sketch.event_type == F.col("ta"))
            | (sketch.event_type == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id", "h")
        .agg(
            F.max((F.col("event_type") == F.col("ta")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("tb")).cast("int")).alias("in_b"),
        )
    )
    w_p = Window.partitionBy("ta", "tb").orderBy(
        F.col("h").asc(), F.col("user_id").asc()
    )
    kk = (
        merged.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("ta", "tb")
        .agg(
            F.count("*").alias("n_merged"),
            F.max("h").alias("h_k"),
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")).alias(
                "n_both"
            ),
        )
    )
    exact_sets = (
        F.broadcast(pairs)
        .join(
            du.select("event_type", "user_id"),
            (du.event_type == F.col("ta")) | (du.event_type == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id")
        .agg(
            F.max((F.col("event_type") == F.col("ta")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("tb")).cast("int")).alias("in_b"),
        )
        .groupBy("ta", "tb")
        .agg(
            F.count("*").cast("long").alias("u_exact"),
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")).alias(
                "i_exact"
            ),
        )
    )
    kmerged = F.least(F.col("n_merged"), F.lit(KMV_K))
    return (
        kk.join(exact_sets, ["ta", "tb"])
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            fround((kmerged - 1) / F.col("h_k"), 2).alias("est_union"),
            fround(
                F.col("n_both") / kmerged.cast("double"), 6
            ).alias("est_jaccard"),
            F.col("u_exact").cast("long").alias("exact_union"),
            fround(
                F.col("i_exact") / F.col("u_exact").cast("double"), 6
            ).alias("exact_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )
