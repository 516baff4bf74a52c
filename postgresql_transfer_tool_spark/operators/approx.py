"""Approximate analytics — X5 (SURVEY.md §2.8).

Sketch-based aggregates (HyperLogLog NDV, quantile sketches, stratified
sampling). Sketches are engine-specific by construction, so these
queries come in pairs: an exact form with a full DuckDB oracle, and the
approximate form as a rows-only check (the driver records the weaker
check; the accompanying pytest asserts the approximation error bound
against the exact value instead — tests/test_approx.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dec
from .registry import query


@query(
    "ndv_exact",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS ndv_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS ndv_days
    FROM events GROUP BY event_type
    """,
)
def ndv_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("ndv_users"),
        F.countDistinct(F.col("ts").cast("date")).alias("ndv_days"),
    )


@query("ndv_approx")  # rows-only: HLL sketch values are engine-specific
def ndv_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). At 100 TB this replaces the
    exact distinct's full shuffle with a constant-size sketch merge —
    the error bound (default 5%) is asserted against ndv_exact in tests."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("ndv_users_approx"),
        F.approx_count_distinct(F.col("ts").cast("date")).alias("ndv_days_approx"),
    )


@query(
    "median_exact",
    oracle="""
    WITH cents AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v
      FROM events
    ), ranked AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM cents
    )
    SELECT event_type,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) / 10000 AS median_value
    FROM ranked
    WHERE rk IN ((n + 1) / 2, (n + 2) / 2)
    GROUP BY event_type
    """,
)
def median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median via rank arithmetic over integer ten-thousandths —
    engine-portable (built-in percentile functions interpolate with
    different FP sequences across engines, so the engine computes the
    median from first principles: the mean of the middle one-or-two
    quantized values)."""
    cents = (dec("value", 14, 4) * 10000).cast("bigint").alias("v")
    e = load_table(spark, sf_dir, "events").select("event_type", cents)
    w = Window.partitionBy("event_type").orderBy("v")
    ranked = e.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rk") == (F.col("n") + 1) / 2) | (F.col("rk") == (F.col("n") + 2) / 2)
    )
    return mid.groupBy("event_type").agg(
        (F.sum("v").cast("double") / F.count("*") / 10000).alias("median_value")
    )


@query("quantiles_approx")  # rows-only: sketch quantiles are engine-specific
def quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch): p50/p95/p99 per event
    type. Accuracy asserted against exact ranks in tests/test_approx.py."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5).alias("p50"),
        F.percentile_approx("value", 0.95).alias("p95"),
        F.percentile_approx("value", 0.99).alias("p99"),
    )


@query("stratified_sample")  # rows-only: sampling is seed/engine-specific
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): 10% of clicks, 50% of errors —
    the training-data curation primitive. Seeded for run-to-run
    determinism within Spark; proportions asserted in tests."""
    e = load_table(spark, sf_dir, "events")
    sample = e.sampleBy("event_type", {"click": 0.1, "error": 0.5}, seed=42)
    return sample.groupBy("event_type").agg(F.count("*").alias("n_sampled"))


@query(
    "histogram_fixed_buckets",
    oracle="""
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM events GROUP BY 1
    """,
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — the exact, shuffle-light distribution
    summary (one partial-aggregable groupBy; no sort, no sketch)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.floor(F.col("value") / 50).cast("bigint").alias("bucket"))
        .agg(F.count("*").alias("n"), F.min("value").alias("lo"), F.max("value").alias("hi"))
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters — built from relational primitives
# (md5-derived row hashes), so unlike the engine-native HLL/quantile
# sketches it is deterministic and FULLY oracle-mirrorable. The sketch
# is a CMS_DEPTH × CMS_WIDTH counter matrix: depth-many independent
# hash rows, each a groupBy — one shuffle of (row, bucket) pairs,
# constant-size result regardless of corpus size, mergeable by addition
# (the map-side combine IS the merge). Estimation: point lookups
# min-over-rows, the classic CMS upper-bound estimate.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP = 10

#: bucket for hash row i: md5-prefix of "i:word" mod width — identical
#: integer on both engines (same recipe as the dedup MinHash hashes)
_CMS_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || w), 1, 8) AS BIGINT)"
    f" % {CMS_WIDTH}"
)


def _cms_bucket_spark():
    """Bucket from the `i` (hash row) and `w` (word) columns."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("w"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % CMS_WIDTH
    )


@query(
    "heavy_hitters_cms",
    oracle=f"""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
    ),
    exact AS (
      SELECT w, COUNT(*) AS exact_n FROM w GROUP BY w
    ),
    top AS (
      SELECT w, exact_n FROM (
        SELECT w, exact_n,
               ROW_NUMBER() OVER (ORDER BY exact_n DESC, w) AS rk
        FROM exact
      ) t WHERE rk <= {CMS_TOP}
    ),
    sketch AS (
      SELECT i, {_CMS_BUCKET_SQL.format(i="i")} AS bucket, COUNT(*) AS c
      FROM w CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS i) rows_
      GROUP BY 1, 2
    )
    SELECT t.w AS word, t.exact_n,
           MIN(s.c) AS cms_estimate
    FROM top t
    JOIN (SELECT i, bucket, c FROM sketch) s
      ON s.bucket = {_CMS_BUCKET_SQL.format(i="s.i").replace("|| w", "|| t.w")}
    GROUP BY t.w, t.exact_n
    """,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a relational Count-Min sketch: estimate the
    counts of the exact top-CMS_TOP words from the CMS_DEPTH×CMS_WIDTH
    counter matrix (min over rows — always ≥ the true count; the error
    bound is tested against the exact counts in test_approx.py).

    At 100 TB only the constant-size sketch survives aggregation — the
    word relation is consumed map-side into (row, bucket) partial
    counts. The exact top-k here exists to *grade* the sketch; a pure
    production pipeline keeps just the sketch and a candidate set.
    """
    # the word relation feeds both the exact branch and the sketch branch
    # — materialize once instead of scanning + re-tokenizing per branch
    # repartition first: one file = one split in the fixtures, and both
    # the tokenize/explode and the 4x-per-word sketch hashing downstream
    # are CPU-bound (localCheckpoint preserves partitioning, so without
    # this the whole CMS runs in a single task).
    words = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .localCheckpoint(eager=False)
    )
    exact = words.groupBy("w").agg(F.count("*").alias("exact_n"))
    # orderBy+limit compiles to TakeOrderedAndProject — distributed
    # per-partition top-k with one merge, never a single-task global
    # rank window over the (unbounded) distinct-word relation.
    top = exact.orderBy(F.col("exact_n").desc(), F.col("w")).limit(CMS_TOP)
    # Build the sketch from the distinct-word counts rather than raw
    # occurrences: this query materializes `exact` anyway (to grade the
    # sketch), so summing exact_n into buckets computes the identical
    # counter matrix with CMS_DEPTH md5s per *distinct* word instead of
    # per occurrence. A pure production CMS (no exact branch) hashes
    # per occurrence map-side — counts merge by + either way, so the
    # two constructions are equal by associativity.
    sketch = (
        exact.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))))
        .select("i", _cms_bucket_spark().alias("bucket"), "exact_n")
        .groupBy("i", "bucket")
        .agg(F.sum("exact_n").alias("c"))
    )
    probe = top.withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)))
    ).withColumn("bucket", _cms_bucket_spark())
    return (
        probe.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy(F.col("w").alias("word"), "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )


#: Deterministic per-stratum sample size for the hash-rank sampler.
HASH_SAMPLE_K = 5


@query(
    "stratified_sample_hash",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) t WHERE rk <= {HASH_SAMPLE_K}
    """,
)
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by cryptographic hash rank: per
    language stratum, the HASH_SAMPLE_K = 5 documents with the smallest
    md5(doc_id). Unlike RNG-based sampling (``stratified_sample``,
    rows-only — seed semantics are engine-specific), the hash rank is
    identical in every engine and every run, so this variant is
    oracle-exact AND reproducible — the property production pipelines
    want for holdout/eval splits. Uniformity comes from md5's avalanche,
    not a seeded RNG.

    Scale: one hash-partitioned exchange on the stratum key; per-stratum
    top-k is a partial `TakeOrdered` inside each partition (no global
    sort). Skewed strata parallelize poorly by definition — for heavy
    strata, pre-aggregate with a per-partition top-k (the rank only
    needs the k smallest hashes of each partition) before the exchange."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HASH_SAMPLE_K)
        .select("lang", "doc_id", "rk")
    )


#: KMV NDV sketch size (larger than the overlap sketch: NDV error is
#: ~1/sqrt(k), so k=256 gives ~6% relative error).
NDV_KMV_K = 256


@query(
    "ndv_kmv_customers",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
      FROM orders
    ), ranked AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM h
    ), kth AS (
      SELECT MAX(h) AS h_k, COUNT(*) AS k_eff FROM ranked
      WHERE rk <= {NDV_KMV_K}
    )
    SELECT (SELECT COUNT(*) FROM h) AS ndv_exact,
           CASE WHEN k_eff < {NDV_KMV_K} THEN CAST(k_eff AS DOUBLE)
                ELSE (CAST(k_eff AS DOUBLE) - 1)
                     / (CAST(h_k AS DOUBLE) / 4294967296.0)
           END AS ndv_kmv
    FROM kth
    """,
)
def ndv_kmv_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordering customers: exact count next to the k-minimum-
    values estimate NDV ≈ (k-1)/u_k with u_k the k-th smallest hash
    normalized to [0,1) (Beyer et al., SIGMOD 2007). Complement to
    ``ndv_approx`` (HLL): the HLL sketch is engine-native and can only
    be rows-only-checked, while KMV is built from relational primitives
    (md5 + top-k), so the approximate answer itself is deterministic and
    oracle-verified bit-for-bit. At 100 TB the sketch is a per-partition
    k-smallest merge — constant memory, one narrow aggregation; the
    division-only estimate stays bit-portable.
    Reference analog: none (driver-mandated extension surface, X5)."""
    h = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
            )
            .cast("bigint")
            .alias("h")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # k smallest via orderBy+limit — compiles to TakeOrderedAndProject
    # (per-partition top-k, one merge), never a single-partition window.
    ranked = h.orderBy("h").limit(NDV_KMV_K)
    kth = ranked.agg(
        F.max("h").alias("h_k"), F.count("*").alias("k_eff")
    )
    exact = h.agg(F.count("*").alias("ndv_exact"))
    est = F.when(
        F.col("k_eff") < NDV_KMV_K, F.col("k_eff").cast("double")
    ).otherwise(
        (F.col("k_eff").cast("double") - 1)
        / (F.col("h_k").cast("double") / F.lit(4294967296.0))
    )
    return exact.join(kth).select("ndv_exact", est.alias("ndv_kmv"))


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog — register-level, built from relational
# primitives so the *approximate* answer itself is oracle-verified
# bit-for-bit (unlike the engine-native sketch behind ``ndv_approx``,
# which is rows-only by construction). Design notes, because HLL is a
# minefield of cross-engine FP divergence:
#
# - hash: first 15 hex chars of md5 → 60-bit integer (the same recipe
#   as the CMS/KMV/MinHash hashes above). bucket = h mod m (p low
#   "bits"), w = h div m (50-bit field).
# - rho (leading-zero rank of w): computed as 51 - length(bin(w)) —
#   *string length of the binary representation*, identical on both
#   engines, instead of floor(log2(w)) whose FP boundary behavior is
#   not portable.
# - register sum: Σ 2^-M_j is an FP sum whose addition order differs
#   across partitions/engines. We scale by 2^51 so every term
#   2^(51-M_j) is an exact BIGINT (max m·2^51 = 2^61 < 2^63) — the sum
#   is exact integer arithmetic, order-independent, and the map-side
#   partial aggregation IS the sketch merge (registers merge by MAX,
#   sums merge by +). One double division at the end.
# - linear-counting correction (E ≤ 2.5m with empty registers):
#   E = m·ln(m/V) needs ln, and JVM Math.log disagrees with libm log
#   by 1 ulp on ~18% of this domain (measured in-container). The Spark
#   side therefore JOINS a driver-computed (CPython/libm) lookup table
#   ln(m/V) for V ∈ 1..m, which is bit-identical to DuckDB's ln
#   (verified 0 mismatches over the full grid) — the whole estimate
#   stays engine-exact with no quantization step.
# - classic Flajolet–Fuss–Gandouet–Meunier estimator; no HLL++ bias
#   tables (engine-specific) and no large-range correction (it targets
#   32-bit hash saturation; this hash space is 2^60).
# ---------------------------------------------------------------------------

HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers
#: bits left for the rho field after the bucket split
HLL_W_BITS = 60 - HLL_P
#: exact integer scale for the register sum: 2^(W_BITS + 1)
HLL_SCALE = 1 << (HLL_W_BITS + 1)
#: alpha_m · m² · 2^51 — every factor after alpha is a power of two, so
#: the Python product is exact scaling of the alpha double; repr() of it
#: round-trips into both engines bit-identically.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(HLL_SCALE)


def hll_ln_table(spark: SparkSession):
    """(V, m·ln(m/V)) for V ∈ 1..m, computed with CPython's libm ln —
    bitwise-equal to DuckDB's ln on this grid, unlike JVM Math.log."""
    import math

    rows = [(v, HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]
    return spark.createDataFrame(rows, "v_empty long, lin_est double")


def hll_h_col(col: str):
    """60-bit md5-derived hash column."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h")
    )


#: same hash in DuckDB SQL
HLL_H_SQL = "CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT)"

#: rho(w) with w = h div m — string-length bit rank, both engines
HLL_RHO_SPARK = (
    f"CASE WHEN h DIV {HLL_M} = 0 THEN {HLL_W_BITS + 1} "
    f"ELSE {HLL_W_BITS + 1} - length(bin(h DIV {HLL_M})) END"
)
HLL_RHO_SQL = (
    f"CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1} "
    f"ELSE {HLL_W_BITS + 1} - length(bin(h // {HLL_M})) END"
)


def hll_estimate_cols(agg: DataFrame, spark: SparkSession) -> DataFrame:
    """Attach the HLL estimate to an aggregated frame carrying
    ``m_nonzero`` (registers hit) and ``reg_sum_scaled`` (exact integer
    register sum). Adds ``ndv_hll``; keeps the integer evidence columns."""
    e_raw = F.lit(HLL_NUMERATOR) / F.col("reg_sum_scaled").cast("double")
    with_v = agg.withColumn("v_empty", F.lit(HLL_M) - F.col("m_nonzero"))
    joined = with_v.join(F.broadcast(hll_ln_table(spark)), "v_empty", "left")
    return joined.withColumn(
        "ndv_hll",
        F.when(
            (e_raw <= F.lit(2.5 * HLL_M)) & (F.col("v_empty") > 0),
            F.col("lin_est"),
        ).otherwise(e_raw),
    ).drop("v_empty", "lin_est")


#: shared SQL tail: estimate from (m_nonzero, reg_sum_scaled)
HLL_EST_SQL = f"""
       CASE WHEN {HLL_NUMERATOR!r} / CAST(reg_sum_scaled AS DOUBLE) <= {2.5 * HLL_M!r}
                 AND m_nonzero < {HLL_M}
            THEN {HLL_M} * ln({float(HLL_M)!r} / ({HLL_M} - m_nonzero))
            ELSE {HLL_NUMERATOR!r} / CAST(reg_sum_scaled AS DOUBLE)
       END AS ndv_hll
"""


@query(
    "ndv_hll_deterministic",
    oracle=f"""
    WITH h AS (
      SELECT event_type, {HLL_H_SQL.format(col="user_id")} AS h FROM events
    ), reg AS (
      SELECT event_type, h % {HLL_M} AS bucket, MAX({HLL_RHO_SQL}) AS m_j
      FROM h GROUP BY 1, 2
    ), agg AS (
      SELECT event_type,
             COUNT(*) AS m_nonzero,
             CAST(SUM(1::BIGINT << ({HLL_W_BITS + 1} - m_j))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_W_BITS + 1})
                  AS BIGINT) AS reg_sum_scaled
      FROM reg GROUP BY event_type
    )
    SELECT event_type, m_nonzero, reg_sum_scaled,
           {HLL_EST_SQL}
    FROM agg
    """,
)
def ndv_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a relational HyperLogLog whose
    approximate estimate is itself deterministic and oracle-verified
    (see the design notes above). At 100 TB this is the NDV shape that
    wins: registers partial-aggregate map-side (MAX merges), the
    per-group state is a constant m·6 bits regardless of cardinality,
    and — unlike the engine-native ``ndv_approx`` sketch — the result
    is reproducible across engines, so pipeline stages running on
    different runtimes (Spark job vs DuckDB-backed validation) agree
    bit-for-bit. Accuracy vs ``ndv_exact`` is bounded in
    tests/test_approx.py. Reference analog: none (X5 extension)."""
    e = load_table(spark, sf_dir, "events").select("event_type", hll_h_col("user_id"))
    reg = (
        e.withColumn("bucket", F.col("h") % HLL_M)
        .withColumn("rho", F.expr(HLL_RHO_SPARK))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    agg = reg.groupBy("event_type").agg(
        F.count("*").alias("m_nonzero"),
        (
            F.sum(F.expr(f"shiftleft(1L, {HLL_W_BITS + 1} - m_j)"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(HLL_SCALE)
        ).alias("reg_sum_scaled"),
    )
    return hll_estimate_cols(agg, spark).select(
        "event_type", "m_nonzero", "reg_sum_scaled", "ndv_hll"
    )


@query(
    "histogram_equi_depth",
    oracle="""
    WITH cents AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v
      FROM events
    ), ranked AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk
      FROM cents
    ), sizes AS (
      SELECT event_type, COUNT(*) AS n FROM cents GROUP BY event_type
    ), targets AS (
      SELECT s.event_type, q.q, (q.q * s.n + 9) // 10 AS target_rk
      FROM sizes s CROSS JOIN (SELECT unnest(range(1, 10)) AS q) q
    )
    SELECT t.event_type, t.q AS decile,
           CAST(r.v AS DOUBLE) / 10000 AS boundary
    FROM targets t
    JOIN ranked r ON r.event_type = t.event_type AND r.rk = t.target_rk
    """,
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram: decile boundaries of ``value`` per
    event type with percentile_disc semantics (smallest value whose rank
    reaches ⌈q·n/10⌉), over integer ten-thousandths so no FP
    interpolation exists to diverge between engines. This is the exact
    calibration twin of ``quantiles_approx`` (the sketch path production
    uses at 100 TB): equi-depth boundaries are what ANALYZE histograms
    store for selectivity estimation. The rank window parallelizes per
    group; the 9-row-per-group target table broadcasts to pick the
    boundary rows."""
    cents = (dec("value", 14, 4) * 10000).cast("bigint").alias("v")
    e = load_table(spark, sf_dir, "events").select("event_type", cents)
    ranked = e.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("v"))
        .alias("rk"),
    )
    sizes = e.groupBy("event_type").agg(F.count("*").alias("n"))
    targets = sizes.select(
        "event_type", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("q"), "n"
    ).select(
        "event_type",
        "q",
        F.expr("(q * n + 9) DIV 10").alias("target_rk"),
    )
    r, t = ranked.alias("r"), targets.alias("t")
    return r.join(
        F.broadcast(t),
        (F.col("r.event_type") == F.col("t.event_type"))
        & (F.col("r.rk") == F.col("t.target_rk")),
    ).select(
        F.col("r.event_type").alias("event_type"),
        F.col("t.q").alias("decile"),
        (F.col("r.v").cast("double") / 10000).alias("boundary"),
    )


#: bottom-k sample size for the hash-sample quantile estimator
QSAMPLE_K = 256


@query(
    "quantiles_hash_sample",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v,
             md5(CAST(event_id AS VARCHAR)) AS hh
      FROM events
    ), sampled AS (
      SELECT event_type, v FROM (
        SELECT event_type, v,
               ROW_NUMBER() OVER (
                 PARTITION BY event_type ORDER BY hh, event_id) AS hrk
        FROM cents
      ) t WHERE hrk <= {QSAMPLE_K}
    ), ranked AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk
      FROM sampled
    ), sizes AS (
      SELECT event_type, COUNT(*) AS k_eff FROM sampled GROUP BY event_type
    ), targets AS (
      SELECT s.event_type, q.q, (q.q * s.k_eff + 9) // 10 AS target_rk
      FROM sizes s CROSS JOIN (SELECT unnest(range(1, 10)) AS q) q
    )
    SELECT t.event_type, t.q AS decile,
           CAST(r.v AS DOUBLE) / 10000 AS est_boundary
    FROM targets t
    JOIN ranked r ON r.event_type = t.event_type AND r.rk = t.target_rk
    """,
)
def quantiles_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile estimates from a deterministic bottom-256-by-hash
    row sample per event type — the bounded-state quantile path.

    ``quantiles_approx`` (engine-native GK sketch) is rows-only by
    construction; ``histogram_equi_depth`` is exact but ranks the FULL
    group (a per-group sort of everything). This operator completes the
    family: state is ≤256 (QSAMPLE_K) rows per group (the k smallest
    md5(event_id) — a uniform row sample by hash avalanche, mergeable
    like any bottom-k: per-partition k-min, one merge), and the decile
    boundaries are percentile_disc-style rank arithmetic over the
    sample's quantized integer values, so the *estimate itself* is
    deterministic and oracle-verified — no RNG seeds, no sketch
    internals, no FP interpolation. Expected rank error is
    O(1/sqrt(k)) ≈ 6% of the group size at k=256; bounded vs
    the exact deciles in tests/test_approx.py. At 100 TB the sample
    selection is the same shape as ``stratified_sample_hash``: hash
    exchange on the group key with per-partition pre-top-k, never a
    global sort. Reference analog: none (X5 extension)."""
    cents = (dec("value", 14, 4) * 10000).cast("bigint").alias("v")
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", cents,
        F.md5(F.col("event_id").cast("string")).alias("hh"),
    )
    hw = Window.partitionBy("event_type").orderBy("hh", "event_id")
    # the sample feeds both the rank branch and the size branch —
    # materialize it once so the event scan + hash top-k don't run twice
    sampled = (
        e.withColumn("hrk", F.row_number().over(hw))
        .filter(F.col("hrk") <= QSAMPLE_K)
        .select("event_type", "v")
        .localCheckpoint(eager=False)
    )
    ranked = sampled.withColumn(
        "rk", F.row_number().over(Window.partitionBy("event_type").orderBy("v"))
    )
    sizes = sampled.groupBy("event_type").agg(F.count("*").alias("k_eff"))
    targets = sizes.select(
        "event_type", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("q"), "k_eff"
    ).select("event_type", "q", F.expr("(q * k_eff + 9) DIV 10").alias("target_rk"))
    r, t = ranked.alias("r"), targets.alias("t")
    return r.join(
        F.broadcast(t),
        (F.col("r.event_type") == F.col("t.event_type"))
        & (F.col("r.rk") == F.col("t.target_rk")),
    ).select(
        F.col("r.event_type").alias("event_type"),
        F.col("t.q").alias("decile"),
        (F.col("r.v").cast("double") / 10000).alias("est_boundary"),
    )


@query(
    "percentile_cont_quartiles",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      FROM orders
    ), ranked AS (
      SELECT o_orderpriority, v,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rk,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM cents
    ), qs AS (
      SELECT r.o_orderpriority, q.k,
             1 + ((r.n - 1) * q.k) // 4 AS lo,
             ((r.n - 1) * q.k) % 4 AS rem,
             r.rk, r.v
      FROM ranked r CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS k) q
    )
    SELECT o_orderpriority,
           CAST(0.25 * k AS DOUBLE) AS quantile,
           CAST(SUM(CASE WHEN rk = lo THEN v * (4 - rem)
                         WHEN rk = lo + 1 THEN v * rem END) AS DOUBLE)
             / 400.0 AS value
    FROM qs
    WHERE rk = lo OR (rem > 0 AND rk = lo + 1)
    GROUP BY o_orderpriority, k
    """,
)
def percentile_cont_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT(0.25/0.5/0.75) per order priority, computed
    from first principles in integer-rational arithmetic: the
    interpolated quantile at fraction k/4 sits at position
    1 + (n−1)·k/4, and its value is the weighted mean
    (v_lo·(4−rem) + v_hi·rem)/4 with rem = (n−1)·k mod 4 — all int64
    until ONE final double division, so the result is bit-identical
    across engines (built-in percentile_cont/quantile_cont interpolate
    with engine-specific FP sequences, the median_exact rationale
    extended to arbitrary quarters).

    Scale: same contract as median_exact — an exact quantile needs a
    per-group rank, so the window partitions on the group key; for
    low-cardinality groups at 100 TB the sketch path
    (quantiles_approx / quantiles_hash_sample) is the scale answer and
    this is the exactness baseline it is measured against."""
    cents = (dec("o_totalprice", 12, 2) * 100).cast("bigint").alias("v")
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", cents)
    w = Window.partitionBy("o_orderpriority").orderBy("v")
    ranked = o.select(
        "o_orderpriority",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    qs = ranked.crossJoin(F.broadcast(ks)).select(
        "o_orderpriority",
        "k",
        (1 + F.expr("((n - 1) * k) div 4")).alias("lo"),
        F.expr("((n - 1) * k) % 4").alias("rem"),
        "rk",
        "v",
    )
    hit = qs.filter(
        (F.col("rk") == F.col("lo"))
        | ((F.col("rem") > 0) & (F.col("rk") == F.col("lo") + 1))
    )
    num = F.sum(
        F.when(F.col("rk") == F.col("lo"), F.col("v") * (4 - F.col("rem"))).when(
            F.col("rk") == F.col("lo") + 1, F.col("v") * F.col("rem")
        )
    )
    return hit.groupBy("o_orderpriority", "k").agg(
        (F.col("k") * F.lit(0.25)).alias("quantile"),
        (num.cast("double") / F.lit(400.0)).alias("value"),
    ).drop("k")
