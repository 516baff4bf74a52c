"""Similarity-search operators — X3/X6 (SURVEY.md §2.8) + driver north-star.

Approximate-nearest-neighbor over the ``embeddings`` table
(``array<float>``, 64-dim). Two paths:

- brute-force cosine top-k (the exactness baseline): query×corpus
  cross-join, JVM-side vector math via zip_with/aggregate;
- LSH-bucketed (the 100 TB path): random-hyperplane signatures from
  deterministic integer planes; candidates only join within a bucket.

Exactness strategy: embeddings are quantized to integer micro-units
(round(x·10⁶)) so dot products and norms are exact int64 arithmetic;
cosine = dot/(sqrt(na)·sqrt(nb)) is then a fixed 3-op IEEE sequence —
bit-identical on both engines, making top-k ordering deterministic
(ties broken by vec_id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, table_row_count
from ..functions.memo import CheckpointMemo
from .registry import query

DIM = 64
TOP_K = 5
N_QUERIES = 10  # vec_id < 10 serve as the query set

#: quantization: float32 → int64 micro-units. x·10⁶ is exact in double
#: (24-bit mantissa × 20 bits), and both engines round half away from
#: zero, so the quantized vectors are identical.
_QUANT_SQL = "list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"


def _spark_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition first: one file = one split in the fixtures, and every
    # consumer (dot-product joins, centroid assignment, PQ coding) is
    # CPU-bound; the checkpoint downstream preserves this partitioning.
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    qe = F.transform(
        "embedding", lambda v: F.round(v.cast("double") * 1000000).cast("bigint")
    )
    norm = F.aggregate(
        qe, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    return emb.select("vec_id", "label", qe.alias("qe"), norm.alias("nq"))


#: quantized relation memo, keyed by (applicationId, sf_dir): every
#: vector operator (brute force, LSH, IVF, PQ, kNN, embedding-cosine
#: dedup, semantic clusters) starts from the identical quantize pass —
#: one distributed materialization per session instead of one per query
#: (same pattern as dedup._SHINGLE_CACHE; the memo holds plan handles,
#: nothing driver-side). Contract shared with that cache: an sf_dir's
#: contents are immutable within a Spark application — rewriting the
#: fixture parquet in place would keep serving the old checkpointed data
#: (clear the dict or restart the session after regenerating fixtures).
_QUANT_CACHE = CheckpointMemo()


def _spark_quantized_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _QUANT_CACHE.get(key)
    if cached is None:
        cached = _QUANT_CACHE.put(
            key, _spark_quantized(spark, sf_dir).localCheckpoint(eager=False)
        )
    return cached


_SQL_QUANTIZED = f"""
q AS (
  SELECT vec_id, label, {_QUANT_SQL} AS qe,
         list_sum(list_transform({_QUANT_SQL}, x -> x * x)) AS nq
  FROM embeddings
)
"""

#: exact integer dot product between two quantized vectors a.qe / b.qe
_SQL_DOT = f"list_sum(list_transform(range({DIM}), i -> a.qe[i+1] * b.qe[i+1]))"


def _spark_dot(a_col: str, b_col: str):
    return F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH {_SQL_QUANTIZED},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
             CAST({_SQL_DOT} AS DOUBLE)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
      FROM q a JOIN q b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) t WHERE rk <= {TOP_K}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the correctness baseline every ANN variant is
    judged against. At 100 TB the corpus side stays partitioned and the
    (small) query set broadcasts — the cross product never shuffles the
    corpus; top-k folds into a per-partition window."""
    q = _spark_quantized_materialized(spark, sf_dir)
    a = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    b = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("qe").alias("qb"),
        F.col("nq").alias("nb"),
    )
    dot = _spark_dot("qa", "qb")
    cosine = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = (
        F.broadcast(a)
        .join(b, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "neighbor_label", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= TOP_K
    )


# ---------------------------------------------------------------------------
# Banded random-hyperplane LSH (AND/OR construction, corpus-adaptive).
#
# plane[q][d] = ((q*2654435761 + d*40503 + q*d*69069) % 2039) - 1019 —
# a fixed integer pseudo-plane family, identical on both engines. Two
# family generations of lessons baked into this formula:
#
# 1. The modulus must be LARGE: the original ((q*131 + d*31) % 7) - 3
#    family reduced to (5q + 3d) mod 7, i.e. only SEVEN distinct
#    hyperplanes — the signature space froze at 2^7 per band and
#    candidate growth went quadratic beyond ~1000 rows (caught by the
#    r4 three-point decade test: 504 of 16384 buckets in use).
# 2. The q- and d-terms must MIX (the bilinear q*d term): the r4 family
#    ((q*A + d*B) % M) - off made plane q+Δ a CONSTANT VALUE-SPACE
#    SHIFT of plane q (coefficient difference Δ·A mod M, independent of
#    d, up to wraps), so bits within a band were strongly correlated —
#    effective independent bits ≪ nominal bits, and moderate-cosine
#    pairs were under-split: measured 25,032 pair-band incidences at
#    bits=12 on the sf0.1 corpus vs 2,732 for true Gaussian planes
#    (9.2× over). With the bilinear term the coefficient difference
#    varies per dimension and the family lands within ~1.2× of the
#    Gaussian gold standard (3,399), diagnosed+fixed in r5
#    (tools/lsh_diagnose.py).
#
# Planes are pairwise distinct and decorrelated for every q the engine
# can reach (BANDS×MAX_BITS = 96 ≪ 2039). The signature
# space is BANDS independent bands; band b uses planes
# q = b*MAX_BITS .. b*MAX_BITS+bits-1 where `bits` GROWS WITH THE CORPUS:
#
#     bits = clamp(bit_length((n-1) // TARGET_BUCKET), MIN_BITS, MAX_BITS)
#
# so the expected bucket population stays ~TARGET_BUCKET rows no matter
# the corpus size (n=500 → 6 bits; n=2000 → 8; n=10⁹ → 24): within-bucket
# pairing is O(n·TARGET_BUCKET), linear in n, not O(n²/2^const). Two rows
# are candidates when they agree on ALL bits of AT LEAST ONE band
# (AND within a band sharpens precision; OR across bands restores recall).
# A deterministic ROW_NUMBER cap bounds the worst skewed bucket. At 100 TB
# the corpus shuffles once on the (band, sig) key; parallelism = BANDS·2^bits.
# ---------------------------------------------------------------------------

BANDS = 4
MIN_BITS = 4
MAX_BITS = 24
TARGET_BUCKET = 8  # expected rows per (band, sig) bucket
BUCKET_CAP = 1024  # hard per-bucket membership cap (skew guard)


def lsh_bits_for(n: int) -> int:
    """Signature width per band for an n-row corpus (exact integer math —
    mirrored in SQL via length(bin((n-1)//TARGET)))."""
    return max(MIN_BITS, min(MAX_BITS, ((max(n, 1) - 1) // TARGET_BUCKET).bit_length()))


def _plane_sql(q_expr: str) -> str:
    """DuckDB dot(qe, plane_q) with q given as a SQL expression."""
    return (
        f"list_sum(list_transform(range({DIM}),"
        f" d -> qe[d+1] * (((({q_expr}) * 2654435761 + d * 40503"
        f" + ({q_expr}) * d * 69069) % 2039) - 1019)))"
    )


def _band_sig_sql() -> str:
    """Band signature with runtime-variable width: bit j contributes only
    when j < bits (the CASE prunes what Spark prunes at plan-build time)."""
    terms = " + ".join(
        f"(CASE WHEN {j} < bits AND {_plane_sql(f'band * {MAX_BITS} + {j}')} > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(MAX_BITS)
    )
    return f"CAST({terms} AS BIGINT)"


def _spark_plane_dot(q: int):
    return F.aggregate(
        F.zip_with(
            "qe",
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda d: (
                    (F.lit(q * 2654435761) + d * 40503 + d * (q * 69069))
                    % 2039 - 1019
                ).cast("bigint"),
            ),
            lambda x, c: x * c,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _spark_band_sig(band: int, bits: int):
    """Reference (JVM higher-order-function) signature implementation —
    the spec the vectorized path below is cross-checked against in
    tests/test_similarity_scale.py."""
    sig = F.lit(0)
    for j in range(bits):
        sig = sig + F.when(_spark_plane_dot(band * MAX_BITS + j) > 0, 1 << j).otherwise(0)
    return sig.cast("bigint")


def _band_sigs_udf(bits: int):
    """All BANDS signatures in one Arrow-batched numpy matmul
    (n×DIM @ DIM×(BANDS·bits), exact int64 — identical values to the
    per-plane HOF/SQL formula, ~10× less per-row interpreter work than
    BANDS·bits separate aggregate() lambdas)."""
    from pyspark.sql.functions import pandas_udf

    plane_idx = [b * MAX_BITS + j for b in range(BANDS) for j in range(bits)]
    coefs = np.array(
        [
            [
                ((q * 2654435761) + d * 40503 + q * d * 69069) % 2039 - 1019
                for d in range(DIM)
            ]
            for q in plane_idx
        ],
        dtype=np.int64,
    )
    weights = 1 << np.arange(bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def sigs(qe: pd.Series) -> pd.Series:
        m = np.array(qe.tolist(), dtype=np.int64)
        dots = m @ coefs.T  # exact int64, |dot| ≤ 64·3·10⁶ ≪ 2⁶³
        bitmat = (dots > 0).reshape(len(m), BANDS, bits)
        return pd.Series(list((bitmat * weights).sum(axis=2)))

    return sigs


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate (vec_a, vec_b, n_bands) pairs sharing ≥1 full band
    signature, bucket-capped. Exposed separately so tests can assert
    sub-quadratic candidate growth across scale factors."""
    q = _spark_quantized_materialized(spark, sf_dir)
    # n from the parquet footer, not a count() job: quantization is a
    # 1:1 map of the embeddings table, and footer num_rows is exact —
    # same bits at every SF, no extra scan (VERDICT r3 #8)
    bits = lsh_bits_for(table_row_count(sf_dir, "embeddings"))
    # r14 (guide §8): decide candidate pairs on ID-ONLY rows, fetch
    # vectors once per surviving pair. The r13 shape shuffled each
    # vector's qe payload BANDS times into the cap window, then
    # sort-merge-joined payload-bearing rows and computed the 64-dim
    # dot per (pair, band) only to MIN identical values. Here the
    # bucket/cap/pair machinery sees (vec_id, band, sig) rows only; the
    # self-join reuses the cap window's (band, sig) hash partitioning
    # (no extra exchange), the cosine is computed once per pair, and qe
    # crosses the network only in the two pair→vector attach joins
    # (which AQE broadcast-converts while the pair relation is small).
    ids = (
        q.select("vec_id", _band_sigs_udf(bits)("qe").alias("sigs"))
        .select("vec_id", F.posexplode("sigs").alias("band", "sig"))
    )
    cap_w = Window.partitionBy("band", "sig").orderBy("vec_id")
    ids = (
        ids.withColumn("rn", F.row_number().over(cap_w))
        .filter(F.col("rn") <= BUCKET_CAP)
        .drop("rn")
    )
    a = ids.select(F.col("vec_id").alias("vec_a"), "band", "sig")
    b = ids.select(
        F.col("vec_id").alias("vec_b"),
        F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("sig") == F.col("sig_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.count("*").alias("n_bands"))
    )
    qa = q.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    qb = q.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qe").alias("qb"),
        F.col("nq").alias("nb"),
    )
    dot = _spark_dot("qa", "qb")
    cosine = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.join(qa, "vec_a")
        .join(qb, "vec_b")
        .select("vec_a", "vec_b", "n_bands", cosine.alias("cosine"))
    )


@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH {_SQL_QUANTIZED},
    params AS (
      SELECT LEAST({MAX_BITS}, GREATEST({MIN_BITS},
               length(bin((COUNT(*) - 1) // {TARGET_BUCKET})))) AS bits
      FROM embeddings
    ),
    bucketed_all AS (
      SELECT vec_id, qe, nq, band, {_band_sig_sql()} AS sig
      FROM q, params, (SELECT unnest(range({BANDS})) AS band)
    ),
    bucketed AS (
      SELECT * FROM (
        SELECT vec_id, qe, nq, band, sig,
               ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY vec_id) AS rn
        FROM bucketed_all
      ) WHERE rn <= {BUCKET_CAP}
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST({_SQL_DOT} AS DOUBLE)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, CAST(COUNT(*) AS BIGINT) AS n_bands,
           MIN(cosine) AS cosine
    FROM pairs GROUP BY vec_a, vec_b HAVING MIN(cosine) >= 0.35
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH similarity pairs: candidates agree on a full band
    signature (width adapts to corpus size, see lsh_bits_for), then exact
    cosine filters ≥ 0.35. n_bands = how many bands agreed (LSH
    confidence). The bucket join replaces the O(n²) cross product; bucket
    population is held near TARGET_BUCKET rows so candidate volume grows
    linearly with the corpus."""
    return lsh_candidate_pairs(spark, sf_dir).filter(F.col("cosine") >= 0.35)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the other classic scale path next to LSH.
# A coarse codebook partitions the corpus into cells (assignment = nearest
# centroid); a query probes only its NPROBE nearest cells, so search cost
# is corpus/cells × nprobe instead of corpus. The codebook here is the
# first N_CENTROIDS vectors by vec_id — a deterministic stand-in for
# k-means training (which is seed/iteration-order dependent and could not
# be oracle-mirrored); the partition/probe/re-rank machinery is the real
# operator. At 100 TB: centroids broadcast (they are tiny), assignment is
# one map-side pass, and the corpus shuffles once on cell id — the same
# single-shuffle shape as the LSH bucket join. The cell count GROWS with
# the corpus (same adaptive discipline as lsh_bits_for): 2^b cells with
# b = bit_length((n-1) // TARGET_CELL), clamped — expected cell
# population stays ≈ TARGET_CELL at any corpus size, so per-query probe
# cost is flat where a fixed codebook would grow linearly. (Fixed
# NPROBE over more cells is the standard IVF recall/latency trade; at
# production scale nprobe rises with latency budget, not with n.)
# ---------------------------------------------------------------------------

TARGET_CELL = 32
MIN_CELL_BITS = 4
MAX_CELL_BITS = 14
NPROBE = 2


def ivf_cells_for(n: int) -> int:
    """Corpus-adaptive cell count: 2^bit_length((n-1)//TARGET_CELL),
    clamped to [2^MIN_CELL_BITS, 2^MAX_CELL_BITS]."""
    bits = ((max(n, 1) - 1) // TARGET_CELL).bit_length()
    return 1 << min(MAX_CELL_BITS, max(MIN_CELL_BITS, bits))


#: SQL mirror of ivf_cells_for over the corpus count — bin()'s length is
#: bit_length for x >= 1 (cross-checked in test_similarity_scale).
#: ``stride`` drives the centroid SAMPLING rule below.
_SQL_NCELLS = f"""
params AS (
  SELECT nc, GREATEST(1, cnt // nc) AS stride FROM (
    SELECT COUNT(*) AS cnt,
           CAST(POWER(2, LEAST({MAX_CELL_BITS}, GREATEST({MIN_CELL_BITS},
             length(bin((COUNT(*) - 1) // {TARGET_CELL}))))) AS BIGINT) AS nc
    FROM q) p0
)
"""

#: Centroid selection is a deterministic ID-HASH SAMPLE — an expected
#: ~nc vectors whatever the vec_id layout. The pre-r5 rule
#: ``vec_id < nc`` assumed ids dense from 0: the 100× sweep's
#: stride-10M id layout reduced it to ONE copy's worth of centroids
#: (2000 instead of 6250) and SemDeDup's per-cell candidate volume grew
#: 5× per decade (40M pairs at 200k vectors). Real 100 TB corpora never
#: have dense ids; the md5 sample is layout-free, map-side, and
#: bit-identical across engines (same hash the HLL/KMV families use).
_SQL_CENT_WHERE = (
    "(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)"
    " % (SELECT stride FROM params)) = 0"
)


def centroid_stride(n: int) -> int:
    """Sampling stride for an n-row corpus: every vec_id whose 32-bit
    md5 prefix is ≡ 0 (mod stride) seeds a cell — expected n/stride ≈
    ivf_cells_for(n) centroids."""
    return max(1, n // ivf_cells_for(n))


def centroid_sample_filter(stride: int):
    """Spark mirror of _SQL_CENT_WHERE."""
    h = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
    )
    return (h % F.lit(stride)) == 0


def top_cells_by_cosine(cent_rows, k: int):
    """Arrow UDF: the top-``k`` cell ids per vector by cosine (ties to
    the LOWEST cid — exactly ROW_NUMBER() ... ORDER BY ccos DESC, cid),
    as one exact-int64 BLAS matmul per batch. ``cent_rows`` is the
    collected (cid, ce, ncent) centroid sample (bounded by
    2^MAX_CELL_BITS rows).

    This is the map-side replacement for the broadcast-crossjoin +
    window ranking, which materializes n×nc ROWS through a shuffle
    (3.3 B at the 100× sweep's 200k×16.6k point — SCALE.md, 100×
    findings #2); the UDF emits k values per vector and shuffles
    nothing. The double cosine is the identical correctly-rounded
    expression the SQL oracle computes, so results are bit-exact."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cent_rows, key=lambda r: r[0])
    if not rows:
        raise ValueError("empty centroid sample")
    if len(rows) < k:
        # With fewer centroids than k the argmax loop would emit
        # duplicate cell ids, while the SQL oracle's crk <= k window
        # emits fewer rows — silent parity break. Fail loudly instead.
        raise ValueError(
            f"centroid sample has {len(rows)} rows < k={k}; "
            "lower NPROBE or widen the centroid stride"
        )
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([r[1] for r in rows], dtype=np.int64)
    csqrt = np.sqrt(np.array([r[2] for r in rows], dtype=np.float64))

    @pandas_udf("array<bigint>")
    def topcells(qe: pd.Series, nq: pd.Series) -> pd.Series:
        m = np.array(qe.tolist(), dtype=np.int64)
        nqv = nq.to_numpy(dtype=np.float64)
        if (nqv == 0).any():
            # cosine is undefined at |q| = 0; the NaN row would turn the
            # argmax scan all-False and index past cids. Reject clearly.
            raise ValueError(
                "zero-norm query vector (nq=0): cosine similarity is "
                "undefined — filter zero vectors before ranking"
            )
        ccos = (m @ C.T).astype(np.float64) / (
            np.sqrt(nqv)[:, None] * csqrt[None, :]
        )
        out = np.empty((len(m), k), dtype=np.int64)
        work = ccos.copy()
        for p in range(k):
            best = work.max(axis=1)
            pick = np.where(
                work == best[:, None], cids[None, :], np.iinfo(np.int64).max
            ).min(axis=1)
            out[:, p] = pick
            work[np.arange(len(m)), np.searchsorted(cids, pick)] = -np.inf
        return pd.Series(list(out))

    return topcells


def argmin_cell_sqdist(cent_rows):
    """Arrow UDF: struct(cid, d2) of the exact-integer
    argmin-squared-distance cell per vector (ties to the lowest cid) —
    the same map-side vectorized contract as
    :func:`top_cells_by_cosine`, for the Lloyd-assignment metric.
    d2 = |x|² − 2·x·c + |c|² entirely in int64 (bounded: 64 dims of
    quantized magnitudes ≪ 2³¹), identical to the HOF / SQL
    ``Σ (x_i − c_i)²``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cent_rows, key=lambda r: r[0])
    if not rows:
        raise ValueError("empty centroid sample")
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([r[1] for r in rows], dtype=np.int64)
    c2 = (C * C).sum(axis=1)

    @pandas_udf("cid bigint, d2 bigint")
    def argmin(qe: pd.Series) -> pd.DataFrame:
        m = np.array(qe.tolist(), dtype=np.int64)
        x2 = (m * m).sum(axis=1)
        d2 = x2[:, None] - 2 * (m @ C.T) + c2[None, :]
        best = d2.min(axis=1)
        pick = np.where(
            d2 == best[:, None], cids[None, :], np.iinfo(np.int64).max
        ).min(axis=1)
        return pd.DataFrame({"cid": pick, "d2": best})

    return argmin


#: IVF cell-assignment memo, keyed by (applicationId, sf_dir): the
#: (vec_id, top-NPROBE cells) relation is the IVF INDEX — fixed for a
#: fixed corpus, and the dominant per-call cost of ann_ivf_topk (a
#: centroid-sample collect plus the Arrow top-cells matmul over the
#: whole corpus). Session-memoized under the same convention as the
#: semantic assignment / PQ index memos (r15, guide §1.2);
#: ann_ivf_topk is in bench.MEMO_QUERIES so the memo-cold pass records
#: the full build. Auto-registered with the central clear_all_memos
#: registry via the CheckpointMemo constructor.
_IVF_CELLS_CACHE = CheckpointMemo()


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cells array<bigint>): each vector's top-NPROBE centroid
    cells by cosine, memoized + lineage-cut per (session, corpus).
    Centroid selection and assignment are unchanged from r14: a
    footer-metadata stride (no scan job), an id-hash centroid sample
    (layout-free), and the map-side vectorized top-NPROBE Arrow matmul
    (no n×nc row materialization — see top_cells_by_cosine)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _IVF_CELLS_CACHE.get(key)
    if cached is not None:
        return cached
    q = _spark_quantized_materialized(spark, sf_dir).select("vec_id", "qe", "nq")
    stride = centroid_stride(table_row_count(sf_dir, "embeddings"))
    cent_rows = [
        (r.vec_id, r.qe, r.nq)
        for r in q.filter(centroid_sample_filter(stride)).collect()
    ]
    return _IVF_CELLS_CACHE.put(
        key,
        q.select(
            "vec_id",
            top_cells_by_cosine(cent_rows, NPROBE)("qe", "nq").alias("cells"),
        ).localCheckpoint(eager=False),
    )



@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_SQL_QUANTIZED},
    {_SQL_NCELLS},
    cent AS (
      SELECT vec_id AS cid, qe AS ce, nq AS ncent FROM q
      WHERE {_SQL_CENT_WHERE}
    ),
    scored_cells AS (
      SELECT q.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY CAST(list_sum(list_transform(range({DIM}),
                              i -> q.qe[i+1] * c.ce[i+1])) AS DOUBLE)
                        / (sqrt(CAST(q.nq AS DOUBLE)) * sqrt(CAST(c.ncent AS DOUBLE)))
                        DESC, c.cid) AS crk
      FROM q, cent c
    ),
    assigned AS (
      SELECT vec_id, cid AS cell FROM scored_cells WHERE crk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM scored_cells
      WHERE crk <= {NPROBE} AND vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.query_id, s.vec_id AS neighbor_id, s.cell
      FROM probes p JOIN assigned s ON s.cell = p.cell
      WHERE s.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT c.query_id, c.neighbor_id, c.cell,
             CAST({_SQL_DOT} AS DOUBLE)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
      FROM cand c
      JOIN q a ON a.vec_id = c.query_id
      JOIN q b ON b.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cell, cosine, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM ranked
    ) t WHERE rk <= {TOP_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: assign corpus to nearest-centroid cells (cell count
    adaptive in corpus size), probe the query's NPROBE best cells,
    exact-rerank candidates. The assignment relation is the
    session-memoized IVF index (_ivf_cells, r15) — the bench's cold
    pass re-pays the centroid collect + Arrow assignment build."""
    q = _spark_quantized_materialized(spark, sf_dir).select("vec_id", "qe", "nq")
    cells = _ivf_cells(spark, sf_dir)
    assigned = cells.select(
        "vec_id", F.col("cells")[0].alias("cell")
    )
    probes = cells.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode("cells").alias("cell"),
    )
    corpus_cells = assigned.join(
        q.select(F.col("vec_id"), F.col("qe").alias("qb"), F.col("nq").alias("nb")),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "cell", "qb", "nb")
    qa = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    dot = _spark_dot("qa", "qb")
    cosine = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    ranked = (
        F.broadcast(probes)
        .join(corpus_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qa), "query_id")
        .select("query_id", "neighbor_id", "cell", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return ranked.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


@query(
    "knn_label_vote",
    oracle=f"""
    WITH {_SQL_QUANTIZED},
    scored AS (
      SELECT a.vec_id AS query_id, a.label AS true_label, b.label AS neighbor_label,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY CAST({_SQL_DOT} AS DOUBLE)
                 / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) DESC,
                 b.vec_id) AS rk
      FROM q a JOIN q b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    )
    SELECT query_id, true_label, neighbor_label, COUNT(*) AS votes
    FROM scored WHERE rk <= {TOP_K}
    GROUP BY query_id, true_label, neighbor_label
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label voting (the classification read of similarity search):
    per query, vote counts of the top-5 neighbors' labels."""
    topk = ann_bruteforce_topk(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        topk.join(labels, "query_id")
        .groupBy("query_id", "true_label", "neighbor_label")
        .agg(F.count("*").alias("votes"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path.
#
# IVF bounds WORK per query (probe a few cells); hyperplane LSH bounds
# CANDIDATES; PQ bounds MEMORY: each DIM-dim vector compresses to
# PQ_M one-byte codes (64 ints → 8 bytes here), so a 100 TB embedding
# corpus's index fits in cluster RAM and ADC scoring reads codes, not
# vectors. Codebooks are deterministic (subvectors of an md5 id-hash
# sample of ~PQ_K vectors — a real deployment k-means-trains them; the
# dataflow is identical), so encoding and scoring are exact integer
# arithmetic and
# the whole pipeline is oracle-mirrorable:
#
#   encode:  code[v][m] = argmin_k ||sub(v,m) - codeword(m,k)||²
#   ADC:     approx_dot(q, v) = Σ_m  dot(sub(q,m), codeword(m, code[v][m]))
#   rerank:  top PQ_CAND by approx dot → exact cosine → TOP_K
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16       # codewords per subspace (expected sample size)
PQ_CAND = 100   # ADC candidates kept for exact re-rank (the recall
                # lever: 50 → 100 in r5 alongside the layout-free
                # trained codebook — the pre-r5 dense-id seed owed its
                # recall to a fixture artifact, the first 16 vec_ids
                # coinciding with the generator's cluster centers)

#: codebook seed rule: the EXACTLY-PQ_K vectors with the smallest
#: (md5(vec_id), vec_id) rank — layout-free like the IVF/SemDeDup
#: centroid sample (``vec_id < PQ_K`` returned an EMPTY codebook on any
#: corpus whose ids don't start at 0, the same dense-id fragility the
#: 100× sweep caught in centroid seeding), but exact-size because
#: codebook quality is sensitive to the codeword COUNT and a
#: TakeOrdered of K=16 is trivially cheap at any scale (unlike the
#: ~2^14-row centroid set, where the modulo sample's expected-size
#: trade is the right one)
_SQL_PQ_CB_WHERE = (
    "vec_id IN (SELECT vec_id FROM q"
    f" ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K})"
)

#: Lloyd passes training the codebook from the seed, and the bounded
#: TRAINING SAMPLE size: training runs over the PQ_TRAIN smallest-
#: (md5, vec_id) vectors — the standard PQ practice (codebooks train on
#: a sample, encode runs over everything) and the scale-correct one:
#: the sample is a driver-bounded collect, so the Spark side trains in
#: numpy with the exact same integer/floor arithmetic the SQL mirror
#: uses over its own sample CTE, and the distributed plan keeps ONE
#: encode pass instead of PQ_LLOYD_PASSES window stages (the
#: all-distributed form benched 8.3 s warm at sf0.1 vs ~1.7 s —
#: stage-overhead-bound, not flop-bound). Measured recall vs the exact
#: baseline at TOP_K=5, CAND=100: see the recall test's comment.
PQ_LLOYD_PASSES = 4
PQ_TRAIN = 1024


def _sql_pq_lloyd_ctes() -> str:
    """The oracle's Lloyd-refinement CTE chain over the TRAINING SAMPLE
    ``sub_t``: each pass assigns every training subvector to its
    nearest current codeword (ties min-k), recomputes codewords as
    FLOOR of the member mean per dimension (the engine-portable rule
    ivf_kmeans_refine established), and keeps the previous codeword
    where a cell won no members. Mirrors ``_train_pq_codebook``
    bit-for-bit."""
    parts = [f"""
    sub_t AS (
      SELECT * FROM sub WHERE vec_id IN (
        SELECT vec_id FROM q
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_TRAIN})
    )"""]
    prev = "cb0"
    for t in range(PQ_LLOYD_PASSES):
        out = "cb" if t == PQ_LLOYD_PASSES - 1 else f"cb{t + 1}"
        parts.append(f"""
    enc_t{t} AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT s.vec_id, s.m, c.k,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(range({PQ_SUBDIM}),
                            i -> (s.sv[i+1] - c.cw[i+1]) * (s.sv[i+1] - c.cw[i+1]))),
                          c.k) AS erk
        FROM sub_t s JOIN {prev} c ON c.m = s.m
      ) t WHERE erk = 1
    ),
    cbm{t} AS (
      SELECT m, code AS k,
             list_transform(range({PQ_SUBDIM}), d -> CAST(FLOOR(
               CAST(list_sum(list_transform(vecs, v -> v[d+1])) AS DOUBLE)
               / CAST(len(vecs) AS DOUBLE)) AS BIGINT)) AS cw
      FROM (SELECT e.m, e.code, list(s.sv ORDER BY s.vec_id) AS vecs
            FROM enc_t{t} e JOIN sub_t s ON s.vec_id = e.vec_id AND s.m = e.m
            GROUP BY e.m, e.code) g
    ),
    {out} AS (
      SELECT c0.m, c0.k, COALESCE(c1.cw, c0.cw) AS cw
      FROM {prev} c0 LEFT JOIN cbm{t} c1 ON c1.m = c0.m AND c1.k = c0.k
    )""")
        prev = out
    return ",".join(parts).lstrip()


def _train_pq_codebook(train_rows) -> list:
    """Driver-side numpy Lloyd over the bounded (≤PQ_TRAIN) ranked
    sample — the exact arithmetic of the oracle's CTE chain: int64
    squared distances, min-(d2, k) assignment, FLOOR-of-double means,
    empty cells keep their codeword. Returns [(m, k, cw), ...]."""
    import numpy as np

    ids = [r.vec_id for r in train_rows]  # already ranked (md5, id)
    V = np.array([r.qe for r in train_rows], dtype=np.int64)
    id_to_idx = {v: i for i, v in enumerate(ids)}
    seed_ids = sorted(ids[:PQ_K])  # codeword identity order = k asc
    cids = np.array(seed_ids, dtype=np.int64)
    out = []
    for m in range(PQ_M):
        sv = V[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
        CB = np.array([V[id_to_idx[c], m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM] for c in seed_ids], dtype=np.int64)
        for _ in range(PQ_LLOYD_PASSES):
            d2 = ((sv[:, None, :] - CB[None, :, :]) ** 2).sum(axis=2)
            best = d2.min(axis=1)
            pick = np.where(
                d2 == best[:, None], cids[None, :], np.iinfo(np.int64).max
            ).min(axis=1)
            new_cb = CB.copy()
            for j, c in enumerate(cids):
                mem = sv[pick == c]
                if len(mem):
                    new_cb[j] = np.floor(
                        mem.sum(axis=0).astype(np.float64) / float(len(mem))
                    ).astype(np.int64)
            CB = new_cb
        out.extend(
            (m, int(c), [int(x) for x in CB[j]]) for j, c in enumerate(cids)
        )
    return out


#: (vec_id, m, sv) subvector relation shared by corpus, codebook, queries
_SQL_SUB = f"""
sub AS (
  SELECT vec_id, m, list_slice(qe, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
  FROM q CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) ms
)
"""

#: PQ index memo, keyed by (applicationId, sf_dir, role): the trained
#: codebook DataFrame ('cb') and the encoded corpus codes ('codes') are
#: the PQ INDEX — fixed for a fixed corpus, rebuilt from parquet on
#: every cold pass (ann_pq_topk is in bench.MEMO_QUERIES; the memo
#: auto-registers with the central clear_all_memos registry). r15,
#: guide §1.2/§2.4: the r14 shape re-collected + re-trained the
#: codebook and re-encoded the corpus through a broadcast join +
#: (vec_id, m) exchange on EVERY call.
_PQ_INDEX_CACHE = CheckpointMemo()


def _pq_encode_udf(cb_rows):
    """Arrow UDF: the PQ code array for the ``qe`` column — per
    subspace, argmin over exact-int64 squared L2 to each codeword, ties
    to the LOWEST k (identical to the oracle's MIN(struct(dist, k)) and
    to the r14 broadcast-join aggregate), as one numpy matmul per
    (batch, subspace). Same map-side vectorized contract as
    :func:`argmin_cell_sqdist`: no explode to (vec_id, m) rows, no
    broadcast build, no aggregation exchange (guide §2.4/§4 — the
    codebook is bounded driver data). An earlier r15 draft embedded the
    codebook as PQ_M×PQ_K×PQ_SUBDIM literal expressions instead; that
    made the memo-cold build pay ~9 s of Catalyst analysis/codegen for
    the expression forest — compile time, not data — which this
    constant-size UDF avoids."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    by_m: dict[int, list] = {}
    for m, k, cw in cb_rows:
        by_m.setdefault(m, []).append((k, cw))
    Ks, Cs, C2s = [], [], []
    for m in range(PQ_M):
        rows = sorted(by_m[m])
        Ks.append(np.array([k for k, _ in rows], dtype=np.int64))
        C = np.array([cw for _, cw in rows], dtype=np.int64)
        Cs.append(C)
        C2s.append((C * C).sum(axis=1))

    @pandas_udf("array<bigint>")
    def enc(qe: pd.Series) -> pd.Series:
        import numpy as np

        M = np.array(qe.tolist(), dtype=np.int64)
        out = np.empty((len(M), PQ_M), dtype=np.int64)
        for m in range(PQ_M):
            sub = M[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                - 2 * (sub @ Cs[m].T)
                + C2s[m][None, :]
            )
            best = d2.min(axis=1)
            out[:, m] = np.where(
                d2 == best[:, None], Ks[m][None, :], np.iinfo(np.int64).max
            ).min(axis=1)
        return pd.Series(list(out))

    return enc


def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codes, cb): the session-memoized PQ index. ``codes`` is the
    encoded corpus (vec_id, codes array<bigint>) — n·(PQ_M+1) small
    ints, the hot working set PQ exists to produce; ``cb`` the trained
    (m, k, cw) codebook. Built once per (session, corpus): TakeOrdered
    sample collect → driver numpy Lloyd (bounded PQ_TRAIN rows, the
    repo's bounded-scalar-read class) → one map-side encode pass over
    the quantized relation."""
    key = (spark.sparkContext.applicationId, sf_dir)
    codes = _PQ_INDEX_CACHE.get((*key, "codes"))
    cb = _PQ_INDEX_CACHE.get((*key, "cb"))
    if codes is not None and cb is not None:
        return codes, cb
    q = _spark_quantized_materialized(spark, sf_dir).select("vec_id", "qe")
    train_rows = (
        q.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_TRAIN)
        .collect()
    )
    cb_rows = _train_pq_codebook(train_rows)
    cb = _PQ_INDEX_CACHE.put(
        (*key, "cb"),
        spark.createDataFrame(
            cb_rows, "m int, k bigint, cw array<bigint>"
        ).localCheckpoint(eager=False),
    )
    codes = _PQ_INDEX_CACHE.put(
        (*key, "codes"),
        q.select(
            "vec_id", _pq_encode_udf(cb_rows)("qe").alias("codes")
        ).localCheckpoint(eager=False),
    )
    return codes, cb


@query(
    "ann_pq_topk",
    oracle=f"""
    WITH {_SQL_QUANTIZED},
    {_SQL_SUB},
    cb0 AS (
      SELECT m, vec_id AS k, sv AS cw FROM sub WHERE {_SQL_PQ_CB_WHERE}
    ),
    {_sql_pq_lloyd_ctes()},
    enc AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT s.vec_id, s.m, c.k,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(range({PQ_SUBDIM}),
                            i -> (s.sv[i+1] - c.cw[i+1]) * (s.sv[i+1] - c.cw[i+1]))),
                          c.k) AS erk
        FROM sub s JOIN cb c ON c.m = s.m
      ) t WHERE erk = 1
    ),
    qdots AS (
      SELECT s.vec_id AS query_id, s.m, c.k,
             list_sum(list_transform(range({PQ_SUBDIM}),
                      i -> s.sv[i+1] * c.cw[i+1])) AS pd
      FROM sub s JOIN cb c ON c.m = s.m
      WHERE s.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT d.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(d.pd) AS BIGINT) AS adot
      FROM enc e JOIN qdots d ON d.m = e.m AND d.k = e.code
      WHERE e.vec_id <> d.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adot DESC, neighbor_id) AS ark
        FROM adc
      ) t WHERE ark <= {PQ_CAND}
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
      SELECT c.query_id, c.neighbor_id,
             CAST({_SQL_DOT} AS DOUBLE)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY c.query_id
               ORDER BY CAST({_SQL_DOT} AS DOUBLE)
                        / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
                        DESC, c.neighbor_id) AS rk
      FROM cand c
      JOIN q a ON a.vec_id = c.query_id
      JOIN q b ON b.vec_id = c.neighbor_id
    ) t WHERE rk <= {TOP_K}
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k: encode the corpus to PQ_M-byte codes, score queries
    against codes with asymmetric distance (ADC), exact-rerank the top
    PQ_CAND.

    Scale shape (r15): the trained codebook + encoded corpus codes are
    the session-memoized PQ INDEX (_pq_index — at 100 TB the vectors
    live in cold storage and the hot working set is the n·PQ_M bytes of
    codes this memo holds; the bench's cold pass re-pays the full
    train + encode build). Encoding is the map-side Arrow pandas UDF
    :func:`_pq_encode_udf` (one numpy matmul per batch and subspace,
    codebook held in memory as bounded data) applied in the corpus scan —
    no explode, no broadcast build, no aggregation exchange (a join-based
    encode pays a broadcast join plus a (vec_id, m) shuffle per call).
    ADC joins the posexploded code table
    against the (tiny, broadcast) query partial-dot table on (m, code)
    — the corpus's full vectors are only touched for the PQ_CAND
    re-rank rows per query. Recall measured in
    tests/test_similarity_scale.py.
    """
    q = _spark_quantized_materialized(spark, sf_dir).select("vec_id", "qe", "nq")
    codes, cb = _pq_index(spark, sf_dir)
    enc = codes.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    pd = F.aggregate(
        F.zip_with("sv", "cw", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qdots = (
        q.filter(F.col("vec_id") < N_QUERIES)
        .select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
            "qe",
        )
        .select(
            "vec_id",
            "m",
            F.expr(f"slice(qe, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sv"),
        )
        .join(F.broadcast(cb), "m")
        .select(F.col("vec_id").alias("query_id"), "m", "k", pd.alias("pd"))
    )
    adc = (
        enc.join(
            F.broadcast(qdots),
            (enc.m == qdots.m) & (enc.code == qdots.k),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd").alias("adot"))
    )
    aw = Window.partitionBy("query_id").orderBy(F.col("adot").desc(), F.col("neighbor_id"))
    cand = (
        adc.withColumn("ark", F.row_number().over(aw))
        .filter(F.col("ark") <= PQ_CAND)
        .select("query_id", "neighbor_id")
    )
    cosine = _spark_dot("qa", "qb").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    rw = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.join(
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("qe").alias("qa"),
                F.col("nq").alias("na"),
            ),
            "query_id",
        )
        .join(
            q.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("qe").alias("qb"),
                F.col("nq").alias("nb"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= TOP_K)
    )


#: matryoshka truncation dims measured by embedding_energy_retention
MRL_DIMS = (8, 16, 32, 48)


def _energy_retention_oracle() -> str:
    from .relational import dd

    dims = ", ".join(str(d) for d in MRL_DIMS)
    return f"""
    WITH {_SQL_QUANTIZED},
    dims AS (SELECT unnest([{dims}]) AS trunc_dim),
    fr AS (
      SELECT d.trunc_dim, vec_id,
             CAST(
               CAST(list_sum(list_transform(qe[1:d.trunc_dim], x -> x * x))
                    AS DOUBLE) / CAST(nq AS DOUBLE)
             AS DECIMAL(14,9)) AS frac
      FROM q, dims d
    )
    SELECT trunc_dim, COUNT(*) AS n_vecs,
           {dd("SUM(frac)")} / COUNT(*) AS avg_energy,
           {dd("MIN(frac)")} AS min_energy,
           {dd("MAX(frac)")} AS max_energy
    FROM fr GROUP BY trunc_dim
    """


@query("embedding_energy_retention", oracle=_energy_retention_oracle())
def embedding_energy_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation curve: for each prefix length d, the
    fraction of every embedding's squared norm retained by its first d
    dimensions — cos²(full, truncated), the quantity that decides
    whether a retrieval index can serve truncated vectors at reduced
    storage/compute (MRL-style serving). Exact integer partial norms
    over the shared quantized relation; the per-vector fraction is one
    double division quantized to decimal so the cross-vector aggregates
    are order-independent and engine-exact. Map-side only until one
    4-group aggregation — nothing here shuffles more than the final
    (trunc_dim) rollup at any corpus size."""
    qdf = _spark_quantized_materialized(spark, sf_dir)
    per = qdf.select(
        "vec_id",
        "nq",
        "qe",
        F.explode(F.array(*[F.lit(d) for d in MRL_DIMS])).alias("trunc_dim"),
    )
    nq_d = F.aggregate(
        F.expr("slice(qe, 1, trunc_dim)"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x * x,
    )
    frac = (nq_d.cast("double") / F.col("nq").cast("double")).cast(
        "decimal(14,9)"
    )
    return (
        per.select("trunc_dim", frac.alias("frac"))
        .groupBy("trunc_dim")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("frac").cast("double") / F.count("*")).alias("avg_energy"),
            F.min("frac").cast("double").alias("min_energy"),
            F.max("frac").cast("double").alias("max_energy"),
        )
    )
