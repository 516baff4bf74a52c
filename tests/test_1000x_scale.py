"""Fifth scale point — 1000×sf0.1, single family (round-13 VERDICT #7).

The 100× suite (500k docs) is green; this pushes ONE family —
MinHash-LSH through its PERSISTENT index — to ~5M documents to find
the next wall: index build wall-clock, files-per-bucket in the
bucketed band/shingle tables (the small-files failure mode), and the
probe's candidates/doc at a realistic batch size.

Documents-only corpus (the embeddings families keep their 100× point):
the same per-copy character-class bijections as scale_corpus, written
in APPEND CHUNKS of 100 copies — a single 1000-branch union plan costs
Catalyst quadratic analysis time; ten 100-branch plans do not.

Opt-in via SPARK_GRAFT_SWEEP_1000X=1 (heavier than the 100× sweep:
~5 GB of corpus + index writes). Measurements recorded in SCALE.md.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from scale_corpus import ID_STRIDE, permuted_alphabet

from postgresql_transfer_tool_spark.catalog import load_table, table_row_count

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SWEEP_1000X"),
    reason="1000x sweep is opt-in (SPARK_GRAFT_SWEEP_1000X=1)",
)

SF_MID = "/root/testdata/sf0.1"
COPIES = 1000
CHUNK = 100
N_FILES = 64


def _build_docs_corpus(spark, out_dir: str) -> None:
    assert COPIES * 5000 < ID_STRIDE
    docs = load_table(spark, SF_MID, "documents")
    path = f"{out_dir}/documents.parquet"
    for lo in range(0, COPIES, CHUNK):
        parts = []
        for k in range(lo, lo + CHUNK):
            if k == 0:
                parts.append(docs)
                continue
            src, dst = permuted_alphabet(k)
            parts.append(
                docs.select(
                    (F.col("doc_id") + k * ID_STRIDE).alias("doc_id"),
                    F.translate("text", src, dst).alias("text"),
                    "lang", "source", "n_chars",
                )
            )
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        d.repartition(N_FILES // (COPIES // CHUNK) or 1).write.mode(
            "append"
        ).parquet(path)


@pytest.fixture(scope="module")
def x1000_dir(spark):
    out = tempfile.mkdtemp(prefix="x1000_corpus_")
    t0 = time.time()
    _build_docs_corpus(spark, out)
    print(f"1000x corpus build: {time.time() - t0:.0f}s", flush=True)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _files_per_bucket(spark, table: str) -> tuple[float, int]:
    """(mean, max) parquet files per bucket of a bucketed table —
    bucket id is encoded in the file name's _NNNNN suffix."""
    from postgresql_transfer_tool_spark.functions.index_base import (
        table_location,
    )

    loc = table_location(spark, table)
    counts: dict[int, int] = {}
    for f in os.listdir(loc):
        m = re.search(r"_(\d{5})(?:[._]|$)", f)
        if f.endswith(".parquet") and m:
            b = int(m.group(1))
            counts[b] = counts.get(b, 0) + 1
    assert counts, f"no bucketed files under {loc}"
    vals = list(counts.values())
    return sum(vals) / len(vals), max(vals)


@pytest.fixture(scope="module")
def x1000_index(spark, x1000_dir):
    """One-time MinHash-LSH index over the 1000× corpus MINUS the
    held-out batch (doc_id % 400 == 0) — shared by the probe test and
    the composed-funnel test (the funnel runs after and EXTENDS it,
    which is the seen=probed contract, not contamination)."""
    from postgresql_transfer_tool_spark.operators.dedup_index import (
        build_dedup_index,
    )

    docs = load_table(spark, x1000_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 400 != 0)
    name = "ddidx1000x"
    t0 = time.time()
    index = build_dedup_index(
        spark, corpus, tempfile.mkdtemp(prefix=name), name
    )
    build_s = time.time() - t0
    print(f"1000x index build: {build_s:.0f}s", flush=True)
    yield index
    for t in (index.bands_table, index.shingles_table,
              f"{name}_tombstones", f"{name}_stamps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_index_1000x(spark, x1000_dir, x1000_index):
    """5M documents through the persistent MinHash-LSH index:

    1. one-time index build (the only corpus-sized shuffle) completes,
       timed — at the DEFAULT 8 GiB driver heap (round-13 VERDICT #1:
       the build caches nothing corpus-sized; every barrier is a
       disk-backed shuffle);
    2. files-per-bucket stays sane (the bucketed layout's small-files
       wall);
    3. a 12.5k-doc batch probe is candidate-bounded: candidates/doc
       within the same ceiling every smaller point obeys, and the
       probe never rescans the corpus.
    """
    from postgresql_transfer_tool_spark.operators.dedup_index import (
        dedup_batch_against_index,
    )

    n_docs = table_row_count(x1000_dir, "documents")
    assert n_docs == COPIES * 5000

    docs = load_table(spark, x1000_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 400 == 0)
    index = x1000_index

    mean_b, max_b = _files_per_bucket(spark, index.bands_table)
    mean_s, max_s = _files_per_bucket(spark, index.shingles_table)
    print(
        f"1000x index files/bucket: bands mean {mean_b:.1f} max {max_b}  "
        f"shingles mean {mean_s:.1f} max {max_s}",
        flush=True,
    )
    # bucket-aligned build: one file per bucket per write split group;
    # the r13 rewrite must not regress to files ∝ write tasks
    assert max_b <= 80 and max_s <= 80

    n_batch = batch.count()
    t0 = time.time()
    res = dedup_batch_against_index(spark, batch, index)
    n_cand = res.matched.count() if hasattr(res, "matched") else -1
    novel = res.novel_ids.count()
    probe_s = time.time() - t0
    print(
        f"1000x probe: batch {n_batch}  matched-pairs {n_cand}  "
        f"novel {novel}  wall {probe_s:.0f}s  "
        f"pairs/doc {n_cand / n_batch:.2f}",
        flush=True,
    )
    assert n_cand / n_batch <= 50, (n_cand, n_batch)
    assert 0 < novel <= n_batch
    for d in res.checkpoints:
        from postgresql_transfer_tool_spark.functions.memo import (
            unpersist_checkpoints,
        )

        unpersist_checkpoints(d)


@pytest.fixture(scope="module")
def x1000_emb_dir(spark, x1000_dir):
    """2M-vector embeddings corpus (1000×sf0.1) written into the same
    dir as the 1000× documents, with scale_corpus's per-copy ±1 sign
    masks (sign²=1 preserves intra-copy dots exactly; inter-copy dots
    decorrelate) — in APPEND CHUNKS like the docs builder, for the same
    Catalyst-quadratic-union reason."""
    from scale_corpus import sign_mask

    embs = load_table(spark, SF_MID, "embeddings")
    dim = len(embs.select("embedding").first()[0])
    masks = [tuple(sign_mask(k, dim)) for k in range(COPIES)]
    assert len(set(masks)) == COPIES, "sign-mask collision"
    path = f"{x1000_dir}/embeddings.parquet"
    t0 = time.time()
    for lo in range(0, COPIES, CHUNK):
        parts = []
        for k in range(lo, lo + CHUNK):
            if k == 0:
                parts.append(embs)
                continue
            mask = F.array(*[F.lit(s) for s in masks[k]])
            parts.append(
                embs.select(
                    (F.col("vec_id") + k * ID_STRIDE).alias("vec_id"),
                    F.zip_with(
                        "embedding", mask, lambda x, s: (x * s).cast("float")
                    ).alias("embedding"),
                    "label",
                )
            )
        e = parts[0]
        for p in parts[1:]:
            e = e.unionByName(p)
        e.repartition(N_FILES // (COPIES // CHUNK) or 1).write.mode(
            "append"
        ).parquet(path)
    print(f"1000x embeddings build: {time.time() - t0:.0f}s", flush=True)
    return x1000_dir


def test_ann_index_1000x(spark, x1000_emb_dir):
    """Persisted IVF at 2,000,000 vectors (round-13 VERDICT #6 — the
    vector side's decade point past the 200k 100× suite):

    1. the one-time build completes and its centroid count sits at the
       adaptive clamp (2^MAX_CELL_BITS — the collect stays O(1) in n
       from here up, enforced by collect_centroids' ceiling);
    2. recall@TOP_K vs exact brute force, measured across per-query
       nprobe — the curve a caller buys at the 16384-cell count;
    3. probe wall-clock per nprobe point, for SCALE.md.
    """
    from postgresql_transfer_tool_spark.operators.ann_index import (
        ann_query_index,
        build_ann_index,
        CENTROID_COLLECT_CEILING,
    )
    from postgresql_transfer_tool_spark.operators.similarity import (
        _spark_dot,
        _spark_quantized,
        ivf_cells_for,
        TOP_K,
    )
    from pyspark.sql.window import Window

    q = _spark_quantized(spark, x1000_emb_dir)
    corpus = q.filter(F.col("vec_id") % 400 != 0)
    n_corpus = COPIES * 2000 - COPIES * 5  # 5 of 2000 ids ≡ 0 (mod 400)
    assert q.count() == COPIES * 2000

    name = "annidx1000x"
    t0 = time.time()
    index = build_ann_index(
        spark, corpus, tempfile.mkdtemp(prefix=name), name, n_rows=n_corpus
    )
    build_s = time.time() - t0
    n_cent = spark.table(index.centroids_table).count()
    print(
        f"1000x ann: build {build_s:.0f}s  centroids {n_cent} "
        f"(clamp {ivf_cells_for(n_corpus)})",
        flush=True,
    )
    # id-hash sample around the clamp target: Poisson ±4σ ≈ ±512
    assert ivf_cells_for(n_corpus) == 16384
    assert 15500 <= n_cent <= 17300
    assert n_cent <= CENTROID_COLLECT_CEILING

    # 24 held-out queries; exact ground truth by brute force over the
    # indexed corpus (24 × 2M dots, JVM-side — the one genuinely
    # corpus-sized scan this test pays on purpose)
    queries = q.filter(F.col("vec_id") % 400 == 0).filter(
        (F.col("vec_id") / 400) % 83 == 0
    ).localCheckpoint(eager=True)
    n_q = queries.count()
    assert 0 < n_q <= 64
    a = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qe").alias("qb"),
        F.col("nq").alias("nb"),
    )
    cos = _spark_dot("qa", "qb").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    t0 = time.time()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in (
            a.crossJoin(b)
            .select("query_id", "neighbor_id", cos.alias("cosine"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .collect()
        )
    }
    brute_s = time.time() - t0
    print(f"1000x ann: brute-force truth {brute_s:.0f}s", flush=True)

    curve = []
    for nprobe in (1, 2, 4, 8, 16):
        t0 = time.time()
        got = {
            (r.query_id, r.neighbor_id)
            for r in ann_query_index(
                spark, queries, index, nprobe=nprobe, topk=TOP_K
            ).collect()
        }
        dt = time.time() - t0
        recall = len(exact & got) / len(exact)
        curve.append((nprobe, recall, dt))
        print(
            f"1000x ann: nprobe {nprobe:2d}  recall@{TOP_K} {recall:.3f}  "
            f"probe {dt:.1f}s",
            flush=True,
        )
    # the knob must buy recall monotonically (±measurement noise) and
    # saturate high; a collapsed curve means the clamp broke assignment
    assert curve[-1][1] >= 0.9, curve
    assert curve[-1][1] >= curve[0][1], curve
    for t in (index.centroids_table, index.cells_table,
              f"{name}_cells_tombstones", f"{name}_cells_stamps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_funnel_1000x(spark, x1000_dir, x1000_emb_dir, x1000_index):
    """The COMPOSED admission funnel at the 1000× point (round-13
    VERDICT #4): the streamed sink's full trilogy — near-dup probe +
    contamination probe + embedding-novelty probe — plus the adaptive
    per-epoch budget gate, driven for four id-ordered epochs over a
    12.5k-doc batch against the 5M-doc index. The predicted walls are
    streamed-append file counts and the budget-state read-back; both
    are measured here.
    """
    import uuid as _uuid

    from postgresql_transfer_tool_spark.functions.memo import (
        unpersist_checkpoints,
    )
    from postgresql_transfer_tool_spark.operators.ann_index import (
        build_ann_index,
    )
    from postgresql_transfer_tool_spark.operators.contamination_index import (
        build_contamination_index,
    )
    from postgresql_transfer_tool_spark.operators.corpus import _BENCH_MOD
    from postgresql_transfer_tool_spark.operators.dedup_index import (
        batch_signatures,
    )
    from postgresql_transfer_tool_spark.operators.similarity import (
        _spark_quantized,
        NPROBE,
    )
    from postgresql_transfer_tool_spark.streaming.ingest_funnel import (
        IngestFunnelSink,
    )

    tag = _uuid.uuid4().hex[:8]
    docs = load_table(spark, x1000_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 400 == 0)
    n_batch = batch.count()

    # benchmark slice for the contamination gram index — same rule as
    # the 100× suite (docs % _BENCH_MOD), held-out grams only
    t0 = time.time()
    gtable = build_contamination_index(
        spark, docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .filter(F.col("doc_id") % 400 != 0),
        tempfile.mkdtemp(prefix=f"x1000g{tag}"), f"contidx_x1000{tag}",
    )
    cont_s = time.time() - t0
    q = _spark_quantized(spark, x1000_emb_dir)
    n_vec = COPIES * 2000 - COPIES * 5
    t0 = time.time()
    ann = build_ann_index(
        spark, q.filter(F.col("vec_id") % 400 != 0),
        tempfile.mkdtemp(prefix=f"x1000a{tag}"), f"annidx_x1000f{tag}",
        n_rows=n_vec,
    )
    ann_s = time.time() - t0
    print(
        f"1000x funnel: contamination build {cont_s:.0f}s  "
        f"ann build {ann_s:.0f}s", flush=True,
    )

    out = tempfile.mkdtemp(prefix=f"x1000out{tag}")
    sink = IngestFunnelSink(
        spark, x1000_index, gtable, out,
        ann_index=ann, embeddings=q, nprobe=NPROBE,
        source_budget=120_000, budget_per_epoch=True,
    )
    # four id-ordered epochs: copy index k = doc_id // ID_STRIDE is
    # nondecreasing in doc_id, so k-quartiles are id-ordered — the
    # monotone-serial ingest contract the sink's epoch-cut invariance
    # assumes
    epoch_walls = []
    n_epochs = 4
    for e in range(n_epochs):
        lo, hi = e * COPIES // n_epochs, (e + 1) * COPIES // n_epochs
        ep = batch.filter(
            (F.col("doc_id") / ID_STRIDE >= lo)
            & (F.col("doc_id") / ID_STRIDE < hi)
        )
        t0 = time.time()
        sink(ep, e)
        epoch_walls.append(time.time() - t0)
    total = sum(epoch_walls)
    walls = " ".join(f"{w:.0f}" for w in epoch_walls)
    print(
        f"1000x funnel: epochs [{walls}]s  total {total:.0f}s  "
        f"decided/s {n_batch / total:.0f}", flush=True,
    )

    dec = sink.decisions()
    n_dec = dec.count()
    assert n_dec == n_batch == dec.select("doc_id").distinct().count()
    n_adm = dec.filter(F.col("admitted")).count()
    n_text_dup = dec.filter(~F.col("is_novel")).count()
    n_emb = dec.filter(F.col("is_emb_novel").isNotNull()).count()
    print(
        f"1000x funnel: decided {n_dec}  admitted {n_adm}  "
        f"text-dup {n_text_dup}  emb-probed {n_emb}", flush=True,
    )
    assert 0 < n_adm < n_batch  # budget + dup gates both bit
    assert n_emb > 0  # the trilogy's vector leg actually ran

    # candidate boundedness against the FINAL (streamed-extended) index:
    # batch bands vs every band indexed, self-pairs excluded
    hashed, bands, pre = batch_signatures(batch)
    t_cand = (
        bands.select("band_key", F.col("doc_id").alias("bid"))
        .join(
            spark.table(x1000_index.bands_table).select(
                "band_key", F.col("doc_id").alias("iid")
            ),
            "band_key",
        )
        .filter(F.col("bid") != F.col("iid"))
        .select("bid", "iid").distinct().count()
    )
    print(f"1000x funnel: text cand/doc {t_cand / n_batch:.2f}", flush=True)
    assert t_cand / n_batch <= 10.0
    for d in (hashed, bands, pre):
        unpersist_checkpoints(d)

    # streamed-append file growth: each epoch appends ≤ a bounded file
    # set per bucket (bucket-aligned appends), so files/bucket is
    # build + O(epochs), never O(write tasks × epochs)
    mean_b, max_b = _files_per_bucket(spark, x1000_index.bands_table)
    mean_s, max_s = _files_per_bucket(spark, x1000_index.shingles_table)
    print(
        f"1000x funnel: files/bucket bands mean {mean_b:.1f} max {max_b}  "
        f"shingles mean {mean_s:.1f} max {max_s}", flush=True,
    )
    assert max_b <= 80 + 3 * n_epochs and max_s <= 80 + 3 * n_epochs

    # budget-state read-back is dimension-sized: one row per source
    srcs = batch.select("source").distinct().count()
    state = sink.budget.state(n_epochs)
    assert state.count() <= srcs
    for t in (gtable, ann.cells_table, ann.centroids_table,
              f"contidx_x1000{tag}_tombstones",
              f"annidx_x1000f{tag}_cells_tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
