"""Persistent IVF ANN index — X3's build-once / probe-per-batch path.

The third member of the persistent-index family (near-dup:
operators/dedup_index.py; decontamination:
operators/contamination_index.py): the IVF state of an embedding corpus
— the frozen centroid sample and every vector's cell assignment — is
persisted once, and each incoming QUERY BATCH probes it without
recomputing a single corpus assignment:

  {name}_centroids (cid, ce, ncent)        — bounded (≤ 2^MAX_CELL_BITS
                                             rows), collected per probe
  {name}_cells     (vec_id, cell, qe, nq)  — bucketed on ``cell``; the
                                             candidate fetch joins on
                                             cell with the corpus side
                                             unshuffled

Probe cost: one bounded centroid collect + a map-side top-NPROBE cell
UDF over the batch + a broadcast join of O(batch·NPROBE) probe rows
into the bucketed cells table + exact rerank of the fetched candidates.
Nothing scans or shuffles the corpus. New vectors append via
:func:`extend_ann_index` under the FROZEN centroids — the standard IVF
posture (recall drifts only if the data distribution drifts; re-train =
rebuild, the compaction analog).

Every kernel (centroid id-hash sample, top-cells-by-cosine UDF, exact
int64 dot + correctly-rounded double cosine) is imported from
operators/similarity.py, so the probe is RESULT-IDENTICAL to the
monolithic `ann_ivf_topk` by construction — the registry query reuses
that query's oracle verbatim.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table_row_count
from ..functions.bucketing import write_bucketed
from ..functions.index_base import (
    ANN_IVF,
    IndexFamily,
    apply_tombstones,
    fold_side_tables,
    register_index_rows,
    single_writer,
    snapshot_before_write,
    tombstones,
)
from ..functions.memo import CheckpointMemo, unpersist_checkpoints
from .registry import ORACLES
from .similarity import (
    MAX_CELL_BITS,
    NPROBE,
    N_QUERIES,
    TOP_K,
    _spark_dot,
    _spark_quantized_materialized,
    centroid_sample_filter,
    centroid_stride,
    top_cells_by_cosine,
)

#: Hard ceiling on driver-collected centroid rows (round-13 VERDICT #6).
#: The id-hash sample targets ivf_cells_for(n) ≤ 2^MAX_CELL_BITS rows at
#: ANY corpus size — cells grow corpus-adaptively only until the clamp,
#: after which cell POPULATION grows instead, so the driver-side list is
#: O(1) in n, not O(√n). Binomial noise around the target is ~1/√16384;
#: 2× the clamp is therefore a broken-sampling alarm, never legitimate
#: headroom the probe is allowed to consume.
CENTROID_COLLECT_CEILING = 2 * (1 << MAX_CELL_BITS)


def collect_centroids(spark: SparkSession, table: str) -> list:
    """The ONLY sanctioned driver-side centroid materialization: every
    probe/extend/retrain path funnels through this bounded collect, so
    an index whose centroid table somehow outgrew the adaptive clamp
    fails loudly here instead of OOMing the driver downstream."""
    rows = spark.table(table).collect()
    if len(rows) > CENTROID_COLLECT_CEILING:
        raise RuntimeError(
            f"centroid table {table} holds {len(rows)} rows — above the "
            f"{CENTROID_COLLECT_CEILING} collect ceiling (2^MAX_CELL_BITS "
            "clamp × 2). The sampling stride is broken or the table was "
            "appended to outside retrain_ann_index; rebuild the index."
        )
    return [(r.cid, r.ce, r.ncent) for r in rows]


class AnnIndex(NamedTuple):
    """Handle to a persisted IVF index; its lifecycle (append, delete,
    expire, compact) is functions/index_base.ANN_IVF's."""

    centroids_table: str
    cells_table: str


def build_ann_index(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    name: str,
    n_rows: int | None = None,
) -> AnnIndex:
    """Persist the IVF state of a (vec_id, qe, nq) quantized-embedding
    relation: centroid sample (deterministic md5 id-hash — layout-free)
    and per-vector nearest-cell assignment (map-side vectorized, no
    n×nc materialization). Pass ``n_rows`` when the corpus size is
    already known (e.g. from parquet footer metadata) to skip the
    count job — the stride only needs the exact row count."""
    idx = AnnIndex(f"{name}_centroids", f"{name}_cells")
    stride = centroid_stride(vectors.count() if n_rows is None else n_rows)
    cent = vectors.filter(centroid_sample_filter(stride)).select(
        F.col("vec_id").alias("cid"),
        F.col("qe").alias("ce"),
        F.col("nq").alias("ncent"),
    )
    (
        cent.coalesce(1)
        .write.mode("overwrite")
        .option("path", f"{path}/centroids")
        .format("parquet")
        .saveAsTable(idx.centroids_table)
    )
    cent_rows = collect_centroids(spark, idx.centroids_table)
    assigned = vectors.select(
        "vec_id",
        top_cells_by_cosine(cent_rows, 1)("qe", "nq")[0].alias("cell"),
        "qe",
        "nq",
    )
    write_bucketed(assigned, idx.cells_table, f"{path}/cells", "cell", ANN_IVF.n_buckets)
    return ANN_IVF.seal(spark, idx, path)


def extend_ann_index(
    spark: SparkSession,
    index: AnnIndex,
    new_vectors: DataFrame,
    stamp: int | None = None,
) -> None:
    """Append new vectors under the FROZEN centroid set (classic IVF
    incremental ingest; recall under distribution shift is the re-train
    path's business — :func:`retrain_ann_index`). The centroids are
    collected and the assignment materialized under the writer lock (a
    concurrent retrain could otherwise swap the centroids between the
    assignment and the append). ``stamp``: optional logical ingest
    stamp for TTL expiry."""

    def assigned() -> dict[str, DataFrame]:
        cent_rows = collect_centroids(spark, index.centroids_table)
        cell = top_cells_by_cosine(cent_rows, 1)("qe", "nq")[0].alias("cell")
        return {"cells": snapshot_before_write(new_vectors.select("vec_id", cell, "qe", "nq"))}

    unpersist_checkpoints(ANN_IVF.append(spark, index, assigned, stamp)["cells"])


#: a retracted vector never surfaces as a neighbor and surviving ranks
#: close up exactly as a rebuild's would; frozen centroids are untouched
#: (a centroid is a cell ADDRESS, not a served row)
delete_from_ann_index = ANN_IVF.delete
expire_ann_index = ANN_IVF.expire
#: storage hygiene, not a model change: centroids stay frozen (that is
#: retrain_ann_index)
compact_ann_index = ANN_IVF.compact


def _retrain_swap(
    spark: SparkSession, index: AnnIndex, tmp_cells: str, tmp_cent: str
) -> None:
    """Swap BOTH tables to the new generation, holding BOTH retired
    generations until every rename has landed (round-9 review finding:
    using swap_table twice dropped the first table's retired generation
    before the second swap ran, so a crash in between had no complete
    old generation left to recover from). The drops come last and are
    cosmetic — a crash anywhere earlier leaves every generation's data
    reachable under live/_retired/_retraining names."""
    for live in (index.cells_table, index.centroids_table):
        spark.sql(f"DROP TABLE IF EXISTS {live}_retired")
    spark.sql(
        f"ALTER TABLE {index.cells_table} RENAME TO {index.cells_table}_retired"
    )
    spark.sql(f"ALTER TABLE {tmp_cells} RENAME TO {index.cells_table}")
    spark.sql(
        f"ALTER TABLE {index.centroids_table} RENAME TO "
        f"{index.centroids_table}_retired"
    )
    spark.sql(f"ALTER TABLE {tmp_cent} RENAME TO {index.centroids_table}")
    for live in (index.cells_table, index.centroids_table):
        spark.sql(f"DROP TABLE {live}_retired")


def cell_balance(spark: SparkSession, index: AnnIndex) -> dict:
    """Health metrics of the IVF cell layout — the ONE index statistic
    that moves every epoch once a stream GROWS the index (VERDICT r11
    #3): vectors ingested after the centroids were frozen pile into
    whichever cells are nearest the drifted distribution, so

    - ``imbalance`` = max / median live cell population: rises as a few
      cells absorb the drift (recall falls with it — the probe's
      nprobe-cells budget buys ever-less of the corpus);
    - ``mean_fill`` = mean population / TARGET_CELL: rises as the
      corpus outgrows the build-time centroid COUNT even without drift
      (stride was sized for the old n).

    One groupBy over the cells table projected to its bucket key — the
    same cost class as compaction_due's file statistics, paid only on
    the maintenance cadence. MaintenancePolicy.max_cell_imbalance
    compares against ``imbalance`` to auto-fire retrain."""
    from .similarity import TARGET_CELL

    pops = (
        apply_tombstones(
            spark.table(index.cells_table),
            tombstones(spark, index.cells_table),
            "vec_id",
        )
        .groupBy("cell")
        .count()
    )
    row = pops.agg(
        F.max("count").alias("mx"),
        F.expr("percentile(count, 0.5)").alias("med"),
        F.avg("count").alias("mean"),
        F.count("*").alias("nc"),
    ).first()
    if row["nc"] == 0:
        return {"imbalance": 1.0, "mean_fill": 0.0, "n_cells": 0,
                "max": 0, "median": 0.0}
    return {
        "imbalance": float(row["mx"]) / max(1.0, float(row["med"])),
        "mean_fill": float(row["mean"]) / TARGET_CELL,
        "n_cells": int(row["nc"]),
        "max": int(row["mx"]),
        "median": float(row["med"]),
    }


def retrain_ann_index(
    spark: SparkSession,
    index: AnnIndex,
    new_path: str,
) -> dict[str, int]:
    """Re-train the IVF model on the ACCUMULATED corpus (VERDICT r8
    #3): frozen centroids decay under distribution shift — vectors
    ingested far from every build-time centroid pile into few cells
    and recall drops (measured drift curve in SCALE.md). The fix is
    the classic IVF rebuild: resample centroids from everything now
    served (the same deterministic md5 id-hash sample as build, stride
    recomputed for the grown corpus), reassign every vector map-side,
    and rewrite the cells table bucketed — one corpus-sized job, the
    cost model compaction already set. Tombstoned vectors are folded
    out (they are neither sampled nor reassigned) and the side
    relations cleared.

    The two-table swap (:func:`_retrain_swap`) is not jointly atomic,
    but no crash window loses data: both retired generations are held
    until both live names point at the new generation. A crash mid-swap
    can leave probes mis-routed (new cells under old centroids or vice
    versa) until recovery; recovery is simply RE-RUNNING retrain after
    clearing the crashed run's lock file — retrain reads only
    (vec_id, qe, nq) from the cells table, columns both generations
    carry identically, so it is self-healing from any partial state.

    Returns {"n_vectors": ..., "n_centroids": ...}.
    """
    ANN_IVF.check(spark, index, backfill=True)
    with single_writer(spark, index.cells_table, op="retrain"):
        corpus = apply_tombstones(
            spark.table(index.cells_table), tombstones(spark, index.cells_table), "vec_id"
        ).select("vec_id", "qe", "nq")
        # one count job — retrain is corpus-sized by design
        n = corpus.count()
        stride = centroid_stride(n)
        cent = corpus.filter(centroid_sample_filter(stride)).select(
            F.col("vec_id").alias("cid"),
            F.col("qe").alias("ce"),
            F.col("nq").alias("ncent"),
        )
        tmp_cent = f"{index.centroids_table}_retraining"
        (
            cent.coalesce(1)
            .write.mode("overwrite")
            .option("path", f"{new_path}/centroids")
            .format("parquet")
            .saveAsTable(tmp_cent)
        )
        cent_rows = collect_centroids(spark, tmp_cent)
        assigned = corpus.select(
            "vec_id",
            top_cells_by_cosine(cent_rows, 1)("qe", "nq")[0].alias("cell"),
            "qe",
            "nq",
        )
        tmp_cells = f"{index.cells_table}_retraining"
        n_buckets = ANN_IVF.n_buckets
        bucket_id = F.pmod(F.hash(F.col("cell")), F.lit(n_buckets))
        write_bucketed(
            assigned.repartition(n_buckets, bucket_id),
            tmp_cells,
            f"{new_path}/cells",
            "cell",
            n_buckets,
        )
        _retrain_swap(spark, index, tmp_cells, tmp_cent)
        fold_side_tables(spark, index.cells_table, new_path)
        ANN_IVF.seal(spark, index, new_path)
        return {"n_vectors": n, "n_centroids": len(cent_rows)}


def ann_query_index(
    spark: SparkSession,
    queries: DataFrame,
    index: AnnIndex,
    nprobe: int = NPROBE,
    topk: int = TOP_K,
    cent_rows: list | None = None,
) -> DataFrame:
    """Top-k cosine neighbors for a (vec_id, qe, nq) query batch probed
    against the persisted index: (query_id, neighbor_id, cell, cosine,
    rk). Self-matches (same vec_id) are excluded, matching
    `ann_ivf_topk`'s contract when queries are drawn from the corpus.
    ``cent_rows``: pass the already-collected (cid, ce, ncent) centroid
    list to skip the bounded driver collect — for callers that need the
    centroids themselves anyway (the growing funnel probe collects once
    per epoch and shares it here)."""
    ANN_IVF.check(spark, index)
    if cent_rows is None:
        cent_rows = collect_centroids(spark, index.centroids_table)
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(top_cells_by_cosine(cent_rows, nprobe)("qe", "nq")).alias("cell"),
    )
    # retracted vectors never surface as neighbors: broadcast anti-join
    # (no-op when nothing was ever deleted), cells-side bucketing kept
    corpus = apply_tombstones(
        spark.table(index.cells_table), tombstones(spark, index.cells_table), "vec_id"
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("qe").alias("qb"),
        F.col("nq").alias("nb"),
    )
    qa = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("qa"),
        F.col("nq").alias("na"),
    )
    cosine = _spark_dot("qa", "qb").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    ranked = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qa), "query_id")
        .select("query_id", "neighbor_id", "cell", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return ranked.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= topk
    )


#: session memo of the registry rows (functions/index_base.INDEX_ROWS)
_ANNIDX_MEMO = CheckpointMemo()


def _probe(spark: SparkSession, queries: DataFrame, index: AnnIndex):
    # NO eviction extra, deliberately: ann_query_index creates no
    # checkpoints of its own — the only LogicalRDD leaves in its
    # lineage are the SHARED quantized-embeddings checkpoint owned by
    # similarity._QUANT_CACHE. Registering it as an extra would
    # unpersist that shared handle on eviction while the other memo
    # still serves it (cross-memo ownership).
    return ann_query_index(spark, queries, index), ()


def _oracle(deleted: str | None) -> str:
    """`ann_ivf_topk`'s oracle verbatim — the index reuses its centroid
    sample, assignment kernel and rerank expression, so the persisted
    path must reproduce it bit for bit. ``deleted``: drop those vectors
    from the candidate side ONLY; the centroid sample stays the
    full-corpus one, mirroring the engine's frozen centroids."""
    base = ORACLES["ann_ivf_topk"]
    if deleted is None:
        return base
    out = base.replace(
        "WHERE s.vec_id <> p.query_id",
        f"WHERE s.vec_id <> p.query_id AND NOT (s.{deleted})",
    )
    assert out != base
    return out


(
    ann_ivf_index_topk,
    ann_ivf_retrain_topk,
    ann_ivf_index_post_delete,
) = register_index_rows(IndexFamily(
    spec=ANN_IVF,
    memo=_ANNIDX_MEMO,
    merge_memo=None,
    corpus=None,
    batch=f"vec_id < {N_QUERIES}",
    load=lambda spark, sf_dir: _spark_quantized_materialized(spark, sf_dir).select(
        "vec_id", "qe", "nq"
    ),
    # the whole corpus's size is in the parquet footers: skip the count
    build=lambda spark, sf_dir, vectors, path, name, stamp, whole: build_ann_index(
        spark, vectors, path, name,
        n_rows=table_row_count(sf_dir, "embeddings") if whole else None,
    ),
    ingest=extend_ann_index,
    probe=_probe,
    oracle=_oracle,
    retrain=retrain_ann_index,
))
