"""The incremental ingest funnel — the persistent indexes composed into
one admission pipeline, and its 23 registry rows generated from one table.

A training-data pipeline runs the indexes as a per-batch funnel:
near-dup admission against the accumulated corpus
(operators/dedup_index.py), benchmark decontamination against the
held-out gram index (operators/contamination_index.py), then a quality
floor of MIN_TOKENS whitespace tokens — one admission decision per
incoming document, with the evidence columns audits need
(:func:`funnel_decisions`, shared verbatim by the batch rows and the
streaming sinks). Optional stages add embedding novelty under the IVF
index (:func:`apply_embedding_stage`) and media novelty under the
media-fingerprint index (:func:`apply_media_stage`); the per-source
token budget gate lives in streaming/source_budget.py.

Every registry row is one :class:`FunnelRow` of :data:`FUNNEL_ROWS`,
registered by :func:`register_funnel_rows`. A row names its driver,
its extra stages, its budget, its maintenance policy, the tag its index
tables are named by, and its view over the decisions. Index set-up, the
epoch cut and sink construction run once per row through shared code
and memoize per run — rows with the same tag and stages share one run.
Each row's DuckDB oracle is assembled from SQL fragments written once:
the dedup verified-pairs chain shared with the dedup oracles
(dedup_index.verified_pairs_cte), the contamination chain, one
duplicate rule per delivery order, one decision CTE, and one fragment
per view. Each oracle recomputes the whole funnel monolithically, so a
streamed row that hash-matches it proves the composed, epoch-wise path
equals the one-shot computation.

100 TB posture: per-batch work ∝ batch — bucketed index sides are never
shuffled or rescanned, and the stages compose as one Spark plan over
the batch (left joins against batch-sized relations).

Reference parity: the reference's closest analog is the unsynced-flag
loop (transfer_data_script.py:96-133) — "rows not yet copied" decided
per batch; this funnel generalizes the admission predicate from
"not yet copied" to "novel ∧ uncontaminated ∧ above quality floor".
"""

from __future__ import annotations

import datetime
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.bucketing import index_table_name
from ..functions.memo import CheckpointMemo
from .contamination_index import build_contamination_index, check_batch_contamination
from .corpus import _BENCH_MOD, _NGRAM, _SQL_TOKS
from .dedup import COSINE_NEARDUP_THRESHOLD as TAU_EMB
from .dedup import JACCARD_THRESHOLD
from .dedup_index import (
    BATCH_MOD,
    build_dedup_index,
    dedup_batch_against_index,
    verified_pairs_cte,
)
from .registry import query

#: quality floor: documents shorter than this many whitespace tokens
#: are rejected regardless of novelty/contamination
MIN_TOKENS = 10
#: per-source token budget (a data mix caps each source's contribution;
#: 4096 keeps several sources partially filled at fixture scale, so the
#: boundary rule is actually exercised)
SOURCE_TOKEN_BUDGET = 4096
#: total token budget distributed across sources by mix weight, sized
#: so per-source budgets land around the uniform cap at fixture scale
WEIGHTED_BUDGET_TOTAL = 16384
#: per-source tokens allotted PER EPOCH under the adaptive gate — low
#: enough that the gate bites in every epoch, high enough that
#: under-filled sources visibly spend their carry later
ADAPTIVE_EPOCH_BUDGET = 300
#: allowed lateness (minutes). With event minutes spread over [0, 101)
#: per epoch, a 90-minute delay leaves the watermark ~10 minutes into
#: the range — a realistic small late fraction, not a decimation
LATE_DELAY_MIN = 90
#: epochs of the modulus arrival cut (doc_id div 4) mod MOD_EPOCHS —
#: uncorrelated with doc_id order and with the synthetic event time
MOD_EPOCHS = 3

_INGEST_MEMO = CheckpointMemo()

#: deterministic synthetic event time: minute offset (doc_id*37)%101
#: from a fixed origin, identical in both engines
_LATE_TS_SPARK = (
    "timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, "
    "cast((doc_id * 37) % 101 as int), 0)"
)
_LATE_TS_DUCK = "TIMESTAMP '2026-01-01 00:00:00' + to_minutes((doc_id * 37) % 101)"


# ---------------------------------------------------------------------------
# the decision relation and its stages (shared with the streaming sinks)
# ---------------------------------------------------------------------------

def funnel_decisions(
    batch: DataFrame, novel_ids: DataFrame, cont: DataFrame
) -> DataFrame:
    """The funnel's per-document admission decision relation:
    (doc_id, is_novel, n_grams, n_shared, is_contaminated, n_tokens,
    admitted) from one batch's docs, its dedup-probe novel ids, and its
    contamination stats. One Spark plan — two left joins against
    batch-sized relations plus per-row expressions; shared verbatim by
    the batch rows and the streaming sinks, so both paths decide
    admission with literally the same code."""
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    out = (
        batch.select("doc_id", n_tokens.alias("n_tokens"))
        .join(novel_ids.withColumn("is_novel", F.lit(True)), "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_novel", F.lit(False)).alias("is_novel"),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            F.coalesce("is_contaminated", F.lit(False)).alias("is_contaminated"),
            "n_tokens",
        )
    )
    return out.withColumn(
        "admitted",
        F.col("is_novel")
        & ~F.col("is_contaminated")
        & (F.col("n_tokens") >= MIN_TOKENS),
    )


def apply_embedding_stage(decisions: DataFrame, nn: DataFrame) -> DataFrame:
    """Fold the embedding-novelty stage into a funnel decision relation:
    left-join each doc's nearest accumulated neighbor cosine (``nn``:
    (doc_id, nn_raw), absent rows ⇒ no probed candidate ⇒ novel) and
    re-derive the admission predicate with the extra conjunct
    (cosine < TAU_EMB)."""
    nnc = F.coalesce(F.col("nn_raw"), F.lit(0.0))
    emb_novel = nnc < TAU_EMB
    return decisions.join(nn, "doc_id", "left").select(
        "doc_id",
        "is_novel",
        emb_novel.alias("is_emb_novel"),
        nnc.alias("nn_cosine"),
        "is_contaminated",
        "n_tokens",
        (
            F.col("is_novel")
            & emb_novel
            & ~F.col("is_contaminated")
            & (F.col("n_tokens") >= MIN_TOKENS)
        ).alias("admitted"),
    )


def apply_media_stage(decisions: DataFrame, media_novel: DataFrame) -> DataFrame:
    """Fold the cross-modal media stage into a funnel decision relation:
    left-join the media-novel id set from the persistent fingerprint
    index probe (operators/multimodal.probe_media_fp — absent row ⇒ a
    media-dup) and re-derive admission with the extra conjunct, making
    the REJECTION rule text-dup OR media-dup."""
    cols = [c for c in decisions.columns if c != "admitted"]
    m_novel = F.coalesce(F.col("_m_novel"), F.lit(False))
    return decisions.join(
        media_novel.select("doc_id").withColumn("_m_novel", F.lit(True)),
        "doc_id",
        "left",
    ).select(
        *cols,
        m_novel.alias("is_media_novel"),
        (F.col("admitted") & m_novel).alias("admitted"),
    )


def _batch_vectors(batch_doc_ids: DataFrame, embeddings: DataFrame) -> DataFrame:
    return embeddings.join(
        batch_doc_ids.select(F.col(batch_doc_ids.columns[0]).alias("vec_id")),
        "vec_id",
        "left_semi",
    )


def embedding_nn_probe(
    spark: SparkSession,
    batch_doc_ids: DataFrame,
    embeddings: DataFrame,
    ann_index,
    nprobe: int,
) -> DataFrame:
    """(doc_id, nn_raw): each batch doc's nearest accumulated neighbor
    cosine through the persisted IVF index — top-1 over ``nprobe``
    probed cells, the production ANN path. Docs without an embedding
    row simply produce no probe (and stay embedding-novel)."""
    from .ann_index import ann_query_index

    return ann_query_index(
        spark, _batch_vectors(batch_doc_ids, embeddings), ann_index,
        nprobe=nprobe, topk=1,
    ).select(F.col("query_id").alias("doc_id"), F.col("cosine").alias("nn_raw"))


def embedding_nn_probe_growing(
    spark: SparkSession,
    batch_doc_ids: DataFrame,
    embeddings: DataFrame,
    ann_index,
    nprobe: int,
) -> DataFrame:
    """(doc_id, nn_raw) for the GROWING-index admission rule: each batch
    doc's nearest neighbor over the persisted IVF cells ∪ LOWER-ID batch
    vectors assigned to its probed cells — the embedding analog of the
    dedup rule "matches any indexed doc or a lower-id batch doc"
    (operators/dedup_index.dedup_batch_against_index), which is what
    makes the decision epoch-cut-invariant: with id-ordered epochs and a
    seen=probed index extension, every earlier-epoch vector sits in the
    index at a lower id and every same-epoch lower-id vector is covered
    by the batch-local side, so N streamed epochs ≡ the monolithic batch
    rule. Cell addressing is FROZEN (the corpus-built centroid sample)
    for both sides, so assignments never depend on when a vector
    arrived. Cost: the index side is the standard probe (bucketed cells
    never reshuffled); the batch-local side joins two batch-sized
    relations on cell — per-batch work ∝ batch."""
    from .ann_index import ann_query_index, collect_centroids
    from .similarity import _spark_dot, top_cells_by_cosine

    batch_v = _batch_vectors(batch_doc_ids, embeddings)
    # one bounded centroid collect per epoch, shared between the index
    # probe and the batch-local side
    cent_rows = collect_centroids(spark, ann_index.centroids_table)
    idx_nn = ann_query_index(
        spark, batch_v, ann_index, nprobe=nprobe, topk=1, cent_rows=cent_rows
    ).select("query_id", "cosine")
    probes = batch_v.select(
        F.col("vec_id").alias("query_id"),
        F.explode(top_cells_by_cosine(cent_rows, nprobe)("qe", "nq")).alias("cell"),
    )
    assigned = batch_v.select(
        F.col("vec_id").alias("neighbor_id"),
        top_cells_by_cosine(cent_rows, 1)("qe", "nq")[0].alias("cell"),
        F.col("qe").alias("qb"),
        F.col("nq").alias("nb"),
    )
    qa = batch_v.select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("qa"), F.col("nq").alias("na")
    )
    cosine = _spark_dot("qa", "qb").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    local_nn = (
        probes.join(assigned, "cell")
        .filter(F.col("neighbor_id") < F.col("query_id"))
        .join(qa, "query_id")
        .select("query_id", cosine.alias("cosine"))
    )
    return (
        idx_nn.unionByName(local_nn)
        .groupBy("query_id")
        .agg(F.max("cosine").alias("nn_raw"))
        .select(F.col("query_id").alias("doc_id"), "nn_raw")
    )


#: the mix-weight × total → per-source integer budget, mirrored by
#: :func:`source_weight_budgets`. The sqrt/decimal/varchar dance is
#: domain_mix_weights' pinned cross-engine float recipe; the final
#: floor lands on an exact BIGINT, so the budget COMPARISON is pure
#: integer arithmetic on both engines
_WBUD_CTE = f"""wbud AS (
      SELECT source,
             CAST(FLOOR(CAST(CAST(s AS VARCHAR) AS DOUBLE)
                        / CAST(CAST(SUM(s) OVER () AS VARCHAR) AS DOUBLE)
                        * {WEIGHTED_BUDGET_TOTAL}) AS BIGINT) AS budget_tokens
      FROM (
        SELECT source,
               CAST(sqrt(CAST(SUM(len({_SQL_TOKS})) AS DOUBLE))
                    AS DECIMAL(24,9)) AS s
        FROM documents GROUP BY source
      )
    )"""


def source_weight_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, budget_tokens): per-source token budgets from the
    temperature-scaled mix weights (curation.domain_mix_weights, α=1/2)
    — ``floor(mix_weight × WEIGHTED_BUDGET_TOTAL)``. The weights come
    from the WHOLE corpus (a production mix is computed upstream of any
    one batch); sqrt is IEEE-correctly-rounded and the normalizer sums
    through DECIMAL, so the doubles — and therefore the floored integer
    budgets — are bit-identical across engines and partitionings.
    Dimension-sized: one row per source."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.trim("text"), r"\s+")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    scaled = counts.withColumn(
        "s", F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(24,9)")
    ).localCheckpoint(eager=False)
    total = scaled.agg(F.sum("s").alias("s_total"))
    return scaled.crossJoin(F.broadcast(total)).select(
        "source",
        F.floor(
            F.col("s").cast("double") / F.col("s_total").cast("double")
            * WEIGHTED_BUDGET_TOTAL
        ).cast("bigint").alias("budget_tokens"),
    )


# ---------------------------------------------------------------------------
# the row table
# ---------------------------------------------------------------------------

class FunnelRow(NamedTuple):
    """One funnel registry row.

    - ``driver``: ``batch`` (one pass over the batch doc_id % 4 == 0
      against the corpus indexes), ``stream`` (the batch cut into three
      nondecreasing doc_id ranges and pushed through IngestFunnelSink,
      or PartitionedFunnelStreams when ``streams`` > 1), ``watermark``
      (the modulus cut behind WatermarkedFunnelSink; a single-stream run
      ends with the late-row backfill pass) or ``modulus`` (the modulus
      cut straight into the sink);
    - ``tag``: names the run's index tables (``ddidx{tag}``,
      ``contidx{tag}``, ``annidx{tag}``, ``mfpidx{tag}``); rows with the
      same tag and ``ann`` share one memoized run;
    - ``ann``: the embedding stage, ``probe`` (novel vs the corpus) or
      ``grow`` (vs the corpus ∪ lower-id batch vectors); ``media``: the
      media-fingerprint stage;
    - ``budget``: ``uniform``, ``weighted`` or ``per_epoch`` — the sink's
      gate, or, under the batch driver, the cap the ``token_budget`` view
      applies;
    - ``maintenance``: ``compact`` (index compaction forced between
      epochs) or ``archive`` (records archived and pruned every epoch,
      read back as full history);
    - ``view``: ``decisions``, ``reasons`` / ``source_reasons`` (the
      first-failing-stage report), ``packing``, ``token_budget``,
      ``late`` (the late accounting), ``backfill`` (decisions after the
      backfill, with each doc's effective epoch) or ``taken`` (the docs
      the budget gate took, with their epoch)."""

    name: str
    driver: str
    tag: str
    view: str = "decisions"
    streams: int = 1
    ann: str | None = None
    media: bool = False
    budget: str | None = None
    maintenance: str | None = None


FUNNEL_ROWS = (
    # the composed batch decision; the four streamed, maintained or
    # partitioned rows below it share its oracle
    FunnelRow("incremental_ingest_funnel", "batch", "f"),
    FunnelRow("streaming_ingest_funnel", "stream", "s"),
    # compaction is storage hygiene, not a semantic operation
    FunnelRow("streaming_ingest_funnel_maintained", "stream", "sm", maintenance="compact"),
    # two hash-sliced streams over one index: publish → barrier → decide
    FunnelRow("partitioned_ingest_funnel", "stream", "pf", streams=2),
    # archive-then-prune keeps the complete decision history
    FunnelRow("streaming_funnel_archived_history", "stream", "sh", maintenance="archive"),
    # the batch IVF stage rides on the memoized decisions of row one
    FunnelRow("incremental_ingest_funnel_ann", "batch", "f", ann="probe"),
    FunnelRow("incremental_ingest_funnel_ann_growing", "batch", "g", ann="grow"),
    # the streamed sink extends the IVF index with every probed epoch
    FunnelRow("streaming_ingest_funnel_ann_growing", "stream", "sg", ann="grow"),
    FunnelRow("streaming_ingest_funnel_ann", "stream", "sa", ann="probe"),
    FunnelRow("ingest_funnel_report", "batch", "f", view="reasons"),
    FunnelRow("funnel_source_report", "batch", "f", view="source_reasons"),
    # the admitted stream concatenated into fixed-token sequences
    FunnelRow("funnel_admitted_packing", "batch", "f", view="packing"),
    FunnelRow("funnel_source_token_budget", "batch", "f", view="token_budget", budget="uniform"),
    FunnelRow("funnel_source_weighted_budget", "batch", "f", view="token_budget", budget="weighted"),
    # the budget as cross-epoch streaming state (one row per source)
    FunnelRow("streaming_funnel_source_budget", "stream", "sb", budget="uniform"),
    # sliced by source, so each stream owns its sources' budget state
    FunnelRow("partitioned_funnel_source_budget", "stream", "pb", streams=2, budget="uniform"),
    FunnelRow("streaming_funnel_weighted_budget", "stream", "wb", budget="weighted"),
    # the (arrival epoch, doc_id) dup rule: survivors follow arrival
    FunnelRow("streaming_funnel_late_data", "watermark", "ld"),
    FunnelRow("streaming_funnel_late_accounting", "watermark", "ld", view="late"),
    # late docs decided at the backfill epoch MOD_EPOCHS
    FunnelRow("streaming_funnel_late_backfill", "watermark", "ld", view="backfill"),
    # cap at epoch k = (k+1) × allotment vs persisted consumption
    FunnelRow(
        "funnel_source_adaptive_budget", "modulus", "ab", view="taken", budget="per_epoch"
    ),
    # the watermark splits the batch before the id-hash routing
    FunnelRow("streaming_funnel_late_data_partitioned", "watermark", "lp", streams=2),
    # reject = text-dup OR media-dup, seen = probed on both indexes
    FunnelRow("streaming_funnel_cross_modal", "stream", "cm", media=True),
)


def _decision_cols(row: FunnelRow) -> list[str]:
    """The decision columns of a row's ``decisions``/``backfill`` view
    (a budgeted sink swaps the evidence counts for ``source``)."""
    if row.budget is not None:
        return ["doc_id", "source", "is_novel", "is_contaminated", "n_tokens", "admitted"]
    return [
        "doc_id",
        "is_novel",
        *(["is_emb_novel", "nn_cosine"] if row.ann else ["n_grams", "n_shared"]),
        *(["is_media_novel"] if row.media else []),
        "is_contaminated",
        "n_tokens",
        "admitted",
    ]


# ---------------------------------------------------------------------------
# Spark side: one run per (tag, ann), then the row's view over it
# ---------------------------------------------------------------------------

def _name(spark: SparkSession, sf_dir: str, prefix: str) -> tuple[str, str]:
    """(catalog table name, fresh root dir) of one index of a run."""
    name = index_table_name(prefix, spark.sparkContext.applicationId, sf_dir)
    return name, tempfile.mkdtemp(prefix=f"{name}_")


def _indexes(spark: SparkSession, sf_dir: str, docs: DataFrame, tag: str) -> tuple:
    """The probe side of every run: the near-dup index over the corpus
    (doc_id % 4 != 0) and the benchmark gram index over doc_id % 50 == 0.
    Returns (dedup index, gram table, dedup table name)."""
    dname, droot = _name(spark, sf_dir, f"ddidx{tag}")
    index = build_dedup_index(spark, docs.filter(F.col("doc_id") % BATCH_MOD != 0), droot, dname)
    gname, groot = _name(spark, sf_dir, f"contidx{tag}")
    gtable = build_contamination_index(
        spark, docs.filter(F.col("doc_id") % _BENCH_MOD == 0), groot, gname
    )
    return index, gtable, dname


def _ivf(spark: SparkSession, sf_dir: str, tag: str) -> tuple:
    """(IVF index over the corpus vectors, the (vec_id, qe, nq) lookup)."""
    from .ann_index import build_ann_index
    from .similarity import _spark_quantized_materialized

    qv = _spark_quantized_materialized(spark, sf_dir).select("vec_id", "qe", "nq")
    name, root = _name(spark, sf_dir, f"annidx{tag}")
    return build_ann_index(spark, qv.filter(F.col("vec_id") % BATCH_MOD != 0), root, name), qv


def _maintenance(name: str | None):
    from ..streaming.maintenance import MaintenancePolicy

    if name == "compact":
        # every 2nd epoch with a zero files/bucket threshold: the dedup
        # index is rewritten and generation-swapped mid-stream
        return MaintenancePolicy(every_epochs=2, max_files_per_bucket=0)
    if name == "archive":
        return MaintenancePolicy(
            every_epochs=1,
            max_files_per_bucket=10**6,  # compaction is not under test
            keep_records=1,
            archive_root=tempfile.mkdtemp(prefix="funnel_archive_"),
        )
    return None


def _sink(spark: SparkSession, sf_dir: str, docs: DataFrame, row: FunnelRow) -> tuple:
    """(the row's sink over freshly built indexes, eviction extras)."""
    from ..streaming.ingest_funnel import IngestFunnelSink
    from ..streaming.multi_admission import PartitionedFunnelStreams

    index, gtable, dname = _indexes(spark, sf_dir, docs, row.tag)
    budget, extras = None, ()
    if row.budget == "weighted":
        budget = source_weight_budgets(spark, sf_dir).localCheckpoint(eager=True)
        extras = (budget,)
    elif row.budget is not None:
        budget = ADAPTIVE_EPOCH_BUDGET if row.budget == "per_epoch" else SOURCE_TOKEN_BUDGET
    if row.streams > 1:
        # the budget gate scales horizontally only under source routing
        # (each stream owns its sources' token state)
        return PartitionedFunnelStreams(
            spark, index, gtable, tempfile.mkdtemp(prefix=f"{dname}_pfunnel_"),
            n_streams=row.streams,
            slice_by="doc_id" if budget is None else "source",
            source_budget=budget,
        ), extras
    stages = {}
    if row.ann is not None:
        ann_index, qv = _ivf(spark, sf_dir, row.tag)
        stages = {"ann_index": ann_index, "embeddings": qv, "grow_ann": row.ann == "grow"}
    if row.media:
        from .multimodal import build_media_fp_index

        mname, mroot = _name(spark, sf_dir, f"mfpidx{row.tag}")
        stages["media_index"] = build_media_fp_index(
            spark, docs.filter(F.col("doc_id") % BATCH_MOD != 0), mroot, mname
        )
    return IngestFunnelSink(
        spark, index, gtable, tempfile.mkdtemp(prefix=f"{dname}_funnel_"),
        maintenance=_maintenance(row.maintenance),
        source_budget=budget,
        budget_per_epoch=row.budget == "per_epoch",
        **stages,
    ), extras


def _drive(spark: SparkSession, sf_dir: str, row: FunnelRow) -> tuple:
    """Run the row's driver: (products, eviction extras). Products are
    (decisions,), or for a watermarked run (accepted decisions, late
    accounting[, decisions after the backfill])."""
    if row.driver == "batch" and row.ann is not None:
        from .similarity import NPROBE

        base = _product(spark, sf_dir, FUNNEL_ROWS[0], 0)
        index, qv = _ivf(spark, sf_dir, row.tag)
        probe = embedding_nn_probe_growing if row.ann == "grow" else embedding_nn_probe
        nn = probe(spark, base.select("doc_id"), qv, index, nprobe=NPROBE)
        return (apply_embedding_stage(base, nn),), ()
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    batch = docs.filter(F.col("doc_id") % BATCH_MOD == 0)
    if row.driver == "batch":
        index, gtable, _ = _indexes(spark, sf_dir, docs, row.tag)
        res = dedup_batch_against_index(spark, batch, index)
        cont = check_batch_contamination(spark, batch, gtable)
        # extras: the probe/contamination plans hide the batch's lazy
        # pre-explode checkpoints
        return (funnel_decisions(batch, res.novel_ids, cont),), (*res.checkpoints, cont)
    sink, extras = _sink(spark, sf_dir, docs, row)
    if row.driver == "stream":
        # two scalar percentile boundaries — a partial-aggregatable
        # scan, no global sort (NTILE would funnel every row through
        # one task)
        b1, b2 = batch.select(
            F.percentile("doc_id", 1 / 3), F.percentile("doc_id", 2 / 3)
        ).first()
        ids = F.col("doc_id")
        for epoch, cut in enumerate((ids <= b1, (ids > b1) & (ids <= b2), ids > b2)):
            sink(batch.filter(cut), epoch)
        if row.maintenance == "archive":
            return (sink.decisions_full_history(),), extras
        return (sink.decisions(),), extras
    batch = batch.withColumn("modified", F.expr(_LATE_TS_SPARK))
    feed = sink
    if row.driver == "watermark":
        from ..streaming.late_data import WatermarkedFunnelSink

        feed = WatermarkedFunnelSink(
            sink, "modified", datetime.timedelta(minutes=LATE_DELAY_MIN)
        )
    epoch_of = (F.col("doc_id") / BATCH_MOD).cast("bigint") % MOD_EPOCHS
    for epoch in range(MOD_EPOCHS):
        feed(batch.filter(epoch_of == epoch), epoch)
    if row.driver == "modulus":
        return (sink.decisions(),), extras
    if row.streams > 1:
        return (sink.decisions(), feed.late_accounting()), extras
    # the backfill re-admits the accounted late set as epoch MOD_EPOCHS
    feed.backfill(batch)
    dec = sink.decisions()
    accepted = dec.filter(F.col("epoch").cast("bigint") < MOD_EPOCHS)
    return (accepted, feed.late_accounting(), dec), extras


def _product(spark: SparkSession, sf_dir: str, row: FunnelRow, i: int) -> DataFrame:
    """Product ``i`` of the row's run, memoized per (tag, ann) run. Each
    product is its own checkpointed memo entry; a miss re-runs the whole
    run and replaces every product, so views never mix two runs."""
    key = (spark.sparkContext.applicationId, sf_dir, row.tag, row.ann)
    got = _INGEST_MEMO.get((*key, i))
    if got is None:
        products, extras = _drive(spark, sf_dir, row)
        got = [
            _INGEST_MEMO.put(
                (*key, j), df.localCheckpoint(eager=True), *(extras if j == 0 else ())
            )
            for j, df in enumerate(products)
        ][i]
    return got


def _reason():
    """The rejection reason: the first failing stage in funnel order."""
    return (
        F.when(~F.col("is_novel"), F.lit("duplicate"))
        .when(F.col("is_contaminated"), F.lit("contaminated"))
        .when(F.col("n_tokens") < MIN_TOKENS, F.lit("low_quality"))
        .otherwise(F.lit("admitted"))
    )


def _view(spark: SparkSession, sf_dir: str, row: FunnelRow) -> DataFrame:
    if row.view == "late":
        return _product(spark, sf_dir, row, 1).select(
            "doc_id", F.col("epoch").cast("bigint").alias("epoch"),
            "event_time", "watermark",
        )
    if row.view == "backfill":
        return _product(spark, sf_dir, row, 2).select(
            *_decision_cols(row), F.col("epoch").cast("bigint").alias("epoch")
        )
    d = _product(spark, sf_dir, row, 0)
    if row.view == "decisions":
        return d.select(*_decision_cols(row))
    if row.view == "taken":
        return d.filter(F.col("admitted")).select(
            "source", "doc_id", F.col("n_tokens").alias("n_tok"),
            F.col("epoch").cast("bigint").alias("epoch"),
        )
    if row.view in ("reasons", "source_reasons"):
        keys = []
        if row.view == "source_reasons":
            src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
            d, keys = d.join(src, "doc_id"), ["source"]
        return d.groupBy(*keys, _reason().alias("reason")).agg(
            F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
        )
    # packing / token_budget: the admitted docs' per-source token stream
    # through the keyed two-phase prefix sum (functions/cumsum), so a
    # skewed source never funnels through one WindowExec task. No
    # broadcast HINT on the admitted-id side: it is O(batch), and AQE
    # broadcasts it at runtime when it is actually small
    from ..functions.cumsum import keyed_running_sum

    toks = (
        load_table(spark, sf_dir, "documents")
        .join(d.filter(F.col("admitted")).select("doc_id"), "doc_id", "left_semi")
        .select(
            "source",
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tok"),
        )
    )
    cum = keyed_running_sum(toks, ["source"], [F.col("doc_id")], F.col("n_tok"), "_cum")
    if row.view == "packing":
        from .curation import PACK_TOKENS

        packed = cum.withColumn(
            "pack_id", F.floor((F.col("_cum") - F.col("n_tok")) / PACK_TOKENS)
        )
        return packed.groupBy("source", "pack_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    cols, cap = ["source", "doc_id", "n_tok"], F.lit(SOURCE_TOKEN_BUDGET)
    if row.budget == "weighted":
        # AQE broadcasts the dimension-sized budgets lookup at runtime
        cum = cum.join(source_weight_budgets(spark, sf_dir), "source")
        cols, cap = [*cols, "budget_tokens"], F.col("budget_tokens")
    return cum.filter(F.col("_cum") - F.col("n_tok") < cap).select(*cols)


# ---------------------------------------------------------------------------
# the oracle: SQL fragments, each written once
# ---------------------------------------------------------------------------

def _contamination_cte() -> str:
    """ftoks → fcont: per-batch-doc benchmark-gram overlap stats
    (arrival-independent, so every delivery order shares it)."""
    return f"""ftoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    fg AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(t) - {_NGRAM - 1}),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                    || ' ' || t[i+4] || ' ' || t[i+5])) AS grams
      FROM ftoks WHERE len(t) >= {_NGRAM}
    ),
    fbench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM fg
      WHERE doc_id % {_BENCH_MOD} = 0
    ),
    ftrain AS (
      SELECT doc_id, unnest(grams) AS gram FROM fg
      WHERE doc_id % {BATCH_MOD} = 0
    ),
    fcont AS (
      SELECT t.doc_id,
             COUNT(*) AS n_grams,
             COUNT(b.gram) AS n_shared,
             COUNT(b.gram) > 0 AS isc
      FROM ftrain t LEFT JOIN fbench b ON t.gram = b.gram
      GROUP BY t.doc_id
    )"""


def _cut_ctes() -> str:
    """The modulus arrival cut and the watermark gate over it: fepoch
    (arrival epoch, synthetic event time), fwm (per-epoch watermark =
    prior epochs' max event time − LATE_DELAY_MIN), flate (the late
    set), facc (the accepted set) and feff (every doc at its effective
    epoch: arrival when on time, the backfill epoch MOD_EPOCHS when
    late)."""
    return f"""fepoch AS (
      SELECT doc_id,
             (doc_id // {BATCH_MOD}) % {MOD_EPOCHS} AS epoch,
             {_LATE_TS_DUCK} AS modified
      FROM documents WHERE doc_id % {BATCH_MOD} = 0
    ),
    fwm AS (
      SELECT k.epoch,
             (SELECT max(f2.modified) FROM fepoch f2 WHERE f2.epoch < k.epoch)
               - to_minutes({LATE_DELAY_MIN}) AS w
      FROM (SELECT DISTINCT epoch FROM fepoch) k
    ),
    flate AS (
      SELECT f.doc_id, f.epoch, f.modified, m.w
      FROM fepoch f JOIN fwm m ON m.epoch = f.epoch
      WHERE f.modified < m.w
    ),
    facc AS (
      SELECT f.doc_id, f.epoch FROM fepoch f
      WHERE f.doc_id NOT IN (SELECT doc_id FROM flate)
    ),
    feff AS (
      SELECT doc_id, epoch FROM facc
      UNION ALL
      SELECT doc_id, {MOD_EPOCHS} AS epoch FROM flate
    )"""


def _dups_cte(epochs: str | None) -> str:
    """fdups, the batch docs that are duplicates. Id-ordered delivery
    (``epochs`` None): lowest id wins within a verified pair. Otherwise
    the (epoch, doc_id)-lexicographic rule over the relation ``epochs``
    (doc_id, epoch): a doc is a duplicate iff it verified-pairs with a
    corpus doc, or with a doc of ``epochs`` from an earlier epoch, or
    from the same epoch with a lower id. Batch docs outside ``epochs``
    (late docs) pair with nothing."""
    if epochs is None:
        return f"""fdups AS (
      SELECT DISTINCT CASE
        WHEN doc_a % {BATCH_MOD} = 0 AND doc_b % {BATCH_MOD} = 0 THEN doc_b
        WHEN doc_a % {BATCH_MOD} = 0 THEN doc_a
        ELSE doc_b END AS doc_id
      FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
    )"""
    return f"""fdirs AS (
      SELECT doc_a AS d, doc_b AS p FROM verified
      WHERE jaccard >= {JACCARD_THRESHOLD}
      UNION ALL
      SELECT doc_b AS d, doc_a AS p FROM verified
      WHERE jaccard >= {JACCARD_THRESHOLD}
    ),
    fdups AS (
      SELECT DISTINCT r.d AS doc_id
      FROM fdirs r
      JOIN {epochs} fd ON fd.doc_id = r.d
      LEFT JOIN {epochs} fp ON fp.doc_id = r.p
      WHERE r.p % {BATCH_MOD} <> 0
         OR fp.epoch < fd.epoch
         OR (fp.epoch = fd.epoch AND r.p < r.d)
    )"""


def _ann_ctes(growing: bool) -> str:
    """q → enn: each batch doc's nearest-neighbour cosine under the IVF
    semantics (same chain as ann_ivf_topk, restricted to the corpus
    split). ``growing`` adds lower-id batch vectors in the probed cells
    as candidates, addressed under the SAME frozen corpus centroids
    (`ebassigned`) — the growing-index sink's epoch-invariant rule."""
    from .similarity import (
        _SQL_DOT,
        _SQL_QUANTIZED,
        DIM,
        MAX_CELL_BITS,
        MIN_CELL_BITS,
        NPROBE,
        TARGET_CELL,
    )

    cell_cos = (
        f"CAST(list_sum(list_transform(range({DIM}),"
        " i -> v.qe[i+1] * c.ce[i+1])) AS DOUBLE)"
        " / (sqrt(CAST(v.nq AS DOUBLE)) * sqrt(CAST(c.ncent AS DOUBLE)))"
    )

    def cells(src: str, keep: str) -> str:
        # the ranked nearest centroids of each ``src`` vector
        return f"""SELECT vec_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cell_cos} DESC, c.cid) AS crk
        FROM {src} v, ecent c
      ) WHERE crk {keep}"""

    growing_ctes = f"""
    ebassigned AS ({cells("eb", "= 1")}),""" if growing else ""
    batch_cand = """
      UNION ALL
      SELECT p.query_id, b.vec_id AS neighbor_id
      FROM eprobes p JOIN ebassigned b ON b.cell = p.cell
      WHERE b.vec_id < p.query_id""" if growing else ""
    return f"""{_SQL_QUANTIZED.strip()},
    eq AS (SELECT vec_id, qe, nq FROM q WHERE vec_id % {BATCH_MOD} <> 0),
    eparams AS (
      SELECT nc, GREATEST(1, cnt // nc) AS stride FROM (
        SELECT COUNT(*) AS cnt,
               CAST(POWER(2, LEAST({MAX_CELL_BITS}, GREATEST({MIN_CELL_BITS},
                 length(bin((COUNT(*) - 1) // {TARGET_CELL}))))) AS BIGINT) AS nc
        FROM eq) p0
    ),
    ecent AS (
      SELECT vec_id AS cid, qe AS ce, nq AS ncent FROM eq
      WHERE (CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
             % (SELECT stride FROM eparams)) = 0
    ),
    eassigned AS ({cells("eq", "= 1")}),
    eb AS (
      SELECT vec_id, qe, nq FROM q
      WHERE vec_id % {BATCH_MOD} = 0
        AND vec_id IN (SELECT doc_id FROM documents)
    ),{growing_ctes}
    eprobes AS (
      SELECT vec_id AS query_id, cell FROM ({cells("eb", f"<= {NPROBE}")})
    ),
    ecand AS (
      SELECT p.query_id, s.vec_id AS neighbor_id
      FROM eprobes p JOIN eassigned s ON s.cell = p.cell
      WHERE s.vec_id <> p.query_id{batch_cand}
    ),
    enn AS (
      SELECT c.query_id,
             MAX(CAST({_SQL_DOT} AS DOUBLE)
                 / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
             ) AS nn_cosine
      FROM ecand c
      JOIN q a ON a.vec_id = c.query_id
      JOIN q b ON b.vec_id = c.neighbor_id
      GROUP BY c.query_id
    )"""


#: fmdup: batch docs whose decoded-media fingerprint — determined by
#: (payload length, first-32-byte checksum), the derivation
#: `dedup_cross_modal_media`'s oracle uses — equals a corpus doc's or a
#: lower-id batch doc's
_MEDIA_CTES = f"""mfp AS (
      SELECT doc_id,
             octet_length(encode(text)) AS plen,
             list_sum(list_transform(range(32),
               i -> ascii(substr(text, i + 1, 1)))) % 251 AS csum
      FROM documents
    ),
    fmdup AS (
      SELECT DISTINCT a.doc_id
      FROM mfp a JOIN mfp b
        ON a.plen = b.plen AND a.csum = b.csum AND a.doc_id <> b.doc_id
      WHERE a.doc_id % {BATCH_MOD} = 0
        AND (b.doc_id % {BATCH_MOD} <> 0 OR b.doc_id < a.doc_id)
    )"""


def _taken_sql() -> tuple[str, str]:
    """(CTEs, SELECT) of the per-epoch budget state machine unrolled
    over the MOD_EPOCHS epochs of ``fadm``: taken iff prior consumption
    + within-epoch cumsum < (epoch+1)×ADAPTIVE_EPOCH_BUDGET;
    consumption carries only TAKEN tokens forward — exactly the sink's
    state writes."""
    blocks = []
    for e in range(MOD_EPOCHS):
        prior = " UNION ALL ".join(f"SELECT * FROM k{j}" for j in range(e))
        prior = (
            f"""(SELECT COALESCE(SUM(n_tok), 0) FROM ({prior}) u
                 WHERE u.source = f.source)""" if e else "0"
        )
        blocks.append(f"""t{e} AS (
      SELECT f.doc_id, f.source, f.n_tok, f.epoch,
             {prior} AS prior,
             SUM(f.n_tok) OVER (PARTITION BY f.source ORDER BY f.doc_id)
               - f.n_tok AS cumb
      FROM fadm f WHERE f.epoch = {e}
    ),
    k{e} AS (
      SELECT doc_id, source, n_tok, epoch FROM t{e}
      WHERE prior + cumb < {(e + 1) * ADAPTIVE_EPOCH_BUDGET}
    )""")
    taken = " UNION ALL ".join(f"SELECT * FROM k{e}" for e in range(MOD_EPOCHS))
    return ",\n    ".join(blocks), (
        f"SELECT source, doc_id, n_tok, CAST(epoch AS BIGINT) AS epoch FROM ({taken}) taken"
    )


_REASON_SQL = f"""CASE
               WHEN NOT is_novel THEN 'duplicate'
               WHEN is_contaminated THEN 'contaminated'
               WHEN n_tokens < {MIN_TOKENS} THEN 'low_quality'
               ELSE 'admitted'
             END"""


def _oracle(row: FunnelRow) -> str:
    """The row's monolithic DuckDB recompute: fdec (every decided batch
    doc with its source and, under a modulus cut, its epoch), then the
    row's view over it."""
    if row.view == "late":
        return f"""
    WITH {_cut_ctes()}
    SELECT doc_id, epoch, modified AS event_time, w AS watermark FROM flate
    """
    epochs = {"batch": None, "stream": None, "modulus": "fepoch"}.get(
        row.driver, "feff" if row.view == "backfill" else "facc"
    )
    ctes = [verified_pairs_cte()]
    if epochs is not None:
        ctes.append(_cut_ctes())
    ctes += [_dups_cte(epochs), _contamination_cte()]
    cols = [
        "d.doc_id", "d.source", "(dp.doc_id IS NULL) AS is_novel",
        "COALESCE(c.n_grams, 0) AS n_grams", "COALESCE(c.n_shared, 0) AS n_shared",
        "COALESCE(c.isc, FALSE) AS is_contaminated", f"len({_SQL_TOKS}) AS n_tokens",
    ]
    joins = [
        "LEFT JOIN fdups dp ON dp.doc_id = d.doc_id",
        "LEFT JOIN fcont c ON c.doc_id = d.doc_id",
    ]
    novel = ["is_novel"]
    if epochs is not None:
        cols.append("CAST(fe.epoch AS BIGINT) AS epoch")
        joins.insert(0, f"JOIN {epochs} fe ON fe.doc_id = d.doc_id")
    if row.ann is not None:
        ctes.append(_ann_ctes(growing=row.ann == "grow"))
        cols += [
            f"(COALESCE(e.nn_cosine, 0.0) < {TAU_EMB}) AS is_emb_novel",
            "COALESCE(e.nn_cosine, 0.0) AS nn_cosine",
        ]
        joins.append("LEFT JOIN enn e ON e.query_id = d.doc_id")
        novel.append("is_emb_novel")
    if row.media:
        ctes.append(_MEDIA_CTES)
        cols.append("(md.doc_id IS NULL) AS is_media_novel")
        joins.append("LEFT JOIN fmdup md ON md.doc_id = d.doc_id")
        novel.append("is_media_novel")
    if epochs is None:
        joins.append(f"WHERE d.doc_id % {BATCH_MOD} = 0")
    sep, nl = ",\n             ", "\n      "
    ctes.append(f"""fcols AS (
      SELECT {sep.join(cols)}
      FROM documents d
      {nl.join(joins)}
    ),
    fdec AS (
      SELECT *,
             ({" AND ".join(novel)} AND NOT is_contaminated
              AND n_tokens >= {MIN_TOKENS}) AS admitted
      FROM fcols
    )""")
    budgeted = row.view == "decisions" and row.budget is not None
    if budgeted or row.view in ("packing", "token_budget", "taken"):
        # the admitted docs; frun adds each one's running per-source
        # token total before it and the budget its first token must fit
        ctes.append(f"""fadm AS MATERIALIZED (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tok{", epoch" if epochs else ""}
      FROM fdec WHERE admitted
    )""")
    if budgeted or row.view in ("packing", "token_budget"):
        cap, wjoin = f"{SOURCE_TOKEN_BUDGET}", ""
        if row.budget == "weighted":
            ctes.append(_WBUD_CTE)
            cap, wjoin = "w.budget_tokens", "LEFT JOIN wbud w ON w.source = a.source"
        ctes.append(f"""frun AS (
      SELECT a.source, a.doc_id, a.n_tok, {cap} AS budget_tokens,
             SUM(a.n_tok) OVER (PARTITION BY a.source ORDER BY a.doc_id)
               - a.n_tok AS cum_before
      FROM fadm a {wjoin}
    )""")
    names = _decision_cols(row)
    if budgeted:
        select = f"""SELECT {", ".join(f"f.{c}" for c in names[:-1])},
           (f.admitted AND COALESCE(b.cum_before < b.budget_tokens, FALSE)) AS admitted
    FROM fdec f LEFT JOIN frun b ON b.doc_id = f.doc_id"""
    elif row.view in ("decisions", "backfill"):
        extra = ", epoch" if row.view == "backfill" else ""
        select = f"SELECT {', '.join(names)}{extra} FROM fdec"
    elif row.view in ("reasons", "source_reasons"):
        keys = "source, " if row.view == "source_reasons" else ""
        select = f"""SELECT {keys}{_REASON_SQL} AS reason,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM fdec GROUP BY ALL"""
    elif row.view == "packing":
        from .curation import PACK_TOKENS

        select = f"""SELECT source, CAST(cum_before // {PACK_TOKENS} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc
    FROM frun GROUP BY ALL"""
    elif row.view == "token_budget":
        extra = ", budget_tokens" if row.budget == "weighted" else ""
        select = f"SELECT source, doc_id, n_tok{extra} FROM frun WHERE cum_before < budget_tokens"
    else:  # taken
        blocks, select = _taken_sql()
        ctes.append(blocks)
    return "\n    WITH " + ",\n    ".join(ctes) + f"\n    {select}\n    "


# ---------------------------------------------------------------------------
# the composer
# ---------------------------------------------------------------------------

_DRIVER_DOC = {
    "batch": "one pass over the batch (doc_id % 4 == 0) against the corpus indexes",
    "stream": "the batch streamed as three id-ordered epochs",
    "watermark": (
        f"the batch delivered as {MOD_EPOCHS} event-time-disordered epochs "
        f"((doc_id div 4) mod {MOD_EPOCHS}) behind a watermark of the prior "
        f"epochs' max event time minus {LATE_DELAY_MIN} minutes"
    ),
    "modulus": f"the batch delivered as {MOD_EPOCHS} epochs cut by (doc_id div 4) mod {MOD_EPOCHS}",
}
_VIEW_DOC = {
    "decisions": "Per-document admission decisions",
    "reasons": "Rejection report by first failing stage (duplicate → contaminated → low_quality → admitted)",
    "source_reasons": "Per-source rejection report by first failing stage",
    "packing": "Per-source fixed-token training packs of the admitted documents",
    "token_budget": "The admitted documents each source contributes within its token budget",
    "late": "The dropped-late rows with the event time each claimed and the watermark that dropped it",
    "backfill": (
        "Every document's decision at its effective epoch after the late rows "
        f"are backfilled as epoch {MOD_EPOCHS}"
    ),
    "taken": "The documents the budget gate took, with their epoch",
}
_BUDGET_DOC = {
    "uniform": f"each source capped at {SOURCE_TOKEN_BUDGET} tokens (its docs' first tokens must fit)",
    "weighted": f"each source capped at its mix-weight share of {WEIGHTED_BUDGET_TOTAL} tokens",
    "per_epoch": (
        f"each source allotted {ADAPTIVE_EPOCH_BUDGET} tokens per epoch, "
        "unmet budget carried forward"
    ),
}
_MAINTENANCE_DOC = {
    "compact": "index compaction forced between epochs",
    "archive": "decision records archived and pruned every epoch, read back as full history",
}


def _doc(row: FunnelRow) -> str:
    parts = [f"{_VIEW_DOC[row.view]} of {_DRIVER_DOC[row.driver]}"]
    if row.streams > 1:
        parts.append(f"decided by {row.streams} partitioned streams over one shared index")
    if row.ann is not None:
        rule = "corpus or lower-id batch" if row.ann == "grow" else "corpus"
        parts.append(
            f"embedding-novel iff the nearest {rule} vector in the probed IVF "
            f"cells has cosine < {TAU_EMB}"
        )
    if row.media:
        parts.append("media-novel under the persistent media-fingerprint index")
    parts.append(f"admitted iff novel, uncontaminated and at least {MIN_TOKENS} tokens long")
    parts += [_BUDGET_DOC.get(row.budget, ""), _MAINTENANCE_DOC.get(row.maintenance, "")]
    return "; ".join(p for p in parts if p) + (
        ". Hash-matched against a monolithic DuckDB recompute (ingest.FUNNEL_ROWS)."
    )


def _row_query(row: FunnelRow):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _view(spark, sf_dir, row)

    run.__name__ = run.__qualname__ = row.name
    run.__doc__ = _doc(row)
    return run


def register_funnel_rows() -> tuple:
    """Register every :data:`FUNNEL_ROWS` row in table order; returns
    the query functions. Each oracle is built right before its row
    registers: the stage fragments import operators/similarity.py and
    operators/curation.py lazily, and their queries register at that
    point — registration order is the registry gate order's last
    tie-break (operators/registry.gate_order)."""
    return tuple(
        query(row.name, oracle=_oracle(row))(_row_query(row)) for row in FUNNEL_ROWS
    )


(
    incremental_ingest_funnel,
    streaming_ingest_funnel,
    streaming_ingest_funnel_maintained,
    partitioned_ingest_funnel,
    streaming_funnel_archived_history,
    incremental_ingest_funnel_ann,
    incremental_ingest_funnel_ann_growing,
    streaming_ingest_funnel_ann_growing,
    streaming_ingest_funnel_ann,
    ingest_funnel_report,
    funnel_source_report,
    funnel_admitted_packing,
    funnel_source_token_budget,
    funnel_source_weighted_budget,
    streaming_funnel_source_budget,
    partitioned_funnel_source_budget,
    streaming_funnel_weighted_budget,
    streaming_funnel_late_data,
    streaming_funnel_late_accounting,
    streaming_funnel_late_backfill,
    funnel_source_adaptive_budget,
    streaming_funnel_late_data_partitioned,
    streaming_funnel_cross_modal,
) = register_funnel_rows()
