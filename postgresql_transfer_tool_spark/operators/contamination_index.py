"""Persistent benchmark-decontamination index — X4's incremental path.

The same build-once / probe-per-batch inversion as the cross-batch
dedup index (operators/dedup_index.py), applied to benchmark
decontamination (the Brown et al. GPT-3 appendix-C check that
`contamination_ngram_overlap` runs monolithically): the held-out sets'
word-5-grams are persisted ONCE as a parquet table bucketed on
``gram``; every incoming training batch tokenizes ITSELF — O(batch) —
and probes its grams against the index. The benchmark corpus is never
re-tokenized, never rescanned, and in the sort-merge path never
shuffled (its bucketed layout satisfies the join distribution; only the
batch side is exchanged). When the gram set is small enough, AQE's
auto-broadcast picks the broadcast plan instead — both plans leave the
per-batch cost ∝ batch.

The index stores ATTRIBUTED rows (bench_doc_id, gram), not the bare
distinct-gram universe (round 9, VERDICT #2): retracting a held-out
document (a benchmark is versioned, withdrawn, or re-licensed) must
remove exactly the grams no SURVIVING bench doc carries, which is
unanswerable without attribution. The probe collapses the rows to the
surviving distinct-gram universe with a per-bucket aggregate — the
table is bucketed on gram, so the distinct requires NO exchange — and
the storage premium is the benchmark corpus's cross-doc gram
duplication factor (held-out sets are tiny next to the training stream,
so the premium is noise at scale). A second dividend: duplicate
(doc_id, gram) appends are HARMLESS (distinct-at-probe), which makes
the streaming admission path's replay story trivially idempotent
(streaming/index_contamination.py).

No explicit broadcast hint: the index relation is an unbounded-leaf
table scan under the registry-wide broadcast-hint sweep's rules
(plans.broadcast_hint_violations), and the RIGHT plan is a runtime size
decision — exactly the class that sweep exists to protect.

Reference parity: extends the reference's incremental "rows not yet
processed" posture (transfer_data_script.py:96-133) to held-out-set
decontamination, the check every training-data pipeline runs per
ingest batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.bucketing import write_bucketed
from ..functions.index_base import (
    CONTAMINATION_GRAMS,
    IndexFamily,
    apply_tombstones,
    register_index_rows,
    tombstones,
)
from ..functions.memo import CheckpointMemo, unpersist_checkpoints
from .corpus import _BENCH_MOD, _NGRAM, _SQL_TOKS


def _grams_expr():
    # built lazily: F.expr needs an active SparkContext, and operator
    # modules import at registry load time, before any session exists
    return F.expr(
        f"array_distinct(transform(sequence(0, size(toks)-{_NGRAM}),"
        " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],"
        " toks[i+4])))"
    )


def gram_arrays_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, grams) — distinct word-5-gram array per document of an
    arbitrary (doc_id, text, ...) relation; documents shorter than
    _NGRAM tokens are dropped (they carry no 5-grams), matching the
    monolithic operator and its oracle."""
    return (
        docs.withColumn("toks", F.split(F.trim("text"), r"\s+"))
        .filter(F.size("toks") >= _NGRAM)
        .select("doc_id", _grams_expr().alias("grams"))
    )


def gram_rows_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) attributed rows — one per (document, distinct
    gram). The pre-explode checkpoint defuses the Generate-collapse
    trap (dedup.py:94-100); the caller owns it via the returned plan's
    lineage (unpersist_checkpoints when done)."""
    pre = gram_arrays_from_docs(docs).localCheckpoint(eager=False)
    return pre.select("doc_id", F.explode("grams").alias("gram"))


def build_contamination_index(
    spark: SparkSession,
    bench_docs: DataFrame,
    path: str,
    name: str,
    stamp: int | None = None,
) -> str:
    """Persist the held-out corpus's attributed (doc_id, gram) rows as
    a table bucketed on gram; returns the table name. The benchmark
    tokenization cost is paid exactly once, here. ``stamp``: optional
    logical ingest stamp for TTL expiry (None skips the write)."""
    rows = gram_rows_from_docs(bench_docs)
    table = f"{name}_grams"
    write_bucketed(
        rows, table, os.path.join(path, "grams"), "gram", CONTAMINATION_GRAMS.n_buckets
    )
    unpersist_checkpoints(rows)
    return CONTAMINATION_GRAMS.seal(spark, table, path, stamp)


def extend_contamination_index(
    spark: SparkSession,
    grams_table: str,
    new_bench_docs: DataFrame,
    stamp: int | None = None,
) -> None:
    """Append a new held-out set's attributed gram rows (benchmarks
    version and grow — the index must too, without re-tokenizing what
    is already there). Duplicate rows from replayed appends are
    harmless (distinct-at-probe); compaction removes them."""
    # keep a handle on the INNER pre-explode checkpoint: wrapping the
    # gram rows in an eager checkpoint truncates lineage, so
    # unpersist_checkpoints(rows) alone could no longer reach it
    # (one orphaned checkpoint per epoch otherwise)
    pre = gram_arrays_from_docs(new_bench_docs).localCheckpoint(eager=False)
    out = CONTAMINATION_GRAMS.append(
        spark,
        grams_table,
        lambda: {
            "grams": pre.select("doc_id", F.explode("grams").alias("gram"))
            .localCheckpoint(eager=True)
        },
        stamp,
    )
    for d in (out["grams"], pre):
        unpersist_checkpoints(d)


#: attributed (doc_id, gram) rows are a per-document property, so
#: union-of-indexes ≡ index-of-union; cross-shard duplicate rows are
#: inert (distinct-at-probe), so the default disjoint append is exact
merge_contamination_index = CONTAMINATION_GRAMS.merge
#: grams carried ONLY by retracted docs stop flagging training docs,
#: grams shared with surviving docs keep flagging — attribution makes
#: that distinction computable
delete_from_contamination_index = CONTAMINATION_GRAMS.delete
expire_contamination_index = CONTAMINATION_GRAMS.expire
#: also folds replayed duplicate rows (CONTAMINATION_GRAMS.compact_distinct)
compact_contamination_index = CONTAMINATION_GRAMS.compact


def surviving_grams(spark: SparkSession, grams_table: str) -> DataFrame:
    """The distinct gram universe of the NON-retracted bench docs —
    what probes actually join against. Exchange-free by layout: the
    tombstone anti-join broadcasts its tiny side (bucketed partitioning
    preserved), and the distinct aggregates within buckets (the table
    is hash-clustered on gram, satisfying the aggregate's distribution
    requirement)."""
    idx = spark.table(grams_table)
    live = apply_tombstones(idx, tombstones(spark, grams_table), "doc_id")
    return live.select("gram").distinct()


def check_batch_contamination(
    spark: SparkSession, batch_docs: DataFrame, grams_table: str
) -> DataFrame:
    """Per-document contamination stats for one training batch probed
    against the persisted gram index: (doc_id, n_grams, n_shared,
    is_contaminated) — the exact output contract of the monolithic
    `contamination_ngram_overlap`, computed without touching the
    benchmark corpus.

    Ownership: the returned plan hides a lazy localCheckpoint (the
    batch's pre-explode gram arrays) that materializes on first action.
    Long-running callers probing batch after batch must release it —
    ``unpersist_checkpoints(result)`` once the result is consumed, or
    park the result in a ``CheckpointMemo`` (the registry query below
    does the latter) — or block-manager storage grows one checkpoint
    per batch for the life of the session."""
    CONTAMINATION_GRAMS.check(spark, grams_table)
    train = gram_rows_from_docs(batch_docs)
    bench = surviving_grams(spark, grams_table).select(F.col("gram").alias("bgram"))
    return (
        train.join(bench, train.gram == bench.bgram, "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("bgram").alias("n_shared"),
            (F.count("bgram") > 0).alias("is_contaminated"),
        )
    )


def _monolithic_oracle(bench_pred: str) -> str:
    """Monolithic decontamination recompute with the bench universe
    defined by ``bench_pred`` — the from-scratch rebuild the index path
    must match (post-delete: the predicate excludes retracted docs)."""
    return f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
      WHERE len({_SQL_TOKS}) >= {_NGRAM}
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(toks) - {_NGRAM - 1}),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                    || ' ' || toks[i+4] || ' ' || toks[i+5])) AS grams
      FROM t
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g
      WHERE {bench_pred}
    ), train AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
      WHERE doc_id % {_BENCH_MOD} <> 0
    )
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           COUNT(b.gram) AS n_shared,
           COUNT(b.gram) > 0 AS is_contaminated
    FROM train t LEFT JOIN bench b ON t.gram = b.gram
    GROUP BY t.doc_id
    """


#: session memos of the registry rows (functions/index_base.INDEX_ROWS).
#: Each row registers its original probe plan as an eviction extra: the
#: eager checkpoint's plan no longer references the batch's lazy
#: pre-explode checkpoint hiding in the probe's lineage, and the memo
#: must free those blocks too
_CONTIDX_MEMO = CheckpointMemo()
_CONTMRG_MEMO = CheckpointMemo()


def _probe(spark: SparkSession, batch: DataFrame, grams_table: str):
    probe = check_batch_contamination(spark, batch, grams_table)
    return probe, (probe,)


# benchmark = doc_id % 50 == 0 (indexed once per session), training
# batch = the rest (probed); the oracle is the monolithic recompute — the
# same SQL as `contamination_ngram_overlap` — proving the index path
# result-identical while paying only O(batch) per probe
(
    contamination_incremental_index,
    contamination_index_merge,
    contamination_index_post_delete,
    contamination_index_post_ttl,
) = register_index_rows(IndexFamily(
    spec=CONTAMINATION_GRAMS,
    memo=_CONTIDX_MEMO,
    merge_memo=_CONTMRG_MEMO,
    corpus=f"doc_id % {_BENCH_MOD} = 0",
    batch=f"doc_id % {_BENCH_MOD} != 0",
    load=lambda spark, sf_dir: load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    ),
    build=lambda spark, sf_dir, docs, path, name, stamp, whole: (
        build_contamination_index(spark, docs, path, name, stamp=stamp)
    ),
    ingest=extend_contamination_index,
    probe=_probe,
    oracle=lambda bench: _monolithic_oracle(bench or f"doc_id % {_BENCH_MOD} = 0"),
))
