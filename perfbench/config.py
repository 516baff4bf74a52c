"""Workload definitions: which ops, on how much data."""

from __future__ import annotations

from .workloads import PgMigrateWorkload, QueryWorkload

#: curation queries over the documents corpus. The dedup family shares
#: the shingle and LSH-pair memos; the op that builds both (dedup_minhash_lsh)
#: runs first among them in every pass
CURATION_FAMILY = "dedup_minhash_lsh dedup_clusters dedup_ngram_jaccard".split()
CURATION_OPS = CURATION_FAMILY + (
    "dedup_exact text_quality_score text_repetition_ratio text_pii_scrub "
    "domain_mix_weights domain_mix_sample"
).split()

WORKLOADS = {
    "curation": lambda: QueryWorkload("curation", CURATION_OPS, sf=0.001, n_docs=500,
                                      n_vecs=500, memo_family=CURATION_FAMILY),
    "pg_migrate": lambda: PgMigrateWorkload("pg_migrate", sf=0.005),
}
