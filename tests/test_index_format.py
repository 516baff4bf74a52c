"""On-disk format versioning for the persistent-index family (round
11, VERDICT r10 #3): an index built by one engine round is probed by a
later one — a format/version marker turns silent schema drift into a
loud refusal at first touch.

Contract (functions/index_base.write_index_meta / check_index_format):
build/compact/retrain stamp ``_index_meta.json`` into the index root;
every probe and mutator verifies version + kind + per-table schema
before touching data; a missing meta (pre-versioning index) is
backfilled at the current version by the first mutation.

Every test runs once per index kind (near-dup LSH, contamination
grams, IVF): the lifecycle is written once (functions/index_base.
IndexKind), and this file is the default-tier check that each kind
still wires into it. The expected kind strings and table schemas are
literals on purpose — they are the on-disk contract an index built by
an older engine is read under."""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from collections.abc import Callable
from typing import NamedTuple

import pytest

from tests.test_dedup_index import WAVE0, WAVE1, _docs

from postgresql_transfer_tool_spark.functions.index_base import (
    INDEX_FORMAT_VERSION,
    IndexFormatError,
    index_root,
)
from postgresql_transfer_tool_spark.functions.memo import unpersist_checkpoints
from postgresql_transfer_tool_spark.operators import (
    ann_index,
    contamination_index,
    dedup_index,
)


class Kind(NamedTuple):
    kind: str
    tables: dict[str, list[str]]
    build: Callable  # (spark, name, root) -> index handle
    anchor: Callable  # handle -> the table whose root holds the meta
    probe: Callable  # (spark, handle) -> (result, checkpoints to free)
    extend: Callable  # (spark, handle) -> None
    ids: Callable  # spark -> ids to delete
    delete: Callable
    expire: Callable
    compact: Callable
    drop: Callable  # handle -> every index table


def _dedup_probe(spark, index):
    res = dedup_index.dedup_batch_against_index(spark, _docs(spark, WAVE1), index)
    return res.matched, res.checkpoints


def _dedup_extend(spark, index):
    res = dedup_index.dedup_batch_against_index(spark, _docs(spark, WAVE1), index)
    dedup_index.extend_dedup_index(spark, index, res)
    for d in res.checkpoints:
        unpersist_checkpoints(d)


_BENCH = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "one two three four five six"),
]


def _cont_probe(spark, table):
    out = contamination_index.check_batch_contamination(spark, _docs(spark, _BENCH), table)
    return out, (out,)


def _vectors(spark, ids):
    rows = [(i, [i * 1000000, (i % 3) * 1000000, 1000000]) for i in ids]
    return spark.createDataFrame(
        [(i, v, sum(x * x for x in v)) for i, v in rows],
        "vec_id bigint, qe array<bigint>, nq bigint",
    )


KINDS = [
    Kind(
        kind="near_dup_lsh",
        tables={"bands": ["doc_id", "band_key"], "shingles": ["doc_id", "h"]},
        build=lambda spark, name, root: dedup_index.build_dedup_index(
            spark, _docs(spark, WAVE0), root, name
        ),
        anchor=lambda index: index.bands_table,
        probe=_dedup_probe,
        extend=_dedup_extend,
        ids=lambda spark: _docs(spark, WAVE0).select("doc_id"),
        delete=dedup_index.delete_from_dedup_index,
        expire=dedup_index.expire_dedup_index,
        compact=dedup_index.compact_dedup_index,
        drop=lambda index: [index.bands_table, index.shingles_table],
    ),
    Kind(
        kind="contamination_grams",
        tables={"grams": ["doc_id", "gram"]},
        build=lambda spark, name, root: contamination_index.build_contamination_index(
            spark, _docs(spark, _BENCH), root, name
        ),
        anchor=lambda table: table,
        probe=_cont_probe,
        extend=lambda spark, table: contamination_index.extend_contamination_index(
            spark, table, _docs(spark, [(3, "kk ll mm nn oo pp")])
        ),
        ids=lambda spark: _docs(spark, _BENCH).select("doc_id"),
        delete=contamination_index.delete_from_contamination_index,
        expire=contamination_index.expire_contamination_index,
        compact=contamination_index.compact_contamination_index,
        drop=lambda table: [table],
    ),
    Kind(
        kind="ann_ivf",
        tables={
            "centroids": ["cid", "ce", "ncent"],
            "cells": ["vec_id", "cell", "qe", "nq"],
        },
        build=lambda spark, name, root: ann_index.build_ann_index(
            spark, _vectors(spark, range(1, 21)), root, name
        ),
        anchor=lambda index: index.cells_table,
        probe=lambda spark, index: (
            ann_index.ann_query_index(spark, _vectors(spark, [1, 2]), index), ()
        ),
        extend=lambda spark, index: ann_index.extend_ann_index(
            spark, index, _vectors(spark, [21, 22])
        ),
        ids=lambda spark: _vectors(spark, [1]).select("vec_id"),
        delete=ann_index.delete_from_ann_index,
        expire=ann_index.expire_ann_index,
        compact=ann_index.compact_ann_index,
        drop=lambda index: [index.centroids_table, index.cells_table],
    ),
]

by_kind = pytest.mark.parametrize("k", KINDS, ids=[k.kind for k in KINDS])


def _build(spark, k: Kind, tag: str):
    name = f"fmt{tag}_{uuid.uuid4().hex[:8]}"
    root = tempfile.mkdtemp(prefix=name)
    return k.build(spark, name, root), root


def _meta_path(spark, k: Kind, index) -> str:
    return os.path.join(index_root(spark, k.anchor(index)), "_index_meta.json")


def _probe_rows(spark, k: Kind, index) -> int:
    out, checkpoints = k.probe(spark, index)
    n = out.count()
    for d in checkpoints:
        unpersist_checkpoints(d)
    return n


def _drop(spark, k: Kind, index) -> None:
    tables = k.drop(index)
    stem = tables[0].rsplit("_", 1)[0]
    for t in (*tables, f"{stem}_tombstones", f"{stem}_stamps"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@by_kind
def test_format_meta_roundtrip_and_compaction_restamp(spark, k):
    index, root = _build(spark, k, "f")
    meta = json.load(open(_meta_path(spark, k, index)))
    assert meta == {
        "format_version": INDEX_FORMAT_VERSION,
        "kind": k.kind,
        "tables": k.tables,
    }

    # probe + extend run clean under a matching meta
    assert _probe_rows(spark, k, index) >= 1
    k.extend(spark, index)

    # compaction rewrites into a NEW root — the meta must travel with it
    gen2 = tempfile.mkdtemp(prefix=f"{root}g2")
    k.compact(spark, index, gen2)
    assert os.path.realpath(index_root(spark, k.anchor(index))) == os.path.realpath(gen2)
    assert json.load(open(_meta_path(spark, k, index))) == meta
    _drop(spark, k, index)


@by_kind
def test_forged_version_and_drift_refused_loudly(spark, k):
    index, root = _build(spark, k, "g")
    path = _meta_path(spark, k, index)
    good = json.load(open(path))

    # a future engine's version: probe AND every mutator refuse
    json.dump({**good, "format_version": 99}, open(path, "w"))
    with pytest.raises(IndexFormatError, match="format_version"):
        k.probe(spark, index)
    with pytest.raises(IndexFormatError, match="format_version"):
        k.delete(spark, index, k.ids(spark))
    with pytest.raises(IndexFormatError, match="format_version"):
        k.expire(spark, index, 1)
    with pytest.raises(IndexFormatError, match="format_version"):
        k.compact(spark, index, tempfile.mkdtemp(prefix=f"{root}x"))

    # wrong kind (an index root addressed as the wrong family)
    other = next(o.kind for o in KINDS if o.kind != k.kind)
    json.dump({**good, "kind": other}, open(path, "w"))
    with pytest.raises(IndexFormatError, match="addressed as"):
        k.probe(spark, index)

    # schema drift within the same version
    role = next(iter(good["tables"]))
    drifted = {**good, "tables": {**good["tables"], role: ["doc_id", "bkey"]}}
    json.dump(drifted, open(path, "w"))
    with pytest.raises(IndexFormatError, match="drifted"):
        k.probe(spark, index)

    # unreadable meta is a refusal too, not a guess
    open(path, "w").write("{not json")
    with pytest.raises(IndexFormatError, match="unreadable"):
        k.probe(spark, index)

    # restore → everything works again; the refusals mutated nothing
    json.dump(good, open(path, "w"))
    assert _probe_rows(spark, k, index) >= 1
    stem = k.drop(index)[0].rsplit("_", 1)[0]
    assert not spark.catalog.tableExists(f"{stem}_tombstones")
    _drop(spark, k, index)


@by_kind
def test_legacy_index_backfilled_at_first_mutation_not_probe(spark, caplog, k):
    """An index built before versioning existed has no meta file — it
    IS the current format by definition. A PROBE stays read-only: it
    proceeds with a loud unverified warning and writes nothing (a
    mis-addressed reader must not poison the root — round-11 review);
    the first MUTATION stamps the marker under its own spec, making
    the guarantee forward-looking without a rebuild."""
    import logging

    index, _ = _build(spark, k, "l")
    path = _meta_path(spark, k, index)
    os.remove(path)  # simulate a pre-round-11 index

    with caplog.at_level(logging.WARNING):
        assert _probe_rows(spark, k, index) >= 1
    assert not os.path.exists(path)  # probes never write
    assert any("UNVERIFIED" in r.message for r in caplog.records)

    k.extend(spark, index)  # first mutation stamps it
    meta = json.load(open(path))
    assert meta["format_version"] == INDEX_FORMAT_VERSION
    assert meta["kind"] == k.kind
    _drop(spark, k, index)
