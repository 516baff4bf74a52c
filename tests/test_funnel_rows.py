"""The 23 admission-funnel registry rows are generated from one table
(operators/ingest.FUNNEL_ROWS); these DuckDB-only checks pin what the
generation must preserve: every row registered with an oracle, in the
registration order the gate's tie-break relies on, and each oracle's
result — canonicalized with testing.canon_rows, column types included —
equal to the hash recorded from the hand-written oracles the table
replaced. No Spark job runs here."""

from __future__ import annotations

import hashlib
import os
import re

import pytest

from postgresql_transfer_tool_spark.operators import registry
from postgresql_transfer_tool_spark.testing import canon_rows

#: row name → sha256 prefix of its oracle result at sf0.001, in the
#: rows' registration order
PINNED = {
    "incremental_ingest_funnel": "fa8e162ce3c30d50",
    "streaming_ingest_funnel": "fa8e162ce3c30d50",
    "streaming_ingest_funnel_maintained": "fa8e162ce3c30d50",
    "partitioned_ingest_funnel": "fa8e162ce3c30d50",
    "streaming_funnel_archived_history": "fa8e162ce3c30d50",
    "incremental_ingest_funnel_ann": "d3a7e0506f85e6e7",
    "incremental_ingest_funnel_ann_growing": "1434425187f3a446",
    "streaming_ingest_funnel_ann_growing": "1434425187f3a446",
    "streaming_ingest_funnel_ann": "d3a7e0506f85e6e7",
    "ingest_funnel_report": "b1ca332bdaa418f1",
    "funnel_source_report": "e586b8d1e3e9ddd4",
    "funnel_admitted_packing": "f0b322f287f4b956",
    "funnel_source_token_budget": "e296d21a54baf69f",
    "funnel_source_weighted_budget": "6c503645181117ab",
    "streaming_funnel_source_budget": "1bbbea0541127b11",
    "partitioned_funnel_source_budget": "1bbbea0541127b11",
    "streaming_funnel_weighted_budget": "1a216d1db885682c",
    "streaming_funnel_late_data": "69bb727813b0c2bb",
    "streaming_funnel_late_accounting": "6096c485ab215266",
    "streaming_funnel_late_backfill": "d0b3aee0afd855cb",
    "funnel_source_adaptive_budget": "725ed46d89954c5a",
    "streaming_funnel_late_data_partitioned": "69bb727813b0c2bb",
    "streaming_funnel_cross_modal": "761565b069dcf193",
}


@pytest.fixture(scope="module")
def loaded():
    registry.load_all()
    return list(registry.QUERIES)


def test_funnel_rows_registered_in_order(loaded):
    from postgresql_transfer_tool_spark.operators import ingest

    assert [row.name for row in ingest.FUNNEL_ROWS] == list(PINNED)
    assert all(registry.ORACLES.get(n) for n in PINNED)
    # relative position in the gate-ordered registry: the gate's
    # registration-order tie-break applied to the table order
    assert [n for n in loaded if n in PINNED] == registry.gate_order(list(PINNED))
    # the names callers import stay importable
    for name in (
        "funnel_decisions", "apply_embedding_stage", "embedding_nn_probe",
        "funnel_admitted_packing", "funnel_source_token_budget", "_INGEST_MEMO",
    ):
        assert hasattr(ingest, name), name


@pytest.mark.parametrize("name", list(PINNED))
def test_funnel_oracle_result_pinned(loaded, duck, sf_dir, name):
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("hashes are pinned at sf0.001")
    rel = duck.sql(registry.ORACLES[name])
    cols, types = rel.columns, [str(t) for t in rel.types]
    rows = canon_rows(rel.fetchall(), cols)
    got = hashlib.sha256(repr((sorted(zip(cols, types)), rows)).encode()).hexdigest()
    assert got[:16] == PINNED[name]


def test_registered_docs_have_no_unformatted_placeholders(loaded):
    """A docstring written as if it were an f-string prints its
    ``{CONSTANT}`` literally; generated and hand-written row docs must
    state the actual values."""
    pat = re.compile(r"\{[A-Z][A-Z0-9_]*\}")
    bad = {
        n: pat.findall(fn.__doc__)
        for n, fn in registry.QUERIES.items()
        if fn.__doc__ and pat.search(fn.__doc__)
    }
    assert not bad
