"""The benchmark's workloads: what one operation is, and how it is checked.

Each workload has a fixed list of ops, one rotation of which is a pass.
``environment`` makes the inputs once per run (fixture, PostgreSQL
server); ``prepare`` computes the expected results or loads the source
data; ``run`` performs one op and returns its output; ``check`` compares that output with the expected result computed
at set-up, returning an error string or None.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess

from . import fixture
from .trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_ROOT = os.path.join(HERE, ".fixtures")


def _duckdb(sf_dir: str):
    """DuckDB with a view per fixture table (one parquet file each)."""
    import duckdb

    from postgresql_transfer_tool_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Outcome:
    """An op's output, and the rows ``check`` verified in it."""

    __slots__ = ("rows", "payload")

    def __init__(self, rows: int, payload) -> None:
        self.rows = rows
        self.payload = payload


class Workload:
    """Defaults: ops in seeded order, nothing to do between passes or at
    the end, result rows (not landed rows) counted."""

    pipeline = False

    def pass_order(self, rng) -> list[str]:
        order = list(self.ops)
        rng.shuffle(order)
        return order

    def begin_pass(self) -> None:
        pass

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    """One op = one registry query call: build the DataFrame, collect it."""

    def __init__(self, name, ops, sf, n_docs, n_vecs, memo_family=()):
        self.name = name
        self.ops = list(ops)
        self.spec = (sf, n_docs, n_vecs)
        #: ops sharing session memos, in the order they keep among
        #: themselves within a pass; memos are cleared at each pass start
        self.memo_family = list(memo_family)
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def pass_order(self, rng) -> list[str]:
        """The seeded permutation of the ops, except that the memo family
        members keep their own order within the slots they drew: which
        op pays a memo build must not depend on the seed, or per-op
        latencies would."""
        family = iter(self.memo_family)
        return [next(family) if op in self.memo_family else op
                for op in super().pass_order(rng)]

    def environment(self, work: str) -> None:
        from postgresql_transfer_tool_spark.operators import registry

        registry.load_all()
        self.queries = registry.QUERIES
        self.oracles = registry.ORACLES
        sf, n_docs, n_vecs = self.spec
        self.sf_dir = fixture.ensure(FIXTURE_ROOT, f"{self.name}-sf{sf}", sf, n_docs, n_vecs)

    def prepare(self) -> None:
        """Expected canonical rows per op from its DuckDB oracle. They are
        cached next to the fixture, keyed by the oracle's SQL text, since
        some oracles take seconds and the fixture never changes."""
        for op in self.ops:
            self.expected[op] = self._expected(op)

    def _expected(self, op: str) -> tuple[list[str], list[tuple]]:
        from postgresql_transfer_tool_spark.testing import canon_rows

        sql = self.oracles[op]
        path = os.path.join(self.sf_dir, f"expected-{op}-{hashlib.sha1(sql.encode()).hexdigest()}.json")
        try:
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
        except (OSError, ValueError):
            pass
        con = _duckdb(self.sf_dir)
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            out = (sorted(names), canon_rows(cur.fetchall(), names))
        finally:
            con.close()
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def begin_pass(self) -> None:
        if self.memo_family:
            from postgresql_transfer_tool_spark.functions.memo import clear_all_memos

            clear_all_memos()

    def run(self, spark, op: str, tr: Tracer | None, probe=None) -> Outcome:
        fn = self.queries[op]
        if tr is None:
            df = fn(spark, self.sf_dir)
            return Outcome(0, (df.columns, df.collect()))
        df = probe.phase("build", lambda: tr.call("operators", "build", fn, spark, self.sf_dir))
        probe.phase("plan", lambda: tr.call(
            "catalyst", "plan", lambda: df._jdf.queryExecution().executedPlan()))
        rows = probe.phase("collect", lambda: tr.call("exec", "collect", df.collect))
        return Outcome(0, (df.columns, rows))

    def check(self, op: str, out: Outcome) -> str | None:
        from postgresql_transfer_tool_spark.testing import canon_rows

        cols, rows = out.payload
        out.rows = len(rows)
        want_cols, want_rows = self.expected[op]
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != {want_cols}"
        if len(rows) != len(want_rows):
            return f"{len(rows)} rows, expected {len(want_rows)}"
        if canon_rows(rows, cols) != want_rows:
            return "row values differ from the DuckDB oracle"
        return None


# ---------------------------------------------------------------------------
# live PostgreSQL -> PostgreSQL migration
# ---------------------------------------------------------------------------

_PG_DDL = {
    "region": "r_regionkey integer PRIMARY KEY, r_name text NOT NULL",
    "nation": "n_nationkey integer PRIMARY KEY, n_name text NOT NULL, "
              "n_regionkey integer NOT NULL REFERENCES src.region(r_regionkey)",
    "customer": "c_custkey bigserial PRIMARY KEY, c_name text, "
                "c_nationkey integer REFERENCES src.nation(n_nationkey), "
                "c_acctbal double precision, c_mktsegment text",
    "supplier": "s_suppkey bigserial PRIMARY KEY, s_name text, "
                "s_nationkey integer REFERENCES src.nation(n_nationkey), "
                "s_acctbal double precision",
    "part": "p_partkey bigserial PRIMARY KEY, p_name text, p_brand text, p_type text, "
            "p_size integer, p_retailprice double precision",
    "orders": "o_orderkey bigserial PRIMARY KEY, "
              "o_custkey bigint REFERENCES src.customer(c_custkey), "
              "o_orderstatus text, o_totalprice double precision, "
              "o_orderdate timestamp, o_orderpriority text",
    "lineitem": "l_orderkey bigint REFERENCES src.orders(o_orderkey), "
                "l_partkey bigint REFERENCES src.part(p_partkey), "
                "l_suppkey bigint REFERENCES src.supplier(s_suppkey), "
                "l_linenumber integer, l_quantity double precision, "
                "l_extendedprice double precision, l_discount double precision, "
                "l_tax double precision, l_returnflag text, l_linestatus text, "
                "l_shipdate timestamp",
}
_PG_SERIAL = {"customer": "c_custkey", "supplier": "s_suppkey",
              "part": "p_partkey", "orders": "o_orderkey"}


class PgMigrateWorkload(Workload):
    """One op = one swap-mode ``PgTransferPipeline`` run, schema ``src``
    to schema ``tgt`` on a throwaway local server."""

    ops = ["pg_transfer_pipeline"]
    pipeline = True

    def __init__(self, name, sf):
        self.name = name
        self.sf = sf
        self.pg = None

    def environment(self, work: str) -> None:
        from postgresql_transfer_tool_spark.sources.pgcopy import PgServer

        from .pgserver import LocalPg

        self.sf_dir = fixture.ensure(FIXTURE_ROOT, f"{self.name}-sf{self.sf}", self.sf, 500, 500)
        self.csv_dir = os.path.join(work, "pgcsv")
        os.makedirs(self.csv_dir, exist_ok=True)
        self.pg = LocalPg(work)
        self.pg.start()
        self.server = PgServer(host=self.pg.base, port=self.pg.port)
        self._write_csvs()

    def _write_csvs(self) -> None:
        import pyarrow.csv as pacsv
        import pyarrow.parquet as pq

        self.source_rows, self.sequences, self.csvs = {}, {}, {}
        for t in _PG_DDL:
            table = pq.read_table(os.path.join(self.sf_dir, f"{t}.parquet"))
            self.csvs[t] = os.path.join(self.csv_dir, f"src-{t}.csv")
            pacsv.write_csv(table, self.csvs[t], pacsv.WriteOptions(include_header=False))
            self.source_rows[t] = table.num_rows
            if t in _PG_SERIAL:
                self.sequences[t] = int(max(table.column(_PG_SERIAL[t]).to_pylist())) + 1

    def prepare(self) -> None:
        """Load the seven TPC-H tables into a fresh ``src`` schema (one
        psql session: DDL, a client-side COPY per table, ANALYZE)."""
        script = ["DROP SCHEMA IF EXISTS src CASCADE;", "DROP SCHEMA IF EXISTS tgt CASCADE;",
                  "CREATE SCHEMA src;"]
        for t, ddl in _PG_DDL.items():
            script.append(f"CREATE TABLE src.{t} ({ddl});")
            script.append(f"\\copy src.{t} FROM '{self.csvs[t]}' WITH (FORMAT csv)")
        script.append("ANALYZE;")
        p = subprocess.run([*self.server.psql_base()], input="\n".join(script) + "\n",
                           capture_output=True, text=True, cwd="/")
        if p.returncode != 0:
            raise RuntimeError(f"loading schema src failed: {p.stderr}")

    def run(self, spark, op: str, tr: Tracer | None, probe=None) -> Outcome:
        from postgresql_transfer_tool_spark.pg_transfer import PgTransferPipeline

        pipe = PgTransferPipeline(spark, self.server, "src", self.server, "tgt", mode="swap")
        if tr is None:
            return Outcome(0, pipe.run())
        return Outcome(0, probe.phase("run", lambda: tr.call("transfer", "run", pipe.run)))

    def check(self, op: str, out: Outcome) -> str | None:
        from postgresql_transfer_tool_spark.sources.pgcopy import run_sql

        report = out.payload
        if not report.ok:
            bad = {t: (r.status, r.error) for t, r in report.results.items() if r.status != "copied"}
            return f"report not ok: {bad}"
        counts = " UNION ALL ".join(
            f"SELECT '{t}', count(*) FROM tgt.{t}" for t in self.source_rows)
        got = {t: int(n) for t, n in run_sql(self.server, counts)}
        if got != self.source_rows:
            return f"tgt row counts {got} != {self.source_rows}"
        for t, want in self.sequences.items():
            col = _PG_SERIAL[t]
            [(seq,)] = run_sql(self.server, f"SELECT pg_get_serial_sequence('tgt.{t}', '{col}')")
            [(last, called)] = run_sql(self.server, f"SELECT last_value, is_called FROM {seq}")
            nxt = int(last) + (1 if called == "t" else 0)
            if nxt != want:
                return f"tgt.{t} sequence hands out {nxt}, expected {want}"
        out.rows = sum(self.source_rows.values())
        return None

    def close(self) -> None:
        if self.pg is not None:
            self.pg.stop()
            self.pg = None
