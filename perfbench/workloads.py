"""The two workloads: set-up, one op, and the result checks.

Each workload drives the engine only through its public entry points:
``ExecutionContext.execute`` for SQL, the ``__spark_entry__`` registry for
the extension operators, and ``Catalog.register_dir`` (via the context) for
set-up. Checks run after the timed window against references computed
without the engine.
"""

from __future__ import annotations

import os
import time
import traceback

import duckdb

from perfbench import gen
from perfbench.check import Tally, diff


class Workload:
    """Base: ``setup`` registers tables, ``run`` executes one op and
    returns ``(result, t_ready)`` where ``t_ready`` is when the lazy frame
    was built (the rest of the op is Spark executing and draining it)."""

    name = ""
    #: ops per cycle of the op mix; the untimed warm-up runs
    #: ``warmup_cycles`` cycles and the timed window whole cycles, as many
    #: as fit the requested seconds at the nominal ``cycle_s``
    cycle = 0
    warmup_cycles = 1
    cycle_s = 1.0

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed

    def generate(self) -> dict[str, int]:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, op: gen.Op):
        raise NotImplementedError

    def after_op(self, op: gen.Op, timed: bool) -> None:
        """Bookkeeping outside the op's latency (write_mix walks the table)."""

    def check(self, executed: list, tally: Tally) -> None:
        """Record every executed op in ``tally``; ``executed`` holds
        ``(index, op, result, error)`` in execution order."""
        raise NotImplementedError

    def extra(self) -> dict[str, float]:
        """Workload-specific end-of-run figures (write_mix amplification)."""
        return {}


def _duck_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


class WriteMix(Workload):
    """A managed table built by CREATE TABLE + INSERT … SELECT, then whole
    cycles of short reads across the dialect arms and INSERT/UPDATE/DELETE/
    MERGE on that table, all through ``ExecutionContext.execute``."""

    name = "write_mix"
    cycle = len(gen.WM_CYCLE)
    cycle_s = 7.0
    TABLES = ("customer", "orders", "lineitem")

    def generate(self):
        return gen.write_sql_tables(self.data_dir, self.seed)

    def setup(self):
        from mesin_spark import ExecutionContext

        # one context per dialect over one session: temp views (and the
        # managed table's view) are session-wide, so one registration serves all
        self.ctxs = {d: ExecutionContext(dialect=d, spark=self.spark) for d in gen.READ_DIALECTS}
        self.ctx = self.ctxs["postgres"]
        self.ctx.register_dir(self.data_dir, tables=self.TABLES)
        self.ctx.execute(gen.WM_CREATE).collect()
        self.ctx.execute(gen.WM_LOAD).collect()
        self.table_dir = self.ctx.catalog.tables[gen.WM_TABLE].path
        self._seen = set(self._walk())
        self.bytes_written = 0
        self.files_written = 0
        self.logical_bytes = 0
        self.timed_writes = 0

    def _walk(self) -> dict[tuple, int]:
        """Files under the table directory keyed by (inode, mtime, size),
        so hard links to an existing file are not new bytes."""
        out = {}
        for root, _dirs, files in os.walk(self.table_dir):
            for f in files:
                try:
                    st = os.stat(os.path.join(root, f))
                except FileNotFoundError:
                    continue
                out[(st.st_ino, st.st_mtime_ns, st.st_size)] = st.st_size
        return out

    def run(self, op):
        df = self.ctxs[op.dialect].execute(op.sql)
        t_ready = time.perf_counter()
        return df.collect(), t_ready

    def after_op(self, op, timed):
        if op.kind not in gen.WRITE_KINDS:
            return
        now = self._walk()
        new = {k: v for k, v in now.items() if k not in self._seen}
        self._seen.update(now)
        if timed:
            self.bytes_written += sum(new.values())
            self.files_written += len(new)
            self.timed_writes += 1
            rows = len(op.write["rows"]) if "rows" in op.write else 1
            self.logical_bytes += rows * gen.WM_ROW_BYTES

    def check(self, executed, tally):
        """Replay the same statement sequence in DuckDB from the same
        parquet: every read is compared with DuckDB's answer at that point,
        every write's reported row count with the replay's, and the final
        table with the replayed one."""
        con = _duck_views(self.data_dir, ("customer", "lineitem"))
        orders = os.path.join(self.data_dir, "orders.parquet")
        con.execute(
            f"CREATE TABLE {gen.WM_TABLE} AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority FROM read_parquet('{orders}')"
        )
        t = gen.WM_TABLE
        for i, op, result, error in executed:
            label = f"op {i} {op.kind}"
            w = op.write
            if op.kind not in gen.WRITE_KINDS:
                want = con.execute(op.ref).fetchall()
            elif op.kind == "insert":
                con.executemany(f"INSERT INTO {t} VALUES (?, ?, ?, ?, ?, ?)", [list(r.values()) for r in w["rows"]])
                want = [("INSERT", t, len(w["rows"]))]
            elif op.kind == "update":
                n = con.execute(f"SELECT count(*) FROM {t} WHERE o_orderkey = ?", [w["key"]]).fetchone()[0]
                con.execute(
                    f"UPDATE {t} SET o_totalprice = o_totalprice + ?, o_orderpriority = ? WHERE o_orderkey = ?",
                    [w["delta"], w["priority"], w["key"]],
                )
                want = [("UPDATE", t, n)]
            elif op.kind == "delete":
                n = con.execute(f"SELECT count(*) FROM {t} WHERE o_orderkey = ?", [w["key"]]).fetchone()[0]
                con.execute(f"DELETE FROM {t} WHERE o_orderkey = ?", [w["key"]])
                want = [("DELETE", t, n)]
            else:
                keys = [r["o_orderkey"] for r in w["rows"]]
                con.execute(f"DELETE FROM {t} WHERE o_orderkey IN ({', '.join('?' * len(keys))})", keys)
                con.executemany(f"INSERT INTO {t} VALUES (?, ?, ?, ?, ?, ?)", [list(r.values()) for r in w["rows"]])
                want = [("MERGE", t, len(w["rows"]))]
            if error is not None:
                tally.record(label, error=error)
            else:
                tally.record(label, mismatch=diff(result, want))
        final = self.ctx.execute(f"SELECT * FROM {t}").collect()
        tally.record("final table", mismatch=diff(final, con.execute(f"SELECT * FROM {t}").fetchall()))
        self._space(con)
        con.close()

    def _space(self, con) -> None:
        """Table-directory bytes now, and the bytes of the same live rows
        written once as a fresh parquet file (pyarrow defaults)."""
        import pyarrow.parquet as pq

        self.dir_bytes = sum(self._walk().values())
        fresh = os.path.join(self.data_dir, "fresh_copy.parquet")
        pq.write_table(con.execute(f"SELECT * FROM {gen.WM_TABLE} ORDER BY o_orderkey").arrow(), fresh)
        self.fresh_bytes = os.path.getsize(fresh)
        self.files_live = sum(
            1 for _r, _d, files in os.walk(self.table_dir) for f in files if f.endswith(".parquet")
        )

    def extra(self):
        return {
            "write_amp": self.bytes_written / self.logical_bytes if self.logical_bytes else 0.0,
            "space_amp": self.dir_bytes / self.fresh_bytes,
            "dml.files_live": float(self.files_live),
            "dml.bytes_written": self.bytes_written / self.timed_writes,
            "dml.files_written": self.files_written / self.timed_writes,
        }


class DocPipeline(Workload):
    """The oracle-checked extension operators, called through the
    ``__spark_entry__`` registry and drained to the driver as pandas."""

    name = "doc_pipeline"
    cycle = len(gen.DOC_OPS)
    cycle_s = 5.0
    TABLES = ("documents", "embeddings")

    def generate(self):
        return gen.write_doc_tables(self.data_dir, self.seed)

    def setup(self):
        import __spark_entry__ as entry
        from mesin_spark import ExecutionContext

        self.ctx = ExecutionContext(spark=self.spark)
        self.ctx.register_dir(self.data_dir, tables=self.TABLES)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.ops = {n: registry[n] for n in gen.DOC_OPS}
        con = _duck_views(self.data_dir, self.TABLES)
        # the oracle answers are computed before the timed window
        self.expected = {n: con.execute(oracles[n]).df() for n in gen.DOC_OPS}
        con.close()

    def run(self, op):
        df = self.ops[op.sql](self.spark, self.data_dir)
        t_ready = time.perf_counter()
        return df.toPandas(), t_ready

    def check(self, executed, tally):
        for i, op, result, error in executed:
            label = f"op {i} {op.kind}"
            if error is not None:
                tally.record(label, error=error)
                continue
            want = self.expected[op.sql]
            if sorted(result.columns) != sorted(want.columns):
                tally.record(label, mismatch=f"columns {sorted(result.columns)} != {sorted(want.columns)}")
                continue
            cols = sorted(want.columns)
            tally.record(
                label,
                mismatch=diff(result[cols].itertuples(index=False), want[cols].itertuples(index=False)),
            )


WORKLOADS = {w.name: w for w in (WriteMix, DocPipeline)}


def describe_error(e: BaseException) -> str:
    """One line for the run log: exception type, message head, and the
    innermost frame."""
    tb = traceback.extract_tb(e.__traceback__)
    where = f" at {tb[-1].filename}:{tb[-1].lineno}" if tb else ""
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}{where}"
