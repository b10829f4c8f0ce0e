"""Seeded input generators: parquet tables and per-workload op lists.

Everything here is a pure function of the seed (numpy ``default_rng``), so
one seed always yields byte-identical tables and the same op list. The
engine only ever sees what these functions produce: parquet files handed to
``Catalog.register_dir`` and the SQL strings / registry names in the ops.
No Spark import here, so the generator can be tested without a JVM.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Table sizes at scale factor 1 (the repository's TPC-H-style fixtures
#: scale the same way: sf0.01 has 1.5k customers and 15k orders, each order
#: with 1-7 lineitems).
_SF1_ROWS = {"customer": 150_000, "orders": 1_500_000}

#: write_mix runs at sf0.01 (15,000 orders); the doc_pipeline corpus is
#: the sf0.01 fixture size (500 documents, 500 embeddings).
SQL_SF = 0.01
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]
_EPOCH = dt.date(1992, 1, 1)
_N_DAYS = 7 * 365

#: Word list of the document corpus. "spark" and "shuffle" are the BM25
#: registry operator's query terms, so every corpus has hits for them.
_VOCAB = (
    "a the key agg row scan slow fast table value part hash line merge batch "
    "spark shuffle sort window data column join small customer query order "
    "stream group filter big vector index cache plan task stage node disk "
    "memory page file block record"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def write_sql_tables(out_dir: str, seed: int) -> dict[str, int]:
    """TPC-H-style customer/orders/lineitem parquet at ``SQL_SF``.

    Column names and types follow the repository's fixtures so the same
    SQL runs on either. Returns the row count of each table written."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(_SF1_ROWS["customer"] * SQL_SF)
    n_ord = int(_SF1_ROWS["orders"] * SQL_SF)

    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    order_days = rng.integers(0, _N_DAYS, n_ord)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(_STATUSES)[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(order_days),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lines_per_order = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord), lines_per_order)
    n_li = len(l_orderkey)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_linenumber = np.arange(n_li) - np.repeat(starts, lines_per_order) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * SQL_SF)), n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * SQL_SF)), n_li), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_li)),
        }
    )
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem}
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_doc_tables(out_dir: str, seed: int) -> dict[str, int]:
    """``documents`` and ``embeddings`` parquet in the fixtures' schema."""
    n_docs, n_vecs = N_DOCS, N_VECS
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_VOCAB)
    # lengths, sources, languages and labels come in fixed proportions with
    # seeded positions, so the amount of work does not move with the seed
    lengths = rng.permutation(np.resize(np.arange(8, 100), n_docs))
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(n))]) for n in lengths]
    lang_counts = np.floor(np.array(_LANG_P) * n_docs).astype(int)
    lang_counts[0] += n_docs - lang_counts.sum()
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.permutation(np.repeat(np.array(_LANGS), lang_counts)),
            "source": [f"src{i}" for i in rng.permutation(np.arange(n_docs) % 20)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.permutation(np.arange(n_vecs) % 10), pa.int32()),
        }
    )
    _write(documents, os.path.join(out_dir, "documents.parquet"))
    _write(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}


@dataclass(frozen=True)
class Op:
    """One statement (or registry operator pass) the client sends.

    ``kind`` is the op class the latency is reported under (a template name
    for reads, ``insert``/``update``/``delete``/``merge`` for writes, the
    registry name in doc_pipeline). ``ref`` is the DuckDB SQL a read is
    checked against; ``write`` is the structured form of a write, which the
    write_mix check replays without the engine."""

    kind: str
    sql: str
    dialect: str = "postgres"
    ref: str = ""
    write: dict = field(default_factory=dict, hash=False)


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """Zipf-ranked keys: rank r is drawn with P ~ r^-1.3 (capped at
    ``n_keys``) and mapped through a seeded permutation, so a few keys are
    hot and a share of statements repeat exactly."""
    perm = rng.permutation(n_keys)
    ranks = np.minimum(rng.zipf(1.3, size), n_keys) - 1
    return perm[ranks]


WM_TABLE = "wm_orders"
WM_COLUMNS = [
    ("o_orderkey", "BIGINT"),
    ("o_custkey", "BIGINT"),
    ("o_orderstatus", "STRING"),
    ("o_totalprice", "DOUBLE"),
    ("o_orderdate", "DATE"),
    ("o_orderpriority", "STRING"),
]
#: Fixed logical row width in bytes for write amplification: 8 per
#: BIGINT/DOUBLE, 4 per DATE, strings at their widest value (1-char status,
#: 15-char priority).
WM_ROW_BYTES = 8 + 8 + 1 + 8 + 4 + 15

#: Rows per INSERT and per MERGE (half of them existing keys); fixed, so
#: the seed moves keys and values but not the amount of work.
WM_INSERT_ROWS = 10
WM_MERGE_ROWS = 8

WM_CREATE = f"CREATE TABLE {WM_TABLE} (" + ", ".join(f"{c} {t}" for c, t in WM_COLUMNS) + ")"
WM_LOAD = (
    f"INSERT INTO {WM_TABLE} SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    f"CAST(o_orderdate AS DATE), o_orderpriority FROM orders"
)

#: The read statements: (kind, dialect, engine SQL, DuckDB SQL or None when
#: DuckDB runs the engine SQL unchanged). One per dialect arm that
#: ``normalize_dialect`` rewrites, plus point reads, a tiny aggregate, a
#: top-n and a point join. ``{t}`` is the managed table; ``{o}``/``{c}``
#: are Zipf-drawn order/customer keys and ``{d}``..``{d2}`` a 7-day range.
READS = [
    ("pg_cast", "postgres",
     "SELECT o_orderkey, o_custkey, o_totalprice::DECIMAL(12,2) AS price, o_orderstatus "
     "FROM {t} WHERE o_orderkey = {o}", None),
    ("pg_quoted", "postgres",
     'SELECT "c_custkey", "c_name", "c_acctbal" FROM customer WHERE "c_custkey" = {c}',
     "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = {c}"),
    ("mssql_top", "mssql",
     "SELECT TOP 5 [o_orderkey], [o_totalprice] FROM {t} WHERE [o_custkey] = {c} "
     "ORDER BY [o_totalprice] DESC, [o_orderkey]",
     "SELECT o_orderkey, o_totalprice FROM {t} WHERE o_custkey = {c} "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"),
    ("mysql_group_concat", "mysql",
     "SELECT o_custkey, GROUP_CONCAT(o_orderkey ORDER BY o_orderkey SEPARATOR ',') AS order_keys, "
     "count(*) AS n FROM {t} WHERE o_custkey = {c} GROUP BY o_custkey",
     "SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys, "
     "count(*) AS n FROM {t} WHERE o_custkey = {c} GROUP BY o_custkey"),
    ("duckdb_exclude", "duckdb",
     "SELECT * EXCLUDE (o_orderdate, o_orderpriority) FROM {t} WHERE o_orderkey = {o}", None),
    ("duckdb_qualify", "duckdb",
     "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
     "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
     "FROM {t} WHERE o_custkey BETWEEN {c} AND {c4} QUALIFY rn <= 2", None),
    ("snowflake_iff", "snowflake",
     "SELECT c_custkey, IFF(c_acctbal >= 0, 'credit', 'debit') AS side, c_mktsegment "
     "FROM customer WHERE c_custkey = {c}",
     "SELECT c_custkey, CASE WHEN c_acctbal >= 0 THEN 'credit' ELSE 'debit' END AS side, "
     "c_mktsegment FROM customer WHERE c_custkey = {c}"),
    ("lineitem_agg", "postgres",
     "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price "
     "FROM lineitem WHERE l_orderkey = {o} GROUP BY l_returnflag", None),
    ("topn_by_date", "postgres",
     "SELECT o_orderkey, o_totalprice FROM {t} WHERE o_orderdate BETWEEN DATE '{d}' AND DATE '{d2}' "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10", None),
    ("customer_orders", "postgres",
     "SELECT c.c_name, count(*) AS n, sum(o.o_totalprice) AS total FROM customer c "
     "JOIN {t} o ON o.o_custkey = c.c_custkey WHERE c.c_custkey = {c} GROUP BY c.c_name", None),
]
READ_DIALECTS = sorted({r[1] for r in READS})
WRITE_KINDS = ("insert", "update", "delete", "merge")

#: One cycle of the write_mix client: every read once, in this order, with
#: one write of each kind between them. The client runs whole cycles, so
#: every window holds the same mix of statement kinds.
WM_CYCLE = [
    "read", "read", "insert", "read", "read", "read", "update",
    "read", "read", "delete", "read", "read", "read", "merge",
]
assert WM_CYCLE.count("read") == len(READS)


def _row_literal(r: dict) -> str:
    return (
        f"({r['o_orderkey']}, {r['o_custkey']}, '{r['o_orderstatus']}', {r['o_totalprice']!r}, "
        f"DATE '{r['o_orderdate']}', '{r['o_orderpriority']}')"
    )


def write_mix_ops(seed: int, n: int) -> list[Op]:
    """``n`` write_mix statements following ``WM_CYCLE``.

    Read keys are Zipf-skewed, so some statements repeat exactly. Each
    write also carries its structured form (``Op.write``) so the run can be
    replayed without the engine. New keys for INSERT/MERGE start above the
    loaded key range; UPDATE/DELETE/MERGE targets are keys that are live at
    that point of the sequence."""
    rng = np.random.default_rng([seed, 4])
    n_ord = int(_SF1_ROWS["orders"] * SQL_SF)
    n_cust = int(_SF1_ROWS["customer"] * SQL_SF)
    okeys = _zipf_keys(rng, n_ord, n)
    ckeys = _zipf_keys(rng, n_cust, n)
    live = list(range(n_ord))
    next_key = n_ord
    n_read = 0
    out: list[Op] = []

    def new_row(key: int) -> dict:
        return {
            "o_orderkey": key,
            "o_custkey": int(rng.integers(0, n_cust)),
            "o_orderstatus": _STATUSES[int(rng.integers(0, 3))],
            "o_totalprice": round(float(rng.uniform(900.0, 500_000.0)), 2),
            "o_orderdate": (_EPOCH + dt.timedelta(days=int(rng.integers(0, _N_DAYS)))).isoformat(),
            "o_orderpriority": _PRIORITIES[int(rng.integers(0, 5))],
        }

    def pick_live() -> int:
        return live[int(rng.integers(0, len(live)))]

    for i in range(n):
        kind = WM_CYCLE[i % len(WM_CYCLE)]
        if kind == "read":
            name, dialect, sql, ref = READS[n_read % len(READS)]
            n_read += 1
            d = _EPOCH + dt.timedelta(days=int(rng.integers(0, _N_DAYS - 7)))
            c = int(ckeys[i])
            args = dict(t=WM_TABLE, o=int(okeys[i]), c=c, c4=c + 4, d=d, d2=d + dt.timedelta(days=6))
            out.append(Op(name, sql.format(**args), dialect, (ref or sql).format(**args)))
        elif kind == "insert":
            rows = [new_row(next_key + j) for j in range(WM_INSERT_ROWS)]
            next_key += len(rows)
            live.extend(r["o_orderkey"] for r in rows)
            sql = f"INSERT INTO {WM_TABLE} VALUES " + ", ".join(_row_literal(r) for r in rows)
            out.append(Op("insert", sql, write={"kind": "insert", "rows": rows}))
        elif kind == "update":
            k = pick_live()
            delta = round(float(rng.uniform(1.0, 100.0)), 2)
            prio = _PRIORITIES[int(rng.integers(0, 5))]
            sql = (
                f"UPDATE {WM_TABLE} SET o_totalprice = o_totalprice + {delta!r}, "
                f"o_orderpriority = '{prio}' WHERE o_orderkey = {k}"
            )
            out.append(Op("update", sql, write={"kind": "update", "key": k, "delta": delta, "priority": prio}))
        elif kind == "delete":
            k = pick_live()
            live.remove(k)
            sql = f"DELETE FROM {WM_TABLE} WHERE o_orderkey = {k}"
            out.append(Op("delete", sql, write={"kind": "delete", "key": k}))
        else:  # merge: upsert half existing keys, half new ones
            picked: set[int] = set()
            while len(picked) < WM_MERGE_ROWS // 2:
                picked.add(pick_live())
            keys = sorted(picked)
            fresh = list(range(next_key, next_key + WM_MERGE_ROWS - len(keys)))
            next_key += len(fresh)
            live.extend(fresh)
            rows = [new_row(k) for k in keys + fresh]
            cols = ", ".join(c for c, _ in WM_COLUMNS)
            casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in WM_COLUMNS)
            sets = ", ".join(f"{c} = s.{c}" for c, _ in WM_COLUMNS[1:])
            sql = (
                f"MERGE INTO {WM_TABLE} USING (SELECT {casts} FROM VALUES "
                + ", ".join(_row_literal(r) for r in rows)
                + f" AS v({cols})) s ON {WM_TABLE}.o_orderkey = s.o_orderkey "
                f"WHEN MATCHED THEN UPDATE SET {sets} WHEN NOT MATCHED THEN INSERT"
            )
            out.append(Op("merge", sql, write={"kind": "merge", "rows": rows}))
    return out


# -- doc_pipeline ------------------------------------------------------------

#: Oracle-checked extension operators, one or more per measured ``ext``
#: module (dedup, text, similarity, pipeline), in the fixed order the client
#: cycles through them (the seed varies the corpus, not the order, so every
#: window samples the same operator mix). The registry's slower
#: oracle-checked operators on these modules (q_minhash_portable, q_bm25)
#: are left out to keep a run within its time budget.
DOC_OPS = [
    "q_dedup_ngram",
    "q_tfidf",
    "q_sim_topk",
    "q_pipeline_e2e",
    "q_knn_join",
]


def doc_pipeline_ops(seed: int, n: int) -> list[Op]:
    """``n`` registry operator passes cycling through ``DOC_OPS``."""
    del seed  # the corpus carries the seed; see write_doc_tables
    return [Op(DOC_OPS[i % len(DOC_OPS)], DOC_OPS[i % len(DOC_OPS)], dialect="") for i in range(n)]


def op_list(workload: str, seed: int, n: int) -> list[Op]:
    """The first ``n`` ops of ``workload`` for ``seed``."""
    if workload == "write_mix":
        return write_mix_ops(seed, n)
    if workload == "doc_pipeline":
        return doc_pipeline_ops(seed, n)
    raise ValueError(f"unknown workload {workload!r}")
