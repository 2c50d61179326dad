"""Output checks: the engine's tables against DuckDB over the landed inputs.

Every check returns (name, ok, detail).  The expected side is computed by
DuckDB (or NumPy, for cosine top-k) from the Arrow tables the generator
landed, never from the engine's own output.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from projects import GOLD, KNN_K, KNN_QUERIES, ORDERS_DLQ


def _diff(con, got: str, want: str) -> int:
    """Rows in one relation and not the other, as multisets."""
    return con.execute(
        f"SELECT count(*) FROM (({got} EXCEPT ALL {want}) UNION ALL ({want} EXCEPT ALL {got}))"
    ).fetchone()[0]


def _inputs(con, landing) -> None:
    con.register("orders_all", pa.concat_tables(landing.landed["orders"]))
    con.register("changes", pa.concat_tables(landing.landed["customers"]))
    con.register("nation", landing.ref["nation"])
    con.execute(
        "CREATE OR REPLACE TEMP VIEW clean AS SELECT * FROM orders_all "
        "WHERE o_totalprice_cents > 0 AND o_custkey IS NOT NULL"
    )
    con.execute(
        "CREATE OR REPLACE TEMP VIEW cur AS SELECT c_custkey, "
        "arg_max(c_nationkey, seq) AS c_nationkey, arg_max(c_acctbal_cents, seq) AS c_acctbal_cents, "
        "arg_max(c_mktsegment, seq) AS c_mktsegment FROM changes GROUP BY c_custkey"
    )


def check_medallion(store, landing, full: bool) -> list[tuple[str, bool, str]]:
    """Silver, DLQ, SCD2 and gold tables (plus the refresh-only lineitem,
    curation and bronze tables when `full`) against DuckDB."""
    con = duckdb.connect()
    _inputs(con, landing)
    out: list[tuple[str, bool, str]] = []

    def got(name: str, alias: str) -> None:
        df = store.read(name)
        if "__tombstone" in df.columns:
            # CDC targets keep their event log as hidden tombstone rows;
            # readers see only the rows with the flag off
            df = df.filter(~df["__tombstone"])
        con.register(alias, df.toArrow())

    def diff(name: str, got_sql: str, want_sql: str) -> None:
        n = _diff(con, got_sql, want_sql)
        out.append((name, n == 0, f"{n} differing rows"))

    got("main.silver.orders", "g_orders")
    diff("silver.orders", "SELECT o_orderkey, o_custkey, o_totalprice_cents FROM g_orders",
         "SELECT o_orderkey, o_custkey, o_totalprice_cents FROM clean")
    got(ORDERS_DLQ, "g_dlq")
    n_dlq, n_bad = con.execute(
        "SELECT (SELECT count(*) FROM g_dlq), (SELECT count(*) FROM orders_all) - (SELECT count(*) FROM clean)"
    ).fetchone()
    out.append(("dlq.orders", n_dlq == n_bad, f"{n_dlq} DLQ rows, {n_bad} rule failures landed"))

    got("main.silver.customers", "g_cust")
    diff("silver.customers.current",
         "SELECT c_custkey, c_nationkey, c_acctbal_cents, c_mktsegment FROM g_cust WHERE __end_at IS NULL",
         "SELECT * FROM cur")
    n_ver, n_ev = con.execute(
        "SELECT (SELECT count(*) FROM g_cust), (SELECT count(*) FROM changes)").fetchone()
    out.append(("silver.customers.versions", n_ver == n_ev, f"{n_ver} versions, {n_ev} change events"))

    want_gold = {
        "revenue_by_nation": GOLD["revenue_by_nation"]
        .replace("main.silver.orders", "clean")
        .replace("(SELECT * FROM main.silver.customers WHERE __end_at IS NULL)", "cur"),
        "order_status": GOLD["order_status"].replace("main.silver.orders", "clean"),
    }
    for name, sql in want_gold.items():
        got(f"main.gold.{name}", f"g_{name}")
        diff(f"gold.{name}", f"SELECT * FROM g_{name}", sql)
    if not full:
        return out

    got("main.bronze.orders", "g_bronze")
    diff("bronze.orders", "SELECT o_orderkey FROM g_bronze", "SELECT o_orderkey FROM orders_all")
    con.register("lineitem", pa.concat_tables(landing.landed["lineitem"]))
    got("main.gold.pricing_summary", "g_pricing")
    diff("gold.pricing_summary", "SELECT * FROM g_pricing",
         GOLD["pricing_summary"].replace("main.bronze.lineitem", "lineitem"))

    docs = pa.concat_tables(landing.landed["docs"])
    con.register("docs", docs)
    got("main.curation.docs_unique", "g_unique")
    diff("curation.docs_unique", "SELECT doc_id, dup_count FROM g_unique",
         "SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM docs GROUP BY text")
    out.append(_check_knn(con, docs, store.read("main.curation.doc_neighbors").toArrow()))
    return out


def _check_knn(con, docs: pa.Table, got: pa.Table) -> tuple[str, bool, str]:
    """Per query, the k best cosines among the surviving documents (self
    excluded) must match NumPy's to 1e-5; ids are not compared, because a
    tie at the k-th place may legitimately resolve either way."""
    keep = {r[0] for r in con.execute("SELECT min(doc_id) FROM docs GROUP BY text").fetchall()}
    ids = np.array(docs.column("doc_id").to_pylist())
    mask = np.isin(ids, list(keep))
    ids = ids[mask]
    vecs = np.array(docs.column("embedding").to_pylist(), dtype=np.float64)[mask]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = got.to_pylist()
    bad = []
    for q in KNN_QUERIES:
        if q not in keep:
            continue
        sims = vecs @ vecs[ids == q][0]
        want = np.sort(sims[ids != q])[::-1][:KNN_K]
        have = np.sort([r["cosine"] for r in rows if r["query_id"] == q])[::-1]
        if len(have) != len(want) or not np.allclose(have, want, atol=1e-5):
            bad.append(q)
    return ("curation.doc_neighbors", not bad, f"queries off: {bad}")
