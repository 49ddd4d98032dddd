"""Seeded inputs and their cached oracles.

``data/documents_x4.parquet`` holds ``REPLICAS`` replicas of the engine's
``sf0.1`` documents table, derived by ``tools/make_scaled_data.py``'s
``scale_table`` (replica 0 is the original; the others keep a
hash-chosen half of each text's words); ``make_data.py`` regenerates it.
The seed picks the corpus as the first ``n_docs / REPLICAS`` rows of each
replica in ``md5(doc_id:seed)`` order. The same seed gives the same rows.

Inputs are written once per (seed, size) by DuckDB, with no JVM; the
oracle results are computed once per (seed, size) by DuckDB from the
engine's own ``__spark_entry__.oracle_sql()`` and cached beside them.
Neither is timed.
"""

from __future__ import annotations

import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "documents_x4.parquet")
REPLICAS = 4


def corpus_dir(work: str, seed: int, n_docs: int) -> str:
    return os.path.join(work, "inputs", f"seed{seed}-docs{n_docs}")


def ensure_corpus(d: str, seed: int, n_docs: int) -> None:
    """The same number of documents from every replica, so corpus size
    varies little between seeds; written as a Spark-style parquet
    directory."""
    docs = os.path.join(d, "documents.parquet")
    if os.path.exists(os.path.join(docs, "_SUCCESS")):
        return
    import duckdb

    from make_scaled_data import OFFSET

    os.makedirs(docs, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"""
            copy (
                select * exclude (_rank) from (
                    select *, row_number() over (
                        partition by doc_id // {OFFSET}
                        order by md5(doc_id::varchar || ':' || {int(seed)})
                    ) as _rank
                    from read_parquet({_quote(BASE)})
                )
                where _rank <= {n_docs // REPLICAS}
                order by doc_id
            ) to {_quote(os.path.join(docs, "part-0.parquet"))} (format parquet)
        """)
    finally:
        con.close()
    open(os.path.join(docs, "_SUCCESS"), "w").close()


def ensure_oracles(d: str, names: list[str]) -> dict:
    """Oracle parquet per name plus ``sizes.json`` (docs, text bytes and
    oracle row counts), computed on first use."""
    meta = os.path.join(d, "sizes.json")
    sizes = {}
    if os.path.exists(meta):
        with open(meta, encoding="utf-8") as f:
            sizes = json.load(f)
    missing = [n for n in names if n not in sizes.get("oracle_rows", {})]
    if not missing:
        return sizes

    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        glob_ = _quote(os.path.join(d, "documents.parquet", "*.parquet"))
        con.execute(f"create view documents as select * from read_parquet({glob_})")
        docs, text_bytes = con.execute(
            "select count(*), sum(strlen(text)) from documents"
        ).fetchone()
        rows = sizes.get("oracle_rows", {})
        for name in missing:
            out = os.path.join(d, f"oracle_{name}.parquet")
            con.execute(f"copy ({sql[name]}) to {_quote(out)} (format parquet)")
            rows[name] = con.execute(
                f"select count(*) from read_parquet({_quote(out)})"
            ).fetchone()[0]
    finally:
        con.close()
    sizes = {"docs": docs, "text_bytes": int(text_bytes), "oracle_rows": rows}
    with open(meta, "w", encoding="utf-8") as f:
        json.dump(sizes, f)
    return sizes


def read_oracle(d: str, name: str):
    import duckdb

    con = duckdb.connect()
    try:
        path = _quote(os.path.join(d, f"oracle_{name}.parquet"))
        return con.execute(f"select * from read_parquet({path})").df()
    finally:
        con.close()


def _quote(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"
